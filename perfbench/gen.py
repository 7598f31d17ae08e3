"""Seeded inputs for the three workloads.

Everything here is a pure function of (workload, seed): NeXus files
written with ``h5write`` together with the metadata spec each file was
written from, wrdn-shaped message backlogs, imsc schemas, catalog
dimension snapshots and a documents corpus with planted structure.  The
program under test only ever sees the files; the specs feed the
expectations in ``expect.py``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import string

import pyarrow as pa
import pyarrow.parquet as pq

import h5write as h5

INSTRUMENTS = ("alpha", "bravo", "coda")
BULK_ELEMENTS = 70_000  # above the reader's 65,536-element skip
EXTRA_FIELDS = {
    "alpha": ("source_power", "/entry/instrument/source/power", "MW"),
    "bravo": ("chopper_frequency", "/entry/instrument/chopper/frequency", "Hz"),
}
N_PROPOSALS = 40
N_KNOWN_PROPOSALS = 36  # the rest are missing from the catalog snapshot


def rng_for(*key) -> random.Random:
    return random.Random(":".join(str(k) for k in key))


def _word(rng: random.Random, lo: int = 4, hi: int = 9) -> str:
    return "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(lo, hi)))


# -- catalog, schemas ---------------------------------------------------------


def catalog(seed: int) -> dict:
    """Proposal and instrument records; only the first
    ``N_KNOWN_PROPOSALS`` proposals are in the snapshot."""
    rng = rng_for("catalog", seed)
    proposals = [
        {"proposalId": f"P{seed % 1000:03d}{i:03d}", "pi_lastname": _word(rng).capitalize(), "title": _word(rng)}
        for i in range(N_PROPOSALS)
    ]
    instruments = [{"name": name, "pid": f"instr/{name}/{rng.randrange(10**6):06d}"} for name in INSTRUMENTS]
    return {"proposals": proposals, "instruments": instruments}


def schema_doc(instrument: str, order: int) -> dict:
    variables = {
        "run_title": {"source": "NXS", "path": "/entry/title", "value_type": "string"},
        "proposal_id": {"source": "NXS", "path": "/entry/experiment_identifier", "value_type": "string"},
        "instrument_name": {"source": "NXS", "path": "/entry/instrument/name", "value_type": "string"},
        "pi_name": {"source": "SC", "url": "proposals/<proposal_id>", "field": "pi_lastname", "value_type": "string"},
        "instrument_pid": {
            "source": "SC",
            "url": 'instruments?filter={"where":{"name":"<instrument_name>"}}',
            "field": "pid",
            "value_type": "string",
        },
        "sample_name": {"source": "NXS", "path": "/entry/sample/name", "value_type": "string"},
        "temperature": {"source": "NXS", "path": "/entry/sample/temperature", "value_type": "float"},
        "detector_counts": {"source": "NXS", "path": "/entry/detector/*/counts", "value_type": "integer[]"},
        "total_counts": {"source": "VALUE", "value": "<detector_counts>", "operator": "sum", "value_type": "integer"},
        "user_names": {"source": "NXS", "path": "/entry/user_*/name", "value_type": "string[]"},
        "users": {"source": "VALUE", "value": "<user_names>", "operator": "join_with_space", "value_type": "string"},
        "dataset_name": {"source": "VALUE", "value": "<run_title> (PI: <pi_name>)", "value_type": "string"},
    }
    fields = {
        "datasetName": {"value": "<dataset_name>", "field_type": "high_level", "value_type": "string"},
        "proposalId": {"value": "<proposal_id>", "field_type": "high_level", "value_type": "string"},
        "principalInvestigator": {"value": "<pi_name>", "field_type": "high_level", "value_type": "string"},
        "instrumentId": {"value": "<instrument_pid>", "field_type": "high_level", "value_type": "string"},
        "sample_name": {"value": "<sample_name>", "field_type": "scientific_metadata", "value_type": "string"},
        "temperature": {"value": "<temperature>", "field_type": "scientific_metadata", "value_type": "float"},
        "total_counts": {"value": "<total_counts>", "field_type": "scientific_metadata", "value_type": "integer"},
        "users": {"value": "<users>", "field_type": "scientific_metadata", "value_type": "string"},
    }
    if instrument in EXTRA_FIELDS:
        name, path, _unit = EXTRA_FIELDS[instrument]
        variables[name] = {"source": "NXS", "path": path, "value_type": "float"}
        fields[name] = {"value": f"<{name}>", "field_type": "scientific_metadata", "value_type": "float"}
    selector = f"filename:contains:/nx_{instrument}/"
    if instrument == "bravo":
        selector = {"or": [selector, "filename:contains:/nx_bravo_b/"]}
    return {
        "id": f"perfbench-{instrument}",
        "name": instrument,
        "order": order,
        "selector": selector,
        "variables": variables,
        "schema": fields,
    }


def write_catalog_inputs(root: str, seed: int) -> None:
    """imsc schemas (JSON form) and the parquet dimension snapshots."""
    os.makedirs(f"{root}/schemas", exist_ok=True)
    for i, inst in enumerate(INSTRUMENTS):
        with open(f"{root}/schemas/{inst}.imsc.json", "w") as fh:
            json.dump(schema_doc(inst, 10 * (i + 1)), fh, indent=1)
    cat = catalog(seed)
    os.makedirs(f"{root}/snapshots", exist_ok=True)
    known = cat["proposals"][:N_KNOWN_PROPOSALS]
    pq.write_table(pa.Table.from_pylist(known), f"{root}/snapshots/proposals.parquet")
    pq.write_table(pa.Table.from_pylist(cat["instruments"]), f"{root}/snapshots/instruments.parquet")


# -- NeXus files --------------------------------------------------------------


def file_spec(rng: random.Random, path: str, instrument: str, seed: int, rich: bool) -> dict:
    cat_props = catalog(seed)["proposals"]
    prop = rng.choice(cat_props)
    n_users = rng.randint(1, 4 if rich else 2)
    users = sorted({_word(rng, 3, 7) for _ in range(n_users)})
    spec = {
        "path": path,
        "instrument": instrument,
        "title": f"run {rng.randrange(100000)} {_word(rng)}",
        "proposal_id": prop["proposalId"],
        "sample": f"{_word(rng)}-{rng.randrange(1000)}",
        "temperature": round(rng.uniform(4.0, 400.0), 2),
        "users": {u: f"{u.capitalize()} {_word(rng)}" for u in users},
        "counts": [rng.randrange(1, 100000) for _ in range(rng.randint(2, 8) if rich else 2)],
        "components": rng.randint(20, 30) if rich else 2,
        "bulk": rich,
    }
    if instrument in EXTRA_FIELDS:
        spec["extra"] = round(rng.uniform(0.5, 60.0), 2)
    return spec


def nexus_tree(spec: dict, bulk: list | None) -> h5.Group:
    inst_children = {"name": h5.Data(spec["instrument"])}
    for j in range(spec["components"]):
        inst_children[f"component_{j:02d}"] = h5.Group(
            {
                "name": h5.Data(f"comp-{j}"),
                "distance": h5.Data(round(0.25 * (j + 1), 2), {"units": "m"}),
            },
            {"NX_class": "NXaperture"},
        )
    if spec["instrument"] in EXTRA_FIELDS:
        _name, path, unit = EXTRA_FIELDS[spec["instrument"]]
        group, leaf = path.split("/")[3:5]
        inst_children[group] = h5.Group({leaf: h5.Data(spec["extra"], {"units": unit})})
    entry = {
        "title": h5.Data(spec["title"]),
        "experiment_identifier": h5.Data(spec["proposal_id"]),
        "start_time": h5.Data("2026-01-01T00:00:00Z"),
        "instrument": h5.Group(inst_children, {"NX_class": "NXinstrument"}),
        "sample": h5.Group(
            {
                "name": h5.Data(spec["sample"]),
                "temperature": h5.Data(spec["temperature"], {"units": "K"}),
            },
            {"NX_class": "NXsample"},
        ),
        "detector": h5.Group(
            {
                f"channel_{i}": h5.Group(
                    {"counts": h5.Data(c, {"units": "counts"}, dtype="i8")}, {"NX_class": "NXdata"}
                )
                for i, c in enumerate(spec["counts"])
            },
            {"NX_class": "NXdetector"},
        ),
    }
    for user, name in spec["users"].items():
        entry[f"user_{user}"] = h5.Group({"name": h5.Data(name)}, {"NX_class": "NXuser"})
    if bulk is not None:
        entry["data"] = h5.Group(
            {"events": h5.Data(bulk, {"units": "us"}, dtype="f4")}, {"NX_class": "NXdata"}
        )
    return h5.Group({"entry": h5.Group(entry, {"NX_class": "NXentry"})})


def flatten(group: h5.Group, prefix: str = "") -> dict[str, tuple[str, str]]:
    """HDF5 path -> (rendered value, units) of every dataset at or below
    the reader's element limit."""
    out = {}
    for name, child in group.children.items():
        path = f"{prefix}/{name}"
        if isinstance(child, h5.Group):
            out.update(flatten(child, path))
        elif not (isinstance(child.value, list) and len(child.value) > 65536):
            out[path] = (str(child.value), child.attrs.get("units", ""))
    return out


def self_check(specs: list[dict], n: int = 3) -> None:
    """Read the first files back and compare with the spec they were
    written from."""
    from scicat_ingestor_spark.sources import hdf5

    for spec in specs[:n]:
        want = flatten(nexus_tree(spec, None))
        got = {p: (v, u) for p, v, u in hdf5.read_rows(spec["path"])}
        if got != want:
            raise RuntimeError(f"{spec['path']} does not read back as written: {sorted(set(got.items()) ^ set(want.items()))[:3]}")


def write_files(root: str, tag: str, seed: int, n: int, rich: bool) -> list[dict]:
    """``n`` NeXus files under ``root/tag``, spread over the instruments;
    returns their specs in file order."""
    rng = rng_for("files", tag, seed)
    bulk = [float(i % 977) for i in range(BULK_ELEMENTS)] if rich else None
    specs = []
    for i in range(n):
        inst = INSTRUMENTS[i % len(INSTRUMENTS)]
        sub = f"nx_{inst}" if not (inst == "bravo" and i % 2) else "nx_bravo_b"
        d = os.path.join(root, tag, sub)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{tag}_{i:05d}.nxs")
        spec = file_spec(rng, path, inst, seed, rich)
        h5.write(path, nexus_tree(spec, bulk if spec["bulk"] else None))
        specs.append(spec)
    self_check(specs)
    return specs


# -- message backlogs ---------------------------------------------------------


def write_backlog(src_dir: str, batches: list[list[dict]]) -> None:
    """One parquet file per micro-batch of wrdn-shaped rows; mtimes are
    spaced so the file source takes them in order."""
    os.makedirs(src_dir, exist_ok=True)
    for b, rows in enumerate(batches):
        path = os.path.join(src_dir, f"batch_{b:04d}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=WRDN_ARROW), path)
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))


WRDN_ARROW = pa.schema(
    [
        ("job_id", pa.string()),
        ("file_name", pa.string()),
        ("error_encountered", pa.bool_()),
        ("metadata", pa.string()),
        ("message", pa.string()),
        ("service_id", pa.string()),
    ]
)


def wrdn(rng: random.Random, path: str, error: bool) -> dict:
    return {
        "job_id": "%032x" % rng.getrandbits(128),
        "file_name": path,
        "error_encountered": error,
        "metadata": "{}",
        "message": "writer failed: disk quota" if error else "",
        "service_id": "perfbench-writer",
    }


# -- corpus -------------------------------------------------------------------

BOILERPLATE = (
    "all rights reserved by the archive team",
    "subscribe to our newsletter for weekly updates",
    "this page was generated automatically from source",
    "terms of use and privacy notice apply here",
)
PII = ("{u}@example.org", "10.{a}.{b}.7", "+41-22-{a}-{b}0")  # e-mail, IPv4, phone


def corpus(seed: int, tag: str, n_docs: int, id_base: int, source_sizes: tuple[int, ...]) -> list[dict]:
    """Documents with planted structure: exact duplicates, near-duplicate
    pairs (some across sources), eval-contaminated docs, PII strings,
    repetitive junk, short docs and shared boilerplate lines. Source
    sizes follow ``source_sizes`` (relative weights)."""
    rng = rng_for("corpus", tag, seed)
    vocab = sorted({_word(rng, 3, 9) for _ in range(4000)})
    total_w = sum(source_sizes)
    sources = [f"src{i}" for i in range(len(source_sizes))]

    def sentence(k: int) -> list[str]:
        return [rng.choice(vocab) for _ in range(k)]

    docs: list[dict] = []
    for i in range(n_docs):
        doc_id = id_base + i
        r = rng.random() * total_w
        src = sources[-1]
        for s, w in zip(sources, source_sizes):
            if r < w:
                src = s
                break
            r -= w
        kind = rng.random()
        lines = [sentence(rng.randint(8, 14)) for _ in range(rng.randint(3, 6))]
        if docs and kind < 0.04:  # exact duplicate of an earlier doc
            text = rng.choice(docs)["text"]
        elif docs and kind < 0.12:  # near duplicate: one word changed per line
            base = rng.choice(docs)
            src = base["source"] if rng.random() < 0.8 else src
            out = []
            for line in base["text"].split("\n"):
                toks = line.split(" ")
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
                out.append(" ".join(toks))
            text = "\n".join(out)
        elif kind < 0.16:  # repetitive junk
            w = rng.sample(vocab, 3)
            text = "\n".join(" ".join(w * 4) for _ in range(4))
        elif kind < 0.19:  # too short for the quality gate
            text = " ".join(sentence(rng.randint(5, 15)))
        else:
            if kind < 0.26:  # PII
                pii = rng.choice(PII).format(u=_word(rng), a=rng.randint(10, 99), b=rng.randint(10, 99))
                lines[rng.randrange(len(lines))].insert(3, pii)
            if kind > 0.70:  # boilerplate footer
                lines.append(rng.choice(BOILERPLATE).split(" "))
            text = "\n".join(" ".join(line) for line in lines)
        docs.append({"doc_id": doc_id, "source": src, "text": text})
    # eval contamination: splice a 6-word span of an eval doc (doc_id % 97
    # == 0) into a few training docs
    evals = [d for d in docs if d["doc_id"] % 97 == 0 and len(d["text"].split()) > 10]
    for d in rng.sample(docs, max(1, n_docs // 60)):
        if evals and d["doc_id"] % 97:
            span = " ".join(rng.choice(evals)["text"].split()[2:8])
            d["text"] = d["text"] + "\n" + span + " " + " ".join(sentence(4))
    return docs


def write_corpus(path: str, docs: list[dict]) -> None:
    table = pa.Table.from_pylist(
        docs, schema=pa.schema([("doc_id", pa.int64()), ("source", pa.string()), ("text", pa.string())])
    )
    pq.write_table(table, path)


# -- cache --------------------------------------------------------------------


def cached(base: str, key: str, build) -> str:
    """Build inputs once per key under ``base``; other keys are removed
    so the cache holds one seed at a time."""
    target = os.path.join(base, key)
    marker = os.path.join(target, "DONE")
    if not os.path.exists(marker):
        if os.path.isdir(base):
            for old in os.listdir(base):
                shutil.rmtree(os.path.join(base, old), ignore_errors=True)
        os.makedirs(target)
        build(target)
        open(marker, "w").close()
    return target
