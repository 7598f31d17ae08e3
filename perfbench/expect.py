"""Expected outputs, computed from the generator's specs and plain Python.

Nothing here imports the program: ingest expectations follow the imsc
schemas ``gen.schema_doc`` writes, and the corpus expectations re-run
each prep stage in plain Python.
"""

from __future__ import annotations

import hashlib
import json
import re
from collections import Counter, defaultdict

from gen import EXTRA_FIELDS


def pid_of(path: str) -> str:
    return hashlib.md5(path.encode()).hexdigest()


def _sci(value, unit: str, name: str, vtype: str) -> dict:
    return {"value": value, "unit": unit, "human_name": name, "type": vtype}


def dataset(spec: dict, catalog: dict, known_proposals: set[str]) -> dict:
    """The ``dataset_json`` document one file must produce."""
    pi = None
    if spec["proposal_id"] in known_proposals:
        pi = next(p["pi_lastname"] for p in catalog["proposals"] if p["proposalId"] == spec["proposal_id"])
    instr_pid = next(i["pid"] for i in catalog["instruments"] if i["name"] == spec["instrument"])
    users = [spec["users"][u] for u in sorted(spec["users"], key=lambda u: f"/entry/user_{u}/name")]
    doc = {
        "datasetName": {"value": f"{spec['title']} (PI: {pi})", "unit": ""} if pi else {"unit": ""},
        "proposalId": {"value": spec["proposal_id"], "unit": ""},
        "principalInvestigator": {"value": pi, "unit": ""} if pi else {"unit": ""},
        "instrumentId": {"value": instr_pid, "unit": ""},
    }
    sci = {
        "sample_name": _sci(spec["sample"], "", "sample_name", "string"),
        "temperature": _sci(repr(float(spec["temperature"])), "K", "temperature", "float"),
        "total_counts": _sci(str(sum(spec["counts"])), "", "total_counts", "integer"),
        "users": _sci(", ".join(users), "", "users", "string"),
    }
    if spec["instrument"] in EXTRA_FIELDS:
        name, _path, unit = EXTRA_FIELDS[spec["instrument"]]
        sci[name] = _sci(repr(float(spec["extra"])), unit, name, "float")
    doc["scientificMetadata"] = sci
    return doc


def failed_vars(spec: dict, known_proposals: set[str]) -> str:
    return "" if spec["proposal_id"] in known_proposals else "pi_name,dataset_name"


def check_record(rec: dict, spec: dict, catalog: dict, known: set[str]) -> list[str]:
    """Differences between one output record and its expectation."""
    errs = []
    if rec.get("pid") != pid_of(spec["path"]):
        errs.append(f"pid {rec.get('pid')} for {spec['path']}")
    if rec.get("schema_id") != f"perfbench-{spec['instrument']}":
        errs.append(f"schema {rec.get('schema_id')} for {spec['path']}")
    if rec.get("failed_vars") != failed_vars(spec, known):
        errs.append(f"failed_vars {rec.get('failed_vars')!r} for {spec['path']}")
    got = json.loads(rec.get("dataset_json") or "null")
    want = dataset(spec, catalog, known)
    if got != want:
        errs.append(f"dataset_json for {spec['path']}: got {got} want {want}")
    return errs


# -- corpus -------------------------------------------------------------------

EVAL_MOD = 97
MIN_TOKENS = 25
CAPACITY = 512
PAIR_THRESHOLD = 0.5
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+\d[\d\- ]{6,}\d", "<PHONE>"),
)
_WS = re.compile(r"\s+")


def _nonempty_trimmed(parts: list[str]) -> list[str]:
    return [p.strip(" ") for p in parts if p.strip(" ")]


def _frac(num: int, den: int) -> float:
    return round(num / den, 6) if den else 0.0


def keeps_gopher(text: str) -> bool:
    """Gopher repetition rules at their published thresholds."""
    lines = _nonempty_trimmed(text.split("\n"))
    paras = _nonempty_trimmed(text.split("\n\n"))
    toks = _nonempty_trimmed(_WS.split(text.lower()))
    top = max(Counter(toks).values()) if toks else 0
    symbols = len(re.findall(r"#|\.\.\.", text))
    return (
        _frac(len(lines) - len(set(lines)), len(lines)) <= 0.30
        and _frac(len(paras) - len(set(paras)), len(paras)) <= 0.30
        and _frac(top, len(toks)) <= 0.20
        and _frac(symbols, len(toks)) <= 0.10
        and _frac(sum(1 for x in lines if x[:1] in "-*"), len(lines)) <= 0.90
        and _frac(sum(1 for x in lines if x.endswith("...")), len(lines)) <= 0.30
    )


def n_tokens(text: str) -> int:
    return len(_WS.split(text.strip(" ")))


def shingles(text: str, n: int) -> set[str]:
    toks = _WS.split(text.lower())
    if n == 1:
        return set(toks)
    return {" ".join(toks[i - 1 : i - 1 + n]) for i in range(1, max(len(toks) - (n - 1), 1) + 1)}


def prep(docs: list[dict]) -> dict:
    """Plain-Python twin of the full prep chain: repetition gate, PII
    scrub, quality gate, global line dedup, eval decontamination, exact
    dedup, token packing. Returns survivors, packing and stage counts."""
    evals = [d for d in docs if d["doc_id"] % EVAL_MOD == 0]
    out = [dict(d) for d in docs if d["doc_id"] % EVAL_MOD]
    counts = {}
    out = [d for d in out if keeps_gopher(d["text"])]
    counts["repetition"] = len(out)
    for d in out:
        for pat, tok in PII_PATTERNS:
            d["text"] = re.sub(pat, tok, d["text"])
    counts["pii"] = len(out)
    out = [d for d in out if n_tokens(d["text"]) >= MIN_TOKENS]
    counts["quality"] = len(out)
    seen: set[str] = set()
    kept = []
    for d in sorted(out, key=lambda d: d["doc_id"]):
        lines = []
        for line in d["text"].split("\n"):
            line = line.strip(" ")
            if line and line not in seen:
                seen.add(line)
                lines.append(line)
        if lines:
            kept.append({**d, "text": "\n".join(lines)})
    out = kept
    counts["linededup"] = len(out)
    eval_grams = set().union(*(shingles(d["text"], 4) for d in evals)) if evals else set()
    out = [d for d in out if not (shingles(d["text"], 4) & eval_grams)]
    counts["decontaminate"] = len(out)
    first: dict[str, dict] = {}
    for d in out:  # sorted by doc_id already
        first.setdefault(d["text"], d)
    out = sorted(first.values(), key=lambda d: d["doc_id"])
    counts["dedup"] = len(out)
    packed = {}
    offsets: dict[str, int] = defaultdict(int)
    for d in out:
        n = n_tokens(d["text"])
        start = offsets[d["source"]]
        packed[d["doc_id"]] = (d["source"], n, start, start // CAPACITY)
        offsets[d["source"]] += n
    counts["pack"] = len(packed)
    return {"survivors": {d["doc_id"]: d for d in out}, "packed": packed, "counts": counts}


def near_pairs(survivors: dict) -> dict[tuple[int, int], float]:
    """Word-set Jaccard >= threshold within each source block."""
    blocks: dict[str, list] = defaultdict(list)
    for doc_id, d in sorted(survivors.items()):
        blocks[d["source"]].append((doc_id, shingles(d["text"], 1)))
    pairs = {}
    for members in blocks.values():
        for i, (a, sa) in enumerate(members):
            for b, sb in members[i + 1 :]:
                lo, hi = sorted((len(sa), len(sb)))
                if lo < PAIR_THRESHOLD * hi:
                    continue  # Jaccard <= lo/hi cannot reach the threshold
                inter = len(sa & sb)
                j = inter / (len(sa) + len(sb) - inter)
                if j >= PAIR_THRESHOLD:
                    pairs[(a, b)] = j
    return pairs


def check_corpus(exp: dict, pairs_exp: dict, prepped: list, packed: list, pairs: list) -> list[str]:
    """Compare one round's outputs: survivors and scrubbed text, pack
    offsets (cumulative sum per source) and the near-duplicate pairs."""
    errs = []
    got = {r[0]: (r[1], r[2]) for r in prepped}
    want = {k: (d["source"], d["text"]) for k, d in exp["survivors"].items()}
    if got != want:
        diff = sorted(set(got) ^ set(want))[:5] or [k for k in got if got[k] != want.get(k)][:5]
        errs.append(f"survivors differ ({len(got)} vs {len(want)}), e.g. {diff}")
    by_src: dict[str, list] = defaultdict(list)
    for source, doc_id, n, start, bin_id in packed:
        by_src[source].append((doc_id, n, start, bin_id))
    for source, rows in by_src.items():
        total = 0
        for doc_id, n, start, bin_id in sorted(rows):
            if start != total or bin_id != start // CAPACITY or exp["packed"].get(doc_id, (None, n))[1] != n:
                errs.append(f"pack offsets break at {source}/{doc_id}")
                break
            total += n
    if len(packed) != len(exp["packed"]):
        errs.append(f"packed {len(packed)} docs, want {len(exp['packed'])}")
    got_pairs = {(a, b): j for a, b, j in pairs}
    if set(got_pairs) != set(pairs_exp):
        errs.append(f"pairs differ: {sorted(set(got_pairs) ^ set(pairs_exp))[:5]}")
    elif any(abs(got_pairs[k] - pairs_exp[k]) > 1e-6 for k in pairs_exp):
        errs.append("pair jaccard values differ")
    return errs
