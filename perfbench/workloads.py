"""The three workloads: inputs, set-up, one timed round, output checks.

Each workload drives the program only through its public entry points
and attempts whole rounds of the same operations:

- ``online_catchup``: ``apps.online.main(--source-dir ... --once)``
  drains a backlog of wrdn-shaped messages in fixed-size micro-batches
  into a catalog stub (live sink mode);
- ``offline_backfill``: ``apps.offline.main(--files ...)`` ingests one
  file list in a single batch into a parquet target that already holds
  some of the same files;
- ``corpus_dedup``: ``apps.corpus.prep_corpus`` over the full stage list,
  then ``operators.dedup.ngram_jaccard_pairs`` on its survivors.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import urllib.request

import pyarrow as pa
import pyarrow.parquet as pq

import expect
import gen

HERE = os.path.dirname(os.path.abspath(__file__))


def _save(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh)


def _load(path: str):
    with open(path) as fh:
        return json.load(fh)


class Stub:
    """The catalog stub process (``catalog_stub.py``)."""

    def __init__(self, run_dir: str) -> None:
        port_file = os.path.join(run_dir, "stub.port")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "catalog_stub.py"), "--port-file", port_file]
        )
        deadline = time.monotonic() + 30
        while not os.path.exists(port_file):
            if self.proc.poll() is not None or time.monotonic() > deadline:
                self.close()
                raise RuntimeError("catalog stub did not start")
            time.sleep(0.02)
        with open(port_file) as fh:
            self.url = f"http://127.0.0.1:{int(fh.read())}"

    def get(self, path: str):
        with urllib.request.urlopen(self.url + path, timeout=30) as resp:
            return json.loads(resp.read())

    def post(self, payload: dict) -> None:
        req = urllib.request.Request(
            self.url + "/datasets",
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=30):
            pass

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


class Workload:
    name = ""

    def __init__(self, work: str, seed: int) -> None:
        self.seed = seed
        self.inputs = os.path.join(work, "inputs", self.name)
        self.run_dir = os.path.join(work, "run", self.name)
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.spark = None
        self.rounds = 0
        # streaming progress: (query id, input rows, triggerExecution ms,
        # addBatch ms) per micro-batch, appended by the run's listener
        self.batch_ms: list[tuple[str, int, float, float]] = []

    # -- life cycle, overridden where needed
    def prepare(self) -> None:
        """Generate (or reuse) this seed's inputs; never timed."""

    def before_round(self, r: int) -> None:
        """Per-round preparation outside the timed section."""

    def setup(self) -> None:
        """Schema and snapshot load plus a warm-up pass over inputs
        disjoint from the timed rounds' inputs, long enough that the
        timed rounds are no longer warming up."""
        raise NotImplementedError

    def round(self, r: int) -> int:
        """One timed round -> operations attempted."""
        raise NotImplementedError

    def latencies(self, first: int, durations: list[float]) -> list[float]:
        """Batch latencies of the rounds ``first`` .. that took
        ``durations``: a batch app commits one batch per round."""
        return durations

    def check(self) -> tuple[int, list[str]]:
        """-> (failed operations, unexpected errors)."""
        raise NotImplementedError

    def exclude_pids(self) -> set[int]:
        return set()

    def close(self) -> None:
        pass


# -- ingest workloads ---------------------------------------------------------


class _Ingest(Workload):
    def ingest_conf(self) -> list[str]:
        return ["--set", f"scicat.dimension_snapshot_dir={self.cat_dir}/snapshots"]

    def _catalog_state(self) -> None:
        self.catalog = gen.catalog(self.seed)
        self.known = {p["proposalId"] for p in self.catalog["proposals"][: gen.N_KNOWN_PROPOSALS]}

    def expected_record(self, spec: dict) -> dict:
        return {
            "file": spec["path"],
            "schema_id": f"perfbench-{spec['instrument']}",
            "dataset_json": json.dumps(expect.dataset(spec, self.catalog, self.known)),
            "failed_vars": expect.failed_vars(spec, self.known),
            "pid": expect.pid_of(spec["path"]),
        }


class OnlineCatchup(_Ingest):
    """Backlog drain through the streaming daemon into the catalog stub."""

    name = "online_catchup"
    batches = 1  # micro-batches per round
    warm_rounds = 3  # rounds -3 .. -1, drained during set-up
    # 25 messages per micro-batch, the batch size of the live daemon
    # measurements quoted in the README; about 10% writer errors and 10%
    # replays, the shares of the wrdn fixture in FIXTURES.md (10% of 25
    # is not whole: 3 and 2)
    fresh, replays, errors = 20, 2, 3

    def prepare(self) -> None:
        def build(d: str) -> None:
            gen.write_catalog_inputs(d, self.seed)
            _save(f"{d}/preseed.json", gen.write_files(d, "pre", self.seed, self.batches * self.replays, rich=False))

        self.cat_dir = gen.cached(self.inputs, f"seed{self.seed}", build)
        self._catalog_state()
        self.stub = Stub(self.run_dir)
        for spec in _load(f"{self.cat_dir}/preseed.json"):
            self.stub.post(self.expected_record(spec))
        self.round_specs: list[dict] = []

    def _round_dir(self, r: int) -> str:
        """Backlog of round ``r``; rounds below 0 are the warm-up. A
        round's replays are the files of the round before it (for the
        first warm-up round, files posted to the stub before the run)."""
        d = f"{self.cat_dir}/round{r:03d}"
        if not os.path.exists(f"{d}/DONE"):
            shutil.rmtree(d, ignore_errors=True)
            per_batch = self.fresh + self.errors
            specs = gen.write_files(self.cat_dir, f"r{r:03d}", self.seed, self.batches * per_batch, rich=False)
            first = r == -self.warm_rounds
            prev = _load(f"{self.cat_dir}/preseed.json") if first else self._round_fresh(r - 1)
            rng = gen.rng_for("msgs", self.seed, r)
            batches, plan = [], []
            for b in range(self.batches):
                own = specs[b * per_batch : (b + 1) * per_batch]
                msgs = [("fresh", s) for s in own[: self.fresh]]
                msgs += [("error", s) for s in own[self.fresh :]]
                msgs += [("replay", s) for s in prev[b * self.replays : (b + 1) * self.replays]]
                rng.shuffle(msgs)
                batches.append([gen.wrdn(rng, s["path"], kind == "error") for kind, s in msgs])
                plan += [{"kind": kind, "spec": s} for kind, s in msgs]
            gen.write_backlog(f"{d}/src", batches)
            _save(f"{d}/plan.json", plan)
            open(f"{d}/DONE", "w").close()
        return d

    def _round_fresh(self, r: int) -> list[dict]:
        return [m["spec"] for m in _load(f"{self._round_dir(r)}/plan.json") if m["kind"] == "fresh"]

    def before_round(self, r: int) -> None:
        self.round_specs.append(_load(f"{self._round_dir(r)}/plan.json"))

    def _drain(self, src: str, tag: str) -> None:
        from scicat_ingestor_spark.apps import online

        rc = online.main(
            [
                "--schemas-dir", f"{self.cat_dir}/schemas",
                "--out", f"{self.run_dir}/unused_out",
                "--checkpoint", f"{self.run_dir}/ck_{tag}",
                "--source-dir", src,
                "--once",
                "--set", "scicat.sink_mode=live",
                "--set", f"scicat.host={self.stub.url}",
                "--set", "ingestion.max_files_per_trigger=1",
                "--set", "ingestion.max_stream_restarts=0",
            ]
            + self.ingest_conf()
        )
        if rc != 0:
            raise RuntimeError(f"online daemon exited {rc} on {tag}")

    def setup(self) -> None:
        for r in range(-self.warm_rounds, 0):
            self.before_round(r)
            self.round(r)

    def round(self, r: int) -> int:
        self._drain(f"{self._round_dir(r)}/src", f"round{r}")
        return self.batches * (self.fresh + self.replays + self.errors)

    def round_batches(self, first: int, n_rounds: int) -> list[tuple]:
        """Progress of the micro-batches of rounds ``first`` ..; waits
        for the asynchronous listener bus to deliver all of them."""
        ids = set()
        for r in range(first, first + n_rounds):
            ids.add(_load(f"{self.run_dir}/ck_round{r}/metadata")["id"])
        deadline = time.monotonic() + 10
        while True:
            got = [b for b in self.batch_ms if b[0] in ids]
            if len(got) >= n_rounds * self.batches or time.monotonic() > deadline:
                return got
            time.sleep(0.05)

    def latencies(self, first: int, durations: list[float]) -> list[float]:
        """triggerExecution of every micro-batch of the rounds, in s."""
        return [b[2] / 1000.0 for b in self.round_batches(first, len(durations))]

    def check(self) -> tuple[int, list[str]]:
        stored = {d["pid"]: d for d in self.stub.get("/datasets")}
        errs: list[str] = []
        failed = 0
        expected = {expect.pid_of(s["path"]) for s in _load(f"{self.cat_dir}/preseed.json")}
        for i, plan in enumerate(self.round_specs):  # the warm-up's first
            for msg in plan:
                spec, pid = msg["spec"], expect.pid_of(msg["spec"]["path"])
                if msg["kind"] == "error":
                    bad = [f"dataset from writer-error message {spec['path']}"] if pid in stored else []
                else:
                    expected.add(pid)
                    bad = expect.check_record(stored.get(pid, {}), spec, self.catalog, self.known)
                failed += bool(bad) and i >= self.warm_rounds
                errs += bad[:1]
        extra = set(stored) - expected
        if extra:
            errs.append(f"{len(extra)} datasets the backlog did not ask for")
        if failed:
            errs.append(f"{failed} messages without their expected catalog effect")
        return failed, errs

    def exclude_pids(self) -> set[int]:
        return {self.stub.proc.pid}

    def close(self) -> None:
        self.stub.close()


class OfflineBackfill(_Ingest):
    """One large file list per batch run into a pre-populated target."""

    name = "offline_backfill"
    n_files = 20
    n_pre = 2  # of them already in the target

    def prepare(self) -> None:
        def build(d: str) -> None:
            gen.write_catalog_inputs(d, self.seed)
            _save(f"{d}/files.json", gen.write_files(d, "bf", self.seed, self.n_files, rich=True))
            _save(f"{d}/warm.json", gen.write_files(d, "warm", self.seed, self.n_files, rich=True))

        self.cat_dir = gen.cached(self.inputs, f"seed{self.seed}", build)
        self._catalog_state()
        self.specs = _load(f"{self.cat_dir}/files.json")
        self.warm = _load(f"{self.cat_dir}/warm.json")
        self.pre = set(gen.rng_for("pre", self.seed).sample(range(self.n_files), self.n_pre))

    def _target(self, r: int) -> str:
        return f"{self.run_dir}/target{r:03d}"

    def before_round(self, r: int) -> None:
        os.makedirs(self._target(r))
        rows = [self.expected_record(self.specs[i]) for i in sorted(self.pre)]
        pq.write_table(pa.Table.from_pylist(rows), f"{self._target(r)}/part-preingested.parquet")

    def _ingest(self, specs: list[dict], out: str) -> None:
        from scicat_ingestor_spark.apps import offline

        rc = offline.main(
            ["--files", ",".join(s["path"] for s in specs), "--schemas-dir", f"{self.cat_dir}/schemas", "--out", out]
            + self.ingest_conf()
        )
        if rc != 0:
            raise RuntimeError(f"offline ingestor exited {rc}")

    def setup(self) -> None:
        self._ingest(self.warm, f"{self.run_dir}/warm")

    def round(self, r: int) -> int:
        self._ingest(self.specs, self._target(r))
        return self.n_files

    def check(self) -> tuple[int, list[str]]:
        failed, errs = 0, []
        for r in range(self.rounds):
            rows = pq.read_table(self._target(r)).to_pylist()
            by_pid: dict[str, list] = {}
            for row in rows:
                by_pid.setdefault(row["pid"], []).append(row)
            for i, spec in enumerate(self.specs):
                got = by_pid.pop(expect.pid_of(spec["path"]), [])
                for row in got:
                    errs += expect.check_record(row, spec, self.catalog, self.known)[:1]
                if i in self.pre and len(got) == 2:
                    failed += 1  # appended again although already in the target
                elif len(got) != 1:
                    errs.append(f"round {r}: {len(got)} rows for {spec['path']}")
            if by_pid:
                errs.append(f"round {r}: {len(by_pid)} rows for files not in the list")
        return failed, errs


# -- corpus -------------------------------------------------------------------


class CorpusDedup(Workload):
    """Full prep chain, then blocked near-duplicate pairs on survivors."""

    name = "corpus_dedup"
    n_docs = 500
    source_weights = (40, 20, 12, 8, 5, 3)

    def prepare(self) -> None:
        def build(d: str) -> None:
            gen.write_corpus(f"{d}/docs.parquet", gen.corpus(self.seed, "main", self.n_docs, 0, self.source_weights))
            docs = gen.corpus(self.seed, "warm", self.n_docs, 10_000_000, self.source_weights)
            gen.write_corpus(f"{d}/warm.parquet", docs)

        self.dir = gen.cached(self.inputs, f"seed{self.seed}", build)
        docs = pq.read_table(f"{self.dir}/docs.parquet").to_pylist()
        self.expected = expect.prep(docs)
        self.expected_pairs = expect.near_pairs(self.expected["survivors"])
        self.outputs: list[tuple] = []

    def run_chain(self, path: str) -> tuple[list, list, list]:
        """prep_corpus over FULL_STAGES, split after the hygiene stages so
        the survivors' text feeds the pair join -> (survivors, pack rows,
        pairs)."""
        from scicat_ingestor_spark.apps.corpus import FULL_STAGES, prep_corpus
        from scicat_ingestor_spark.operators.dedup import ngram_jaccard_pairs

        docs = self.spark.read.parquet(path)
        hygiene = prep_corpus(docs, stages=FULL_STAGES[:-1]).cache()
        try:
            survivors = hygiene.select("doc_id", "source", "text").collect()
            packed = prep_corpus(hygiene, stages=FULL_STAGES[-1:]).select(
                "source", "doc_id", "n_tokens", "start_off", "bin_id"
            ).collect()
            pairs = ngram_jaccard_pairs(
                hygiene, "text", "doc_id", "source", threshold=expect.PAIR_THRESHOLD
            ).collect()
        finally:
            hygiene.unpersist()
        return survivors, packed, pairs

    warm_rounds = 3

    def setup(self) -> None:
        for _ in range(self.warm_rounds):
            self.run_chain(f"{self.dir}/warm.parquet")

    def round(self, r: int) -> int:
        self.outputs.append(self.run_chain(f"{self.dir}/docs.parquet"))
        return self.n_docs

    def check(self) -> tuple[int, list[str]]:
        failed, errs = 0, []
        for survivors, packed, pairs in self.outputs:
            bad = expect.check_corpus(
                self.expected,
                self.expected_pairs,
                [tuple(r) for r in survivors],
                [tuple(r) for r in packed],
                [tuple(r) for r in pairs],
            )
            failed += self.n_docs if bad else 0
            errs += bad
        return failed, errs


WORKLOADS = {w.name: w for w in (OnlineCatchup, OfflineBackfill, CorpusDedup)}
