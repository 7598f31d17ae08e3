"""The traced run: per-layer metrics for one workload.

One set-up (spans around session start, schema load and warm-up), then
half of ``--seconds`` of untraced rounds and half of traced rounds (the
difference of their medians is the tracing overhead), then probes that
call public functions of each layer directly on materialized inputs.
Every layer is measured in every workload's traced run: a layer the
workload does not exercise is probed on a small side input generated
from the same seed (an online backlog, a corpus), so every run reports
the same metric names.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections import Counter

import procs
from harness import Session, timed_rounds
from tracing import Tracer, metric_sum, run_plan
from workloads import CorpusDedup, OfflineBackfill, OnlineCatchup

from scicat_ingestor_spark.apps.corpus import FULL_STAGES


class SideOnline(OnlineCatchup):
    name = "side_online"


class SideCorpus(CorpusDedup):
    name = "side_corpus"
    n_docs = 200


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def install(tracer: Tracer, wl) -> None:
    """Spans around the public calls the rounds make."""
    from scicat_ingestor_spark.apps import corpus, offline, online
    from scicat_ingestor_spark.operators import dedup
    from scicat_ingestor_spark.plans import sc
    from scicat_ingestor_spark.streaming import rest_sink

    tracer.wrap(wl, "round", "round")
    tracer.wrap(online, "main", "apps.online.main")
    tracer.wrap(offline, "main", "apps.offline.main")
    tracer.wrap(offline, "ingest_files", "ingest.build")
    tracer.wrap(online, "collect_schemas", "schema_model.collect_schemas")
    tracer.wrap(offline, "collect_schemas", "schema_model.collect_schemas")
    tracer.wrap(sc, "load_snapshots", "sc.load_snapshots")
    tracer.wrap(rest_sink, "post_entities", "rest_sink.post_entities")
    tracer.wrap(corpus, "prep_corpus", "corpus.prep_corpus")
    tracer.wrap(dedup, "ngram_jaccard_pairs", "dedup.ngram_jaccard_pairs")


def probe_ingest(spark, tracer: Tracer, specs: list[dict], cat_dir: str, out_dir: str) -> tuple[dict, int]:
    """Serial file reads, the scan alone, scan plus compiled evaluation,
    and the parquet write of a materialized result -> (metrics, shuffle
    bytes of the ingest plan)."""
    from scicat_ingestor_spark.apps.offline import ingest_files
    from scicat_ingestor_spark.plans.sc import load_snapshots
    from scicat_ingestor_spark.plans.schema_model import collect_schemas
    from scicat_ingestor_spark.sources import hdf5

    paths = [s["path"] for s in specs]
    m = {}
    with tracer.span("probe.hdf5.read_rows"):
        reads = [_timed(lambda p=p: hdf5.read_rows(p)) for p in paths]
    m["hdf5.read_ms_per_file"] = 1000.0 * sum(t for t, _ in reads) / len(reads)
    m["hdf5.datasets_per_file"] = sum(len(rows) for _, rows in reads) / len(reads)
    files = spark.createDataFrame([(p,) for p in paths], "file string")
    with tracer.span("probe.scan"):
        scan_s, plan = _timed(lambda: run_plan(hdf5.scan_files_wide(files))[0])
    m["scan.wall_s"] = scan_s
    m["scan.python_s"] = metric_sum(plan, "MapInPandas", "pythonTotalTime") / 1000.0
    schemas = collect_schemas(f"{cat_dir}/schemas")
    snaps = load_snapshots(spark, f"{cat_dir}/snapshots")
    with tracer.span("probe.ingest"):
        ingest_s, plan = _timed(lambda: run_plan(ingest_files(spark, paths, schemas, snapshots=snaps))[0])
    m["ingest.eval_s"] = ingest_s - scan_s
    shuffle = metric_sum(plan, "Exchange", "shuffleBytesWritten")
    out = ingest_files(spark, paths, schemas, snapshots=snaps).localCheckpoint()
    m["offline.rows_written"] = out.count()
    with tracer.span("probe.parquet_write"):
        m["offline.write_s"], _ = _timed(lambda: out.write.mode("overwrite").parquet(out_dir))
    return m, shuffle


def probe_rest_sink(spark, tracer: Tracer, stub, n: int = 30) -> dict:
    """post_json round trips and post_entities over a materialized batch,
    both with payloads already in the catalog (409s)."""
    from scicat_ingestor_spark.streaming.rest_sink import RestSinkConfig, post_entities, post_json

    cfg = RestSinkConfig(base_url=stub.url, endpoint="datasets", retries=0)
    records = stub.get("/datasets")[:n]
    with tracer.span("probe.rest_sink.post_json"):
        posts = [_timed(lambda r=r: post_json(cfg, json.dumps(r)))[0] for r in records]
    cols = ["file", "schema_id", "dataset_json", "failed_vars", "pid"]
    batch = spark.createDataFrame([tuple(r[c] for c in cols) for r in records], ", ".join(f"{c} string" for c in cols))
    batch = batch.cache()
    batch.count()
    with tracer.span("probe.rest_sink.post_entities"):
        sinks = [_timed(lambda: post_entities(batch, cfg))[0] for _ in range(3)]
    batch.unpersist()
    return {"rest_sink.post_ms": 1000.0 * _p50(posts), "rest_sink.sink_ms": 1000.0 * _p50(sinks)}


def stream_metrics(batches: list[tuple], before: dict, after: dict) -> dict:
    return {
        "pipeline.batches": len(batches),
        "pipeline.add_batch_ms": _p50([b[3] for b in batches]),
        "pipeline.overhead_ms": _p50([b[2] - b[3] for b in batches]),
        "rest_sink.posts": after["posts"] - before["posts"],
        "rest_sink.conflicts": after["conflicts"] - before["conflicts"],
        "rest_sink.connections": after["connections"] - before["connections"],
    }


def probe_corpus(spark, tracer: Tracer, path: str, warm: bool) -> tuple[dict, int]:
    """Marginal time and output rows of each FULL_STAGES stage, from
    timed stage-list prefixes; then the blocked pair join on the
    materialized survivors -> (metrics, shuffle bytes of the full chain
    and the pair join)."""
    from scicat_ingestor_spark.apps.corpus import prep_corpus
    from scicat_ingestor_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(path)
    if not warm:  # else the first prefix would carry the chain's JIT warm-up
        with tracer.span("probe.corpus.warmup"):
            run_plan(prep_corpus(docs, stages=FULL_STAGES))
    m, prev = {}, 0.0
    for i in range(len(FULL_STAGES) + 1):
        with tracer.span(f"probe.corpus.prefix{i}"):
            t, (plan, rows) = _timed(lambda i=i: run_plan(prep_corpus(docs, stages=FULL_STAGES[:i])))
        if i:
            m[f"corpus.{FULL_STAGES[i - 1]}_s"] = t - prev
            m[f"corpus.{FULL_STAGES[i - 1]}_rows"] = rows
        prev = t
    shuffle = metric_sum(plan, "Exchange", "shuffleBytesWritten")
    hygiene = prep_corpus(docs, stages=FULL_STAGES[:-1]).cache()
    sizes = Counter(r[0] for r in hygiene.select("source").collect())
    with tracer.span("probe.dedup.pairs"):
        t, (plan, found) = _timed(
            lambda: run_plan(ngram_jaccard_pairs(hygiene, "text", "doc_id", "source", threshold=0.5))
        )
    hygiene.unpersist()
    shuffle += metric_sum(plan, "Exchange", "shuffleBytesWritten")
    m["dedup.block_max"] = max(sizes.values())
    m["dedup.candidate_pairs"] = sum(k * (k - 1) // 2 for k in sizes.values())
    m["dedup.pairs_found"] = found
    m["dedup.pairs_s"] = t
    return m, shuffle


def run_traced(wl, seconds: float, work: str) -> dict:
    tracer = Tracer()
    side_online = side_corpus = None
    try:
        if not isinstance(wl, OnlineCatchup):
            side_online = SideOnline(work, wl.seed)
            side_online.prepare()
            side_online.batch_ms = wl.batch_ms
        if not isinstance(wl, CorpusDedup):
            side_corpus = SideCorpus(work, wl.seed)
            side_corpus.prepare()
        ingest = side_online if isinstance(wl, CorpusDedup) else wl
        from scicat_ingestor_spark.plans.schema_model import collect_schemas

        with tracer.span("setup"):
            with tracer.span("session.start"):
                session = Session(wl)
            with tracer.span("schema_model.load"):
                collect_schemas(f"{ingest.cat_dir}/schemas")
            with tracer.span("warmup"):
                wl.setup()
        plain, ops, _ = timed_rounds(wl, seconds / 2)
        first = wl.rounds
        stream_wl = wl if isinstance(wl, OnlineCatchup) else side_online
        before = stream_wl.stub.get("/stats")
        install(tracer, wl)
        try:
            traced, n, _ = timed_rounds(wl, seconds / 2, first=first)
            if side_online is not None:
                side_online.spark = session.spark
                # the side backlog's first warm-up round: its replays
                # are the files posted to the side stub before the run
                side_first = -side_online.warm_rounds
                side_online.before_round(side_first)
                with tracer.span("side_online.round"):
                    side_online.round(side_first)
        finally:
            tracer.restore()
        ops += n
        after = stream_wl.stub.get("/stats")
        if stream_wl is wl:
            batches = wl.round_batches(first, len(traced))
        else:
            batches = side_online.round_batches(side_first, 1)
        m = stream_metrics(batches, before, after)
        m.update(probe_rest_sink(session.spark, tracer, stream_wl.stub))
        ingest_specs = wl.specs if isinstance(wl, OfflineBackfill) else ingest._round_fresh(-ingest.warm_rounds)
        im, ingest_shuffle = probe_ingest(session.spark, tracer, ingest_specs, ingest.cat_dir, f"{work}/run/probe_write")
        cm, corpus_shuffle = probe_corpus(
            session.spark, tracer, f"{(side_corpus or wl).dir}/docs.parquet", warm=side_corpus is None
        )
        m.update(im)
        m.update(cm)
        own_shuffle = corpus_shuffle if isinstance(wl, CorpusDedup) else ingest_shuffle
        m["shuffle.mb_written"] = own_shuffle / 1e6
        builds = tracer.durations("ingest.build")
        m["ingest.build_ms"] = 1000.0 * _p50(builds)
        m["ingest.build_calls"] = len(builds)
        m["session.start_s"] = tracer.durations("session.start")[0]
        m["schema_model.load_s"] = tracer.durations("schema_model.load")[0]
        m["warmup_s"] = tracer.durations("warmup")[0]
        m["trace.overhead_s"] = _p50(traced) - _p50(plain)
        m["mem.jvm_hwm_mb"], m["mem.worker_hwm_mb"] = procs.peak_rss_mb(wl.exclude_pids() | _side_pids(side_online))
        failed, errors = wl.check()
        session.stop()
    finally:
        for side in (side_online, side_corpus):
            if side is not None:
                side.close()
    os.makedirs(f"{work}/trace", exist_ok=True)
    tracer.dump(f"{work}/trace/{wl.name}-seed{wl.seed}.json")
    print_table(tracer)
    if set(m) != set(UNITS):
        raise RuntimeError(f"per-layer metrics differ from the declared set: {sorted(set(m) ^ set(UNITS))}")
    return {"ops": ops, "failed": failed, "errors": errors, "metrics": {k: (v, UNITS[k]) for k, v in m.items()}}


def _side_pids(side) -> set[int]:
    return side.exclude_pids() if side is not None else set()


def print_table(tracer: Tracer) -> None:
    rows = sorted(tracer.self_times().items(), key=lambda kv: -kv[1])
    print(f"{'span':40s} {'self s':>9s}", file=sys.stdout)
    for name, t in rows:
        print(f"{name:40s} {t:9.3f}", file=sys.stdout)


UNITS = {
    "session.start_s": "s",
    "schema_model.load_s": "s",
    "warmup_s": "s",
    "ingest.build_ms": "ms",
    "ingest.build_calls": "count",
    "hdf5.read_ms_per_file": "ms",
    "hdf5.datasets_per_file": "count",
    "scan.wall_s": "s",
    "scan.python_s": "s",
    "ingest.eval_s": "s",
    "offline.write_s": "s",
    "offline.rows_written": "count",
    "pipeline.batches": "count",
    "pipeline.add_batch_ms": "ms",
    "pipeline.overhead_ms": "ms",
    "rest_sink.posts": "count",
    "rest_sink.conflicts": "count",
    "rest_sink.connections": "count",
    "rest_sink.post_ms": "ms",
    "rest_sink.sink_ms": "ms",
    **{f"corpus.{s}_s": "s" for s in FULL_STAGES},
    **{f"corpus.{s}_rows": "count" for s in FULL_STAGES},
    "dedup.block_max": "count",
    "dedup.candidate_pairs": "count",
    "dedup.pairs_found": "count",
    "dedup.pairs_s": "s",
    "shuffle.mb_written": "MB",
    "mem.jvm_hwm_mb": "MB",
    "mem.worker_hwm_mb": "MB",
    "trace.overhead_s": "s",
}
