"""Session life cycle, the streaming progress listener and the timed
round loop shared by untraced and traced runs."""

from __future__ import annotations

import os
import time

WORK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_work")


def start_session():
    from scicat_ingestor_spark.session import get_session

    return get_session(
        "perfbench",
        extra_conf={"spark.sql.warehouse.dir": f"{WORK}/warehouse"},
    )


def progress_listener(sink: list):
    """A StreamingQueryListener appending (query id, input rows,
    triggerExecution ms, addBatch ms) of every micro-batch that read
    input."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            if p.numInputRows > 0:
                d = p.durationMs
                sink.append((str(p.id), p.numInputRows, d.get("triggerExecution", 0), d.get("addBatch", 0)))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return Progress()


class Session:
    """The Spark session of one set-up, with the progress listener."""

    def __init__(self, wl) -> None:
        self.spark = start_session()
        self.listener = progress_listener(wl.batch_ms)
        self.spark.streams.addListener(self.listener)
        wl.spark = self.spark

    def stop(self) -> None:
        self.spark.streams.removeListener(self.listener)
        self.spark.stop()


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed_rounds(wl, seconds: float, first: int = 0) -> tuple[list[float], int, list[float]]:
    """Whole rounds until ``seconds`` of timed work have passed ->
    (round durations, operations, CPU seconds of the program's tree per
    round)."""
    import procs

    durations, ops, cpus, r = [], 0, [], first
    while sum(durations) < seconds:
        wl.before_round(r)
        c0 = procs.cpu_seconds(wl.exclude_pids())
        t0 = time.perf_counter()
        ops += wl.round(r)
        durations.append(time.perf_counter() - t0)
        cpus.append(procs.cpu_seconds(wl.exclude_pids()) - c0)
        r += 1
        wl.rounds = r
    return durations, ops, cpus


def fmt(xs: list[float]) -> str:
    return "[" + " ".join(f"{x:.2f}" for x in xs) + "]"
