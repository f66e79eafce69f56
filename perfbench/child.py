"""The measured process: one Spark session, one workload, one JSON result.

``run.py`` starts this in a fresh interpreter (so a fresh JVM) with the
checkout on PYTHONPATH, after the inputs are generated and cached. It
writes its result to ``--out``; ``run.py`` prints it.

Closed loop: one driver thread runs each step after the previous one
finished, on ``local[nproc]`` task slots. Set-up (``setup_s``) is session
start, Python worker warm-up, WARC ingest, bootstrap, the rounds before
the first measured one and the warm-up trials. A trial replays the
measured rounds from a copy of the set-up warehouse; measured trials
repeat until ``--seconds`` have passed and at least ``min_trials`` ran.
Every trial's output is checked against the simulator oracle outside the
timed rounds.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from config import CACHE, ROOT, machine, workload
from inputs import crawl_config, digests
from trace import Tracer

STAGES = ("bootstrap", "schedule", "fetch", "seen", "expand", "tail")
TABLES = ("pages_canon", "fetch_log", "frontier", "seen", "seen_bloom", "metrics")


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in files)
    return total


def start_session(mach: dict):
    """Session sized for the machine, with every file it writes in CACHE."""
    t0 = time.perf_counter()
    from twittercrawler_spark.session import get_spark, warm_python_workers

    spark = get_spark(
        "perfbench",
        cores=mach["cores"],
        shuffle_partitions=mach["cores"],
        extra_conf={
            "spark.driver.memory": mach["heap"],
            "spark.local.dir": os.path.join(CACHE, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(CACHE, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the tracer reads job/stage metrics back from the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    t1 = time.perf_counter()
    warm_python_workers(spark)
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


class CrawlRun:
    """Prepares a crawl up to its first measured round, then replays the
    measured rounds as trials from that snapshot, checking each trial."""

    def __init__(self, spark, w, inputs: str, work: str, tracer: Tracer | None, layers=None):
        self.spark, self.w, self.inputs, self.work = spark, w, inputs, work
        self.cfg = crawl_config(w)
        self.tracer, self.layers = tracer, layers
        with open(os.path.join(inputs, "oracle.json")) as f:
            self.oracle = json.load(f)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.ingest_s = self.bootstrap_s = 0.0
        self.trial_s: list[float] = []  # wall time of each measured trial
        self.round_s: list[float] = []  # every measured round of every trial
        self.fetched: list[int] = []
        self.bytes: list[int] = []
        self.table_s = {t: 0.0 for t in TABLES}
        self.table_b = {t: 0 for t in TABLES}
        self.commit_s = 0.0
        self.warc = {"records": 0, "malformed": 0}
        self._traced = False  # True while the spans of one crawl are recorded
        self.checked = False  # a trial's output was compared byte for byte
        self.trace_overhead_s = 0.0

    def _op(self, fn, *args):
        """One attempted operation; an exception counts it failed."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=4))
            return None

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    # -- set-up: ingest, bootstrap and the unmeasured rounds --------------------
    def prepare(self) -> bool:
        from twittercrawler_spark.sources.tables import Warehouse

        shutil.rmtree(self.work, ignore_errors=True)
        self.pages_dir = os.path.join(self.work, "pages")
        self.snapshot = os.path.join(self.work, "snapshot")
        wh = Warehouse(self.snapshot)
        self._traced = self.tracer is not None
        self._instrument(wh)
        if self._op(self._ingest) is None or self._op(self._bootstrap, wh) is None:
            return False
        self._traced = False
        for rnd in range(1, self.w.first_measured_round):
            if self._op(self._round, wh, rnd) is None:
                return False
        return True

    def _ingest(self) -> float:
        from twittercrawler_spark.sources.warc import read_warc, warc_pages, warc_stats

        t0 = time.perf_counter()
        with self._span("warc.ingest"):
            records = read_warc(self.spark, os.path.join(self.inputs, "warc"))
            warc_pages(records).write.parquet(self.pages_dir)
        self.ingest_s = time.perf_counter() - t0
        with self._span("bench.check"):
            n_pages = self.spark.read.parquet(self.pages_dir).count()
            if self.tracer is not None:
                st = warc_stats(records).groupBy().sum("n_records", "n_malformed").first()
                self.warc = {"records": int(st[0]), "malformed": int(st[1])}
        if n_pages != self.w.n_pages:
            raise AssertionError(f"ingested {n_pages} pages, expected {self.w.n_pages}")
        return self.ingest_s

    def _bootstrap(self, wh) -> float:
        from twittercrawler_spark.frontier.crawl import bootstrap

        t0 = time.perf_counter()
        with self._span("crawl.bootstrap"):
            bootstrap(
                self.spark, wh, self.pages_dir, os.path.join(self.inputs, "seeds.parquet"),
                os.path.join(self.inputs, "corpus", "robots.parquet"), self.cfg,
            )
        self.bootstrap_s = time.perf_counter() - t0
        return self.bootstrap_s

    def _round(self, wh, rnd: int) -> float:
        from twittercrawler_spark.frontier.crawl import run_round

        t0 = time.perf_counter()
        if not self._traced:
            run_round(self.spark, wh, self.cfg, rnd)
            return time.perf_counter() - t0
        with self.tracer.span(f"crawl.round@r{rnd}", tag=False):
            self._stage = self.tracer.begin(f"crawl.schedule@r{rnd}")
            try:
                run_round(self.spark, wh, self.cfg, rnd)
            finally:
                self.tracer.end(self._stage)
        return time.perf_counter() - t0

    # -- one trial: the measured rounds, replayed from the snapshot -------------
    def trial(self, measured: bool = True) -> bool:
        from twittercrawler_spark.sources.tables import Warehouse

        root = os.path.join(self.work, "trial")
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(self.snapshot, root)
        wh = Warehouse(root)
        # a traced run measures one trial; its spans and layer metrics are recorded
        self._traced = measured and self.tracer is not None
        self._instrument(wh)
        times, fetched, nbytes = [], 0, 0
        overhead0 = self.tracer.overhead_s if self._traced else 0.0
        for rnd in range(self.w.first_measured_round, self.w.rounds + 1):
            dt = self._op(self._round, wh, rnd)
            if dt is None:
                return False
            times.append(dt)
            fetched += int(wh.round_info(rnd)["metrics"]["fetched"])
            nbytes += sum(dir_bytes(os.path.join(root, t, f"round={rnd}")) for t in TABLES)
            if self._traced and self.layers is not None:
                self._op(self.layers.after_round, wh, rnd)
        if self._traced:
            self.trace_overhead_s = self.tracer.overhead_s - overhead0
        # the first trial is compared byte for byte; replays of the same
        # rounds from the same snapshot are compared on their per-round counts
        check = self._check_counts if self.checked else self._check
        if self._op(check, wh) is None:
            return False
        self.checked = True
        self._traced = False
        shutil.rmtree(root, ignore_errors=True)
        if measured:
            self.trial_s.append(sum(times))
            self.round_s += times
            self.fetched.append(fetched)
            self.bytes.append(nbytes)
        return True

    # -- traced wrappers around the Warehouse calls run_round makes -------------
    def _instrument(self, wh) -> None:
        if not self._traced:
            return
        tr = self.tracer
        write, write_rows, commit = wh.write, wh.write_rows, wh.commit

        def timed_write(name, df, rnd, *a, **k):
            if not self._traced:
                return write(name, df, rnd, *a, **k)
            in_round = rnd >= 1
            if in_round and name == "fetch_log":
                tr.end(self._stage)
                self._sched_end = time.perf_counter()
                self._stage = tr.begin(f"crawl.fetch@r{rnd}")
            # the overlapped seen+sidecar thread does not inherit the job
            # description, so its writes tag their own jobs
            seen_span = tr.begin(f"crawl.seen@r{rnd}") if name in ("seen", "seen_bloom") else None
            t0 = time.perf_counter()
            try:
                return write(name, df, rnd, *a, **k)
            finally:
                t1 = time.perf_counter()
                if seen_span is not None:
                    tr.end(seen_span)
                self.table_s[name] = self.table_s.get(name, 0.0) + t1 - t0
                self.table_b[name] = self.table_b.get(name, 0) + dir_bytes(wh._round_dir(name, rnd))
                if in_round and name == "fetch_log":
                    tr.end(self._stage)
                    self._stage = tr.begin(f"crawl.expand@r{rnd}")
                elif in_round and name == "frontier":
                    tr.end(self._stage)
                    self._stage = tr.begin(f"crawl.tail@r{rnd}")
                elif name == "seen_bloom":
                    # the seen stage: from the end of schedule to the end of
                    # the sidecar write, overlapped with fetch and expand
                    tr.spans.append({
                        "name": f"crawl.seen_stage@r{rnd}", "parent": f"crawl.round@r{rnd}",
                        "start": getattr(self, "_sched_end", t0), "end": t1,
                    })

        def timed_write_rows(name, rnd, rows, schema):
            t0 = time.perf_counter()
            try:
                return write_rows(name, rnd, rows, schema)
            finally:
                if self._traced:
                    self.table_s[name] += time.perf_counter() - t0
                    self.table_b[name] += dir_bytes(wh._round_dir(name, rnd))

        def timed_commit(rnd, metrics=None):
            t0 = time.perf_counter()
            try:
                return commit(rnd, metrics)
            finally:
                if self._traced:
                    self.commit_s += time.perf_counter() - t0

        wh.write, wh.write_rows, wh.commit = timed_write, timed_write_rows, timed_commit

    # -- correctness (untimed) --------------------------------------------------
    def _check(self, wh) -> bool:
        from pyspark.sql import functions as F

        with self._span("bench.check"):
            log = wh.read(self.spark, "fetch_log")
            rows = [
                (int(r["round"]), int(r["seq"]), r["url"], r["md5"])
                for r in log.select("round", "seq", "url", F.md5("text").alias("md5")).collect()
            ]
            seen = [r["url"] for r in wh.read(self.spark, "seen").select("url").collect()]
        got = digests(rows, seen)
        problems = [k for k in got if got[k] != self.oracle[k]]
        if problems:
            want = {k: self.oracle[k] for k in got}
            raise AssertionError(
                f"outputs differ from the simulator: {problems} got={got} want={want}"
            )
        return True

    def _check_counts(self, wh) -> bool:
        got = [
            int(wh.round_info(r)["metrics"]["fetched"]) for r in range(1, self.w.rounds + 1)
        ]
        if got != self.oracle["per_round"]:
            raise AssertionError(f"fetched per round {got}, simulator {self.oracle['per_round']}")
        return True

    # -- metrics ------------------------------------------------------------------
    def end_to_end(self, setup_s: float) -> dict:
        crawl = median(self.trial_s)
        fetched = median(self.fetched)
        return {
            "setup_s": (setup_s, "s"),
            "crawl_s": (crawl, "s"),
            "urls_per_s": (fetched / crawl if crawl else 0.0, "1/s"),
            "round_s_p50": (median(self.round_s), "s"),
            "bytes_per_url": (median(self.bytes) / fetched if fetched else 0.0, "B"),
        }


def check_names(metrics: dict, section: str) -> None:
    """The run must print exactly the metrics BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = {m["name"]: m["unit"] for m in json.load(f)[section]}
    got = {k: u for k, (_, u) in metrics.items()}
    if got != spec:
        diff = sorted(set(got.items()) ^ set(spec.items()))
        raise SystemExit(f"metrics differ from BENCHMARK.json {section}: {diff}")


def stop_session(spark) -> None:
    """Stop Spark, then end its JVM and wait for it: the JVM exits when its
    stdin closes, and stopping the context stops the Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    jvm = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()
        try:
            jvm.wait(timeout=20)
        except Exception:  # noqa: BLE001 - run.py stops whatever is left
            jvm.kill()
            jvm.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--scale", default="full")
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    w = workload(a.workload, a.scale)
    mach = machine()
    t0 = time.perf_counter()
    spark, start_s, warm_s = start_session(mach)
    try:
        return measure(a, w, mach, spark, start_s, warm_s, t0)
    finally:
        stop_session(spark)


def measure(a, w, mach: dict, spark, start_s: float, warm_s: float, t0: float) -> int:
    """Set-up, the measured trials and the result file of one run."""
    tracer = Tracer(spark) if a.trace else None
    layers = None
    if a.trace:
        from layers import Layers

        layers = Layers(spark, w, a.inputs, tracer)
    work = os.path.join(CACHE, f"work-{os.getpid()}")
    run = CrawlRun(spark, w, a.inputs, work, tracer, layers)
    # set-up: everything before the first measured round, warm-up trials too
    ok = run.prepare()
    for _ in range(w.warmup_trials):
        ok = ok and run.trial(measured=False)
    setup_s = time.perf_counter() - t0

    # measured: trials until --seconds have passed and at least min_trials ran
    t_measure = time.perf_counter()
    while ok and (
        len(run.trial_s) < w.min_trials or time.perf_counter() - t_measure < a.seconds
    ):
        ok = run.trial()
        if a.trace:
            break  # the traced run records one crawl: set-up plus one trial
    if not run.trial_s:
        run.failed = max(run.failed, 1)

    if a.trace:
        metrics = layers.metrics(run, start_s, warm_s)
        tracer.dump(os.path.join(CACHE, f"spans-{a.workload}-s{a.seed}.json"))
    else:
        metrics = run.end_to_end(setup_s)
    check_names(metrics, "per_layer" if a.trace else "end_to_end")
    result = {
        "attempted": run.attempted,
        "failed": run.failed,
        "errors": run.errors,
        "info": {
            "trial_s": run.trial_s, "round_s": run.round_s, "setup_s": setup_s, "start_s": start_s,
            "warm_s": warm_s, "ingest_s": run.ingest_s, "bootstrap_s": run.bootstrap_s,
            **mach,
        },
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    shutil.rmtree(work, ignore_errors=True)
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
