"""Per-layer metrics of the traced run.

Stage spans and table writes come from the wrapped calls in child.py. The
robots gate, top-k, Bloom probe and sidecar update run inside
``run_round``, out of reach of a wrapper, so after each measured round
this module calls the same public functions again on that round's
committed inputs and times them there (outside the round's own timing).
Python-crossing microbenches run once per process on fixed seeded input.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np
import pandas as pd

from child import STAGES, TABLES, median
from inputs import crawl_config, rules_rows

# canonical urls are scheme://host/path[?q] (same patterns the engine uses)
_HOST_RE = r"^[a-z0-9+.-]+://([^/?#]+)"
_PATH_RE = r"^[a-z0-9+.-]+://[^/]+(/[^?]*)"


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Layers:
    def __init__(self, spark, w, inputs: str, tracer):
        from twittercrawler_spark.frontier.robots import RULES_SCHEMA

        self.spark, self.w, self.inputs, self.tr = spark, w, inputs, tracer
        self.cfg = crawl_config(w)
        self.corpus = os.path.join(inputs, "corpus")
        self.rules = spark.createDataFrame(rules_rows(self.corpus), RULES_SCHEMA)
        self.acc = {k: 0.0 for k in (
            "robots.gate_s", "robots.pending", "robots.passed",
            "scheduler.topk_s", "scheduler.rows_in", "scheduler.rows_out",
            "seen.probe_s", "seen.candidates", "seen.maybe", "seen.maybe_unseen",
            "seen.unseen", "seen.sidecar_s", "seen.rebuild_buckets",
        )}
        self.items = self.fill = 0.0

    # -- per measured round ---------------------------------------------------
    def after_round(self, wh, rnd: int) -> None:
        with self.tr.span(f"layer.robots_scheduler@r{rnd}"):
            gated = self._robots_and_topk(wh, rnd)
        with self.tr.span(f"layer.seen@r{rnd}"):
            self._seen(wh, rnd)
        gated.unpersist()

    def _robots_and_topk(self, wh, rnd: int):
        from twittercrawler_spark.frontier.robots import robots_gate
        from twittercrawler_spark.frontier.scheduler import (
            select_per_host_topk, selected_counts, with_global_sequence,
        )

        a = self.acc
        pending = wh.read_round(self.spark, "frontier", rnd - 1).drop("round")
        a["robots.pending"] += pending.count()
        t0 = time.perf_counter()
        gated = robots_gate(pending, self.rules).localCheckpoint(eager=True)
        a["robots.gate_s"] += time.perf_counter() - t0
        n_gated = gated.count()
        a["robots.passed"] += n_gated

        seq_start = int(wh.round_info(rnd - 1)["metrics"].get("seq_end", 0))
        q, salt = self.cfg.per_host_per_round, self.cfg.salt_sub_buckets
        t0 = time.perf_counter()
        sel = with_global_sequence(
            select_per_host_topk(gated, q, salt), seq_start, counts=selected_counts(gated, q)
        ).localCheckpoint(eager=True)
        a["scheduler.topk_s"] += time.perf_counter() - t0
        a["scheduler.rows_in"] += n_gated
        a["scheduler.rows_out"] += sel.count()
        return gated

    def _candidates(self, wh, rnd: int):
        """Round ``rnd``'s distinct out-links with their url columns, as
        run_round hands them to ``filter_unseen``."""
        from pyspark.sql import functions as F

        from twittercrawler_spark.functions.urls import spark_host_bucket, spark_url_hash64

        cfg = self.cfg
        log = wh.read_round(self.spark, "fetch_log", rnd)
        links = log.filter(F.col("status") == "ok").select(
            F.explode("links").alias("url"), (F.col("priority") * cfg.priority_decay).alias("cp")
        )
        bucket = spark_host_bucket("host", "url_hash", cfg.num_buckets, cfg.salt_sub_buckets)
        links = (
            links.withColumn("url_hash", spark_url_hash64("url"))
            .withColumn("host", F.regexp_extract("url", _HOST_RE, 1))
            .withColumn("host_bucket", bucket)
            .withColumn("path", F.regexp_extract("url", _PATH_RE, 1))
        )
        return (
            links.repartition(cfg.num_buckets, "host_bucket")
            .groupBy("url", "url_hash", "host", "host_bucket", "path")
            .agg(F.max("cp").alias("priority"))
        )

    def _seen(self, wh, rnd: int) -> None:
        from twittercrawler_spark.frontier.seen import (
            NumpyBloom, filter_unseen, plan_update, update_bloom_sidecar,
        )

        a = self.acc
        seen_prior = wh.read(self.spark, "seen", upto=rnd - 1)
        sidecar_prev = wh.read_round(self.spark, "seen_bloom", rnd - 1)
        if seen_prior is not None:
            cands = self._candidates(wh, rnd).localCheckpoint(eager=True)
            t0 = time.perf_counter()
            _force(filter_unseen(self.spark, cands, seen_prior, sidecar_prev))
            a["seen.probe_s"] += time.perf_counter() - t0

            rows = cands.select("host_bucket", "url_hash", "url").collect()
            seen_urls = {r["url"] for r in seen_prior.select("url").collect()}
            blooms = {
                int(r["host_bucket"]): NumpyBloom.from_bytes(r["m_bits"], r["k"], r["bits"])
                for r in (sidecar_prev.collect() if sidecar_prev is not None else [])
            }
            by_bucket: dict[int, list] = {}
            for r in rows:
                by_bucket.setdefault(int(r["host_bucket"]), []).append(r)
            for b, rs in by_bucket.items():
                keys = np.array([r["url_hash"] for r in rs], dtype=np.int64)
                flags = (
                    blooms[b].maybe_contains(keys) if b in blooms
                    else np.zeros(len(rs), dtype=bool)
                )
                unseen = np.array([r["url"] not in seen_urls for r in rs])
                a["seen.candidates"] += len(rs)
                a["seen.maybe"] += int(flags.sum())
                a["seen.unseen"] += int(unseen.sum())
                a["seen.maybe_unseen"] += int((flags & unseen).sum())
            cands.unpersist()

        # the sidecar update of this round, re-run on its committed inputs
        new = wh.read_round(self.spark, "seen", rnd).select("url", "url_hash", "host_bucket")
        prev_meta = {
            int(k): tuple(v)
            for k, v in (wh.round_info(rnd - 1)["metrics"].get("bloom_meta") or {}).items()
        }
        counts = {
            int(r["host_bucket"]): int(r["count"])
            for r in new.groupBy("host_bucket").count().collect()
        }
        _, overflow = plan_update(prev_meta, counts)
        full = (
            seen_prior.select("host_bucket", "url_hash").unionByName(
                new.select("host_bucket", "url_hash"))
            if overflow else None
        )
        hashes = new.select("host_bucket", "url_hash")
        t0 = time.perf_counter()
        _force(update_bloom_sidecar(hashes, sidecar_prev, overflow, full))
        a["seen.sidecar_s"] += time.perf_counter() - t0
        a["seen.rebuild_buckets"] += len(overflow)

        side = wh.read_round(self.spark, "seen_bloom", rnd).collect()
        self.items = float(sum(int(r["n_items"]) for r in side))
        bits = sum(
            int(np.unpackbits(np.frombuffer(bytes(r["bits"]), np.uint8)).sum()) for r in side
        )
        self.fill = bits / max(1, sum(int(r["m_bits"]) for r in side))

    # -- once per process ---------------------------------------------------------
    def micro(self) -> dict[str, tuple[float, str]]:
        """Python-crossing microbenches on fixed seeded input."""
        import pyarrow.parquet as pq

        from twittercrawler_spark.frontier.robots import parse_robots_body
        from twittercrawler_spark.frontier.seen import NumpyBloom
        from twittercrawler_spark.functions.text import extract_text_links
        from twittercrawler_spark.functions.udfs import udf_extract_text_canon_links
        from twittercrawler_spark.functions.urls import canonicalize_url

        pages_path = os.path.join(self.corpus, "pages.parquet")
        tbl = pq.read_table(pages_path, columns=["url", "html"]).slice(0, 1000).to_pydict()
        base = [canonicalize_url(u) for u in tbl["url"]]
        html = tbl["html"]

        def per_item(fn, items, min_s=0.3) -> float:
            n, t0 = 0, time.perf_counter()
            while True:
                for it in items:
                    fn(it)
                n += len(items)
                dt = time.perf_counter() - t0
                if dt >= min_s:
                    return dt / n

        hrefs = [(h, b) for page, b in zip(html, base) for h in extract_text_links(page)[1]]
        # the fused UDF's own Python body on one pandas batch: the scalar
        # base that the Spark crossing is compared with
        batch = (pd.Series(html), pd.Series(base))
        m = {
            "functions.extract_us_per_page": (per_item(extract_text_links, html) * 1e6, "us"),
            "functions.canon_us_per_url": (
                per_item(lambda p: canonicalize_url(p[0], p[1]), hrefs) * 1e6, "us"),
            "functions.extract_canon_us_per_page": (
                per_item(lambda b: udf_extract_text_canon_links.func(*b), [batch])
                / len(html) * 1e6, "us"),
        }

        # the fused UDF through Spark: slot-seconds per row over the corpus
        df = self.spark.read.parquet(pages_path).select("url", "html")
        n_rows = df.count()
        job = df.withColumn("_ex", udf_extract_text_canon_links("html", "url"))
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            _force(job)
            walls.append(time.perf_counter() - t0)
        slots = self.spark.sparkContext.defaultParallelism
        udf_us = median(walls) * slots / n_rows * 1e6
        m["udfs.extract_canon_us_per_row"] = (udf_us, "us")
        m["udfs.crossing_ratio"] = (udf_us / m["functions.extract_canon_us_per_page"][0], "ratio")

        rng = random.Random(20260)
        bodies = []
        for i in range(300):
            lines = []
            for agent in ("*", "twittercrawler-spark", f"bot{i % 7}"):
                lines.append(f"User-agent: {agent}")
                for _ in range(rng.randrange(1, 8)):
                    verb = rng.choice(("Allow", "Disallow"))
                    lines.append(f"{verb}: /p/{rng.randrange(1000)}  # rule")
                if rng.random() < 0.5:
                    lines.append(f"Crawl-delay: {rng.randrange(1, 5)}")
                lines.append("")
            bodies.append("\n".join(lines))
        m["robots.parse_us_per_body"] = (
            per_item(lambda b: parse_robots_body("h.example.org", b), bodies) * 1e6, "us")

        keys = np.random.default_rng(20260).integers(0, 2**60, 200_000, dtype=np.int64)
        bloom = NumpyBloom.sized_for(len(keys))
        t0 = time.perf_counter()
        bloom.add(keys)
        m["seen.add_ns_per_key"] = ((time.perf_counter() - t0) / len(keys) * 1e9, "ns")
        t0 = time.perf_counter()
        bloom.maybe_contains(keys[::-1])
        m["seen.probe_ns_per_key"] = ((time.perf_counter() - t0) / len(keys) * 1e9, "ns")
        return m

    # -- result -----------------------------------------------------------------------
    def metrics(self, run, start_s: float, warm_s: float) -> dict[str, tuple[float, str]]:
        from twittercrawler_spark.frontier.seen import FPP

        tr, a = self.tr, self.acc
        # spans and counters cover one crawl: set-up plus the one traced trial
        first = self.w.first_measured_round
        measured = range(first, self.w.rounds + 1)

        def stage_of(name: str) -> str | None:
            if name == "crawl.bootstrap":
                return "bootstrap"
            stage, _, rnd = name.partition("@r")
            if stage.startswith("crawl.") and rnd.isdigit() and int(rnd) in measured:
                return stage[len("crawl."):]
            return None

        m: dict[str, tuple[float, str]] = {
            "session.start_s": (start_s, "s"),
            "session.warm_s": (warm_s, "s"),
            "warc.read_s": (run.ingest_s, "s"),
            "warc.records": (float(run.warc["records"]), "count"),
            "warc.malformed": (float(run.warc["malformed"]), "count"),
        }
        for t in TABLES:
            m[f"tables.write_s.{t}"] = (run.table_s[t], "s")
            m[f"tables.bytes.{t}"] = (run.table_b[t], "B")
        m["tables.commit_s"] = (run.commit_s, "s")

        span_s = {s: 0.0 for s in STAGES}
        for sp in tr.spans:
            # crawl.seen@rN spans only tag the overlapped thread's writes; the
            # seen stage's wall time is its crawl.seen_stage@rN span
            if sp["end"] is None or sp["name"].startswith("crawl.seen@"):
                continue
            st = stage_of(sp["name"].replace("seen_stage", "seen"))
            if st in span_s:
                span_s[st] += sp["end"] - sp["start"]
        stats = {s: {"cpu_s": 0.0, "gc_s": 0.0, "shuffle_b": 0, "spill_b": 0, "skew": 0.0}
                 for s in STAGES}
        for name, v in tr.stage_metrics(untagged=self._untagged_round()).items():
            st = stage_of(name)
            if st not in stats:
                continue
            for k in ("cpu_s", "gc_s", "shuffle_b", "spill_b"):
                stats[st][k] += v[k]
            stats[st]["skew"] = max(stats[st]["skew"], v["skew"])
        for s in STAGES:
            m[f"crawl.{s}_s"] = (span_s[s], "s")
            m[f"crawl.{s}.cpu_s"] = (stats[s]["cpu_s"], "s")
            m[f"crawl.{s}.gc_s"] = (stats[s]["gc_s"], "s")
            m[f"crawl.{s}.shuffle_b"] = (stats[s]["shuffle_b"], "B")
            m[f"crawl.{s}.spill_b"] = (stats[s]["spill_b"], "B")
            m[f"crawl.{s}.skew"] = (stats[s]["skew"], "ratio")

        m["robots.gate_s"] = (a["robots.gate_s"], "s")
        m["robots.pass_ratio"] = (a["robots.passed"] / max(1.0, a["robots.pending"]), "ratio")
        m["scheduler.topk_s"] = (a["scheduler.topk_s"], "s")
        m["scheduler.rows_in"] = (a["scheduler.rows_in"], "count")
        m["scheduler.rows_out"] = (a["scheduler.rows_out"], "count")
        m["seen.probe_s"] = (a["seen.probe_s"], "s")
        m["seen.candidates"] = (a["seen.candidates"], "count")
        m["seen.maybe"] = (a["seen.maybe"], "count")
        m["seen.realized_fpp"] = (a["seen.maybe_unseen"] / max(1.0, a["seen.unseen"]), "ratio")
        m["seen.target_fpp"] = (FPP, "ratio")
        m["seen.sidecar_s"] = (a["seen.sidecar_s"], "s")
        m["seen.items"] = (self.items, "count")
        m["seen.fill"] = (self.fill, "ratio")
        m["seen.rebuild_buckets"] = (a["seen.rebuild_buckets"], "count")
        m.update(self.micro())

        crawl = run.trial_s[0] if run.trial_s else 0.0
        m["trace.crawl_s"] = (crawl, "s")
        m["trace.overhead_s"] = (run.trace_overhead_s, "s")
        m["trace.overhead_ratio"] = (run.trace_overhead_s / crawl if crawl else 0.0, "ratio")
        return m

    def _untagged_round(self):
        """Resolver for jobs without a description: the overlapped seen
        thread of whichever round was running when the job was submitted."""
        rounds = [
            (sp["wall"], sp["wall"] + sp["end"] - sp["start"], sp["name"].split("@r")[1])
            for sp in self.tr.spans
            if sp["name"].startswith("crawl.round@r") and sp["end"]
        ]

        def resolve(submit_ms: float) -> str | None:
            for lo, hi, rnd in rounds:
                if lo * 1000 <= submit_ms <= hi * 1000:
                    return f"crawl.seen@r{rnd}"
            return None

        return resolve
