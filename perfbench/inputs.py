"""Seeded crawl inputs and their simulator oracle, generated once and cached.

For one (workload, seed) this writes, under ``.bench_cache/inputs/``:

* ``corpus/`` — ``generate_corpus`` output (pages, robots);
* ``warc/`` — the pages as gzipped WARC segments, the only page input the
  engine sees (it ingests them with ``read_warc``);
* ``seeds.parquet`` — the seeded urls with seed-derived priorities;
* ``oracle.json`` — digests of fetch order, seen set and text from
  ``frontier.simulator.simulate`` on the same input.

No Spark here: generation runs before the measured process starts.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import random
import shutil

from config import CACHE, Workload

_CRLF2 = b"\r\n\r\n"


def ensure_inputs(w: Workload, seed: int, scale: str) -> str:
    """Generate (once) and return the input directory for (workload, seed)."""
    # keyed by the workload's definition too, so a changed workload never
    # reads inputs generated for its old shape
    key = hashlib.sha1(repr(w).encode()).hexdigest()[:10]
    out = os.path.join(CACHE, "inputs", f"{w.name}-{scale}-{key}-s{seed}")
    if os.path.exists(os.path.join(out, "oracle.json")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _generate(w, seed, tmp)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def _generate(w: Workload, seed: int, out: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from twittercrawler_spark.frontier.simulator import simulate
    from twittercrawler_spark.functions.urls import canonicalize_url
    from twittercrawler_spark.sources.corpus import generate_corpus

    corpus = os.path.join(out, "corpus")
    generate_corpus(
        corpus,
        n_pages=w.n_pages,
        n_hosts=w.n_hosts,
        words_per_page=w.words,
        seed=seed,
        n_files=w.segments,
    )
    pages = pq.read_table(
        os.path.join(corpus, "pages.parquet"), columns=["url", "warc_ts", "html"]
    ).to_pydict()
    _write_warc(pages, os.path.join(out, "warc"), w.segments)

    rng = random.Random(f"perfbench-seeds:{seed}")
    seed_urls, prios = [], []
    for url in pages["url"]:
        if w.seed_frac >= 1.0 or rng.random() < w.seed_frac:
            seed_urls.append(url)
            prios.append(1.0 if w.seed_frac >= 1.0 else float(rng.randrange(1, 100)))
    pq.write_table(
        pa.table({"url": seed_urls, "priority": prios}),
        os.path.join(out, "seeds.parquet"),
    )

    robots = pq.read_table(os.path.join(corpus, "robots.parquet")).to_pylist()
    sim = simulate(
        {canonicalize_url(u): h for u, h in zip(pages["url"], pages["html"])},
        list(zip(seed_urls, prios)),
        [(r["host"], r["disallow_prefix"]) for r in robots],
        crawl_config(w),
    )
    oracle = digests(
        [(r["round"], r["seq"], r["url"], _md5(r["text"])) for r in sim.fetch_log],
        sim.seen,
    )
    with open(os.path.join(out, "oracle.json"), "w") as f:
        json.dump(oracle, f)


def crawl_config(w: Workload):
    from twittercrawler_spark.frontier.simulator import CrawlConfig

    return CrawlConfig(
        per_host_per_round=w.quota, rounds=w.rounds, num_buckets=w.buckets
    )


def _md5(text: str | None) -> str | None:
    return None if text is None else hashlib.md5(text.encode("utf-8")).hexdigest()


def digests(fetched: list[tuple[int, int, str, str | None]], seen) -> dict:
    """Order/seen/text digests over (round, seq, url, md5(text)) rows.

    The engine's committed output and the simulator's result go through
    this same function, so equal digests mean equal fetch order, equal
    seen membership and byte-identical text.
    """
    rows = sorted(fetched, key=lambda r: r[1])
    order = hashlib.sha256()
    text = hashlib.sha256()
    per_round: dict[int, int] = {}
    for rnd, seq, url, md5 in rows:
        order.update(f"{seq}\t{url}\n".encode())
        per_round[rnd] = per_round.get(rnd, 0) + 1
    for _, _, url, md5 in sorted(rows, key=lambda r: r[2]):
        text.update(f"{url}\t{md5}\n".encode())
    seen_h = hashlib.sha256("\n".join(sorted(seen)).encode())
    return {
        "fetched": len(rows),
        "per_round": [per_round.get(r, 0) for r in range(1, max(per_round, default=0) + 1)],
        "order": order.hexdigest(),
        "seen": seen_h.hexdigest(),
        "n_seen": len(seen),
        "text": text.hexdigest(),
    }


def _write_warc(pages: dict, out_dir: str, segments: int) -> None:
    """Pages → gzipped WARC response records, round-robin over segments.

    Same record layout as ``sources.warc.write_warc`` writes; done in plain
    Python so input generation needs no Spark session.
    """
    os.makedirs(out_dir)
    bufs = [bytearray() for _ in range(segments)]
    for i, (url, ts, html) in enumerate(zip(pages["url"], pages["warc_ts"], pages["html"])):
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            + b"Content-Length: %d\r\n\r\n" % len(html)
            + html
        )
        head = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            + f"WARC-Record-ID: <urn:uuid:bench-{i}>\r\n".encode()
            + f"WARC-Target-URI: {url}\r\n".encode()
            + f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n".encode()
            + b"Content-Length: %d\r\n\r\n" % len(http)
        )
        bufs[i % segments] += head + http + _CRLF2
    for k, buf in enumerate(bufs):
        with open(os.path.join(out_dir, f"seg-{k:05d}.warc.gz"), "wb") as f:
            f.write(gzip.compress(bytes(buf), 1))


def rules_rows(corpus_dir: str) -> list[tuple[str, str, bool, int | None]]:
    """The corpus's disallow rows as ``allow=false`` robots rules."""
    import pyarrow.parquet as pq

    rows = pq.read_table(os.path.join(corpus_dir, "robots.parquet")).to_pylist()
    return [
        (r["host"], r["disallow_prefix"], False, None)
        for r in rows
        if r["disallow_prefix"] is not None
    ]
