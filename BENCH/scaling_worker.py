"""One scaling-measurement run: a single BIG crawl round at a given
parallelism level (the sandbox stand-in for an N-executor cluster, per
BASELINE.md's measurement protocol).

Builds a deterministic universe + a pre-grown frontier (1M URLs by
default), pre-populates the seen set with ~30% of the frontier's link
targets, runs run_round() once, and prints one JSON line with timings +
output fingerprints (order-insensitive hashes of the frontier/seen
deltas) so the parent can assert bit-identical outputs across
parallelism levels.

Usage: python scaling_worker.py <cores> <state_dir> [n_pages]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    cores = int(sys.argv[1])
    state_root = sys.argv[2]
    n_pages = int(sys.argv[3]) if len(sys.argv) > 3 else 1_200_000

    from pyspark.sql import functions as F

    from bathyscaphe_spark.config import CrawlConfig
    from bathyscaphe_spark.pipeline.round import run_round, round_ts_col
    from bathyscaphe_spark.pipeline.synth import build_host_status, build_pages, url_for
    from bathyscaphe_spark.session import build_session
    from bathyscaphe_spark.state.tables import TableCatalog

    # Bucket count is a property of the DATA, not the cluster (Iceberg
    # bucket(url) picks it by table size): with cores*2 buckets a 9.6M-page
    # universe put 0.8-3 GB of html in every cached partition and the fetch
    # join ran SLOWER at 8 cores than 2 (memory thrash).  ~150k pages/bucket
    # keeps partitions sane at every parallelism level; AQE coalesces the
    # small side as needed.
    buckets = max(cores * 2, n_pages // 150_000)
    spark = build_session(
        app_name=f"scaling-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=buckets,
    )
    n_hosts = n_pages // 200

    t0 = time.perf_counter()
    # bucketed by url: the fetch join reuses this partitioning and only
    # shuffles the frontier side (Iceberg bucket(url) at real scale);
    # the precomputed text column is dropped before caching — the crawl
    # never reads it and it doubled the cached bytes (r2 finding)
    pages = build_pages(
        spark, n_pages=n_pages, n_hosts=n_hosts, links_per_page=8,
        parallelism=buckets,
    ).drop("text").repartition(buckets, "url").persist()
    pages.count()
    host_status = build_host_status(pages).persist()
    host_status.count()
    build_sec = time.perf_counter() - t0

    # pre-grown frontier: every 2nd page's URL at depth 1 (deterministic)
    frontier_sz = n_pages // 2
    from bathyscaphe_spark.functions.fnv import fnv1_64

    rng = spark.range(0, n_pages, 2, buckets)
    frontier = rng.select(
        url_for(F.col("id"), n_hosts).alias("url")
    ).select(
        "url",
        fnv1_64(F.col("url")).alias("url_hash"),
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.lit(1).alias("depth"),
        F.lit(990).alias("priority"),
        round_ts_col(0).alias("discovered_ts"),
        F.lit(0).alias("round"),
    )

    # seen set: hashes of every 3rd page's URL (overlaps link targets).
    # SCALING_SEEN_MULT=K appends (K-1) extra blocks of hashes of
    # NONEXISTENT page urls (ids ≥ n_pages) — they inflate |seen| without
    # touching the output (no discovered candidate can match them), to
    # measure the D1 seen-side cost at seen ≫ frontier ratios.
    import os

    seen_mult = int(os.environ.get("SCALING_SEEN_MULT", "1"))
    seen = (
        spark.range(0, n_pages, 3, buckets)
        .select(url_for(F.col("id"), n_hosts).alias("url"))
    )
    if seen_mult > 1:
        extra = spark.range(
            n_pages, n_pages * seen_mult, 1, buckets
        ).select(url_for(F.col("id"), n_hosts).alias("url"))
        seen = seen.unionByName(extra)
    seen = seen.select(
        fnv1_64(F.col("url")).alias("url_hash"),
        F.lit(-1).alias("first_seen_round"),
        F.lit(None).cast("timestamp").alias("expires_ts"),
    )

    cat = TableCatalog(spark, state_root)
    cat.stage_round("frontier", frontier, 0)
    cat.commit_round(0, ["frontier"])
    cat.stage_round("seen", seen, -1)
    cat.commit_round(-1, ["seen"])

    # SCALING_BLOOM=inc routes the seen anti-join through a PREBUILT
    # sharded bloom, as the steady-state driver holds one (or_delta fold
    # per round, pipeline/driver.py); the build is outside the timed
    # window exactly because in steady state it never recurs.  Outputs
    # are bit-identical either way (the filter is only a router).
    import os

    bloom_mode = os.environ.get("SCALING_BLOOM", "off")
    seen_bloom = None
    if bloom_mode == "inc":
        from bathyscaphe_spark.operators.bloom import ShardedBloom

        seen_bloom = ShardedBloom.build(
            seen.select("url_hash"), "url_hash",
            expected_items=4 * seen_mult * (n_pages // 3),
        )
    # SCALING_SEEN=bucketed pre-compacts the seen set into the bucketed
    # store (state/seenstore.py) OUTSIDE the timed window — steady state,
    # like the prebuilt bloom: compaction recurs every seen_bucket_every
    # rounds, not per round.  The timed round then verifies D1 against
    # the exchange-free base.  Outputs are bit-identical either way.
    seen_store = None
    if os.environ.get("SCALING_SEEN", "deltas") == "bucketed":
        from bathyscaphe_spark.state.seenstore import (
            BucketedSeenStore, consolidate_seen,
        )

        seen_store = BucketedSeenStore(
            spark, state_root + "/seen_bucketed/r-1",
            name="scaling_seen_bucketed", num_buckets=buckets,
        )
        seen_store.compact(consolidate_seen(cat.read_deltas("seen")))
    cfg = CrawlConfig(
        per_host_budget=80, bloom_enabled=bloom_mode == "inc",
        skew_threshold=2_000,
    )
    t0 = time.perf_counter()
    stats = run_round(cat, pages, host_status, cfg, 0,
                      seen_count_hint=None, seen_bloom=seen_bloom,
                      seen_store=seen_store, seen_store_round=-1)
    round_sec = time.perf_counter() - t0

    # order-insensitive fingerprints of the outputs
    def fingerprint(name: str, rn: int) -> int:
        df = cat.read_staged(name, rn)
        row = df.select(
            F.expr(
                "bit_xor("
                + "xxhash64(" + ", ".join(sorted(df.columns)) + ")"
                + ")"
            ).alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).head()
        return [int(row["h"] or 0), int(row["n"])]

    out = {
        "cores": cores,
        "n_pages": n_pages,
        "frontier_size": frontier_sz,
        "build_sec": round(build_sec, 2),
        "round_sec": round(round_sec, 2),
        "scheduled": stats.scheduled,
        "fetched": stats.fetched,
        "discovered": stats.discovered,
        "urls_per_sec": round(stats.discovered / round_sec, 1),
        "fp_frontier": fingerprint("frontier", 1),
        "fp_seen": fingerprint("seen", 0),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
