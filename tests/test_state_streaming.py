"""State compaction + stateful streaming dedup."""

import shutil

from pyspark.sql import functions as F

from bathyscaphe_spark.state.tables import TableCatalog


def test_compact_deltas(spark, tmp_path):
    cat = TableCatalog(spark, str(tmp_path / "s"))
    for r in range(4):
        df = spark.range(r * 10, r * 10 + 10).select(
            F.col("id").alias("url_hash"),
            F.lit(r).alias("first_seen_round"),
            F.lit(None).cast("timestamp").alias("expires_ts"),
        )
        cat.stage_round("seen", df, r)
        cat.commit_round(r, ["seen"])
    before = sorted(r["url_hash"] for r in cat.read_deltas("seen").collect())
    folded = cat.compact_deltas("seen")
    assert folded == 4
    after = sorted(r["url_hash"] for r in cat.read_deltas("seen").collect())
    assert before == after
    # only one physical round dir remains and it is the max round
    assert cat.committed_rounds("seen") == [3]
    # idempotent: nothing left to fold
    assert cat.compact_deltas("seen") == 0


def test_compact_with_agg(spark, tmp_path):
    """Consolidation agg: duplicate hashes collapse keeping min round."""
    cat = TableCatalog(spark, str(tmp_path / "s"))
    for r in range(2):
        df = spark.range(0, 10).select(  # same hashes both rounds
            F.col("id").alias("url_hash"),
            F.lit(r).alias("first_seen_round"),
            F.lit(None).cast("timestamp").alias("expires_ts"),
        )
        cat.stage_round("seen", df, r)
        cat.commit_round(r, ["seen"])

    def agg(df):
        return df.groupBy("url_hash").agg(
            F.min("first_seen_round").alias("first_seen_round"),
            F.max("expires_ts").alias("expires_ts"),
        )

    cat.compact_deltas("seen", agg_fn=agg)
    out = cat.read_deltas("seen")
    assert out.count() == 10
    assert out.where("first_seen_round != 0").count() == 0


def test_crawl_after_compaction(spark, tmp_path):
    """Compacting seen mid-crawl must not change subsequent rounds."""
    from bathyscaphe_spark.config import CrawlConfig
    from bathyscaphe_spark.pipeline.driver import crawl
    from bathyscaphe_spark.pipeline.synth import build_pages, build_seeds

    pages = build_pages(spark, 800, n_hosts=20, links_per_page=4).persist()
    seeds = build_seeds(spark, pages, 6)
    cfg = CrawlConfig(bloom_enabled=False)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    crawl(spark, pages, seeds, a, cfg, max_rounds=3)
    crawl(spark, pages, seeds, b, cfg, max_rounds=2)
    TableCatalog(spark, b).compact_deltas("seen")
    crawl(spark, pages, None, b, cfg, max_rounds=3)
    sa = sorted(r["url_hash"] for r in TableCatalog(spark, a).read_deltas("seen").collect())
    sb = sorted(r["url_hash"] for r in TableCatalog(spark, b).read_deltas("seen").collect())
    assert sa == sb
    pages.unpersist()


class _FakeState:
    """Minimal GroupState stand-in for kernel-level tests."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def _run_batch(kernel, state, urls, hashes):
    import pandas as pd

    (out,) = list(
        kernel((0,), [pd.DataFrame({"url": urls, "url_hash": hashes})], state)
    )
    return sorted(out["url_hash"].tolist())


def test_dedup_shard_binary_state_chunks():
    """r2 state layout: one sorted binary chunk appended per batch,
    LSM-compacted past the chunk cap — never a CSV re-serialization."""
    import numpy as np

    from bathyscaphe_spark.streaming.stateful import make_dedup_shard

    kernel = make_dedup_shard(compact_chunks=3)
    st = _FakeState()
    # batch 1: 0..99 novel; internal dup of 5 dropped
    got = _run_batch(kernel, st, [f"u{i}" for i in range(100)] + ["u5"],
                     list(range(100)) + [5])
    assert got == list(range(100))
    chunks, n = st.get
    assert n == 100 and len(chunks) == 1
    assert np.frombuffer(chunks[0], dtype="<i8").tolist() == list(range(100))
    # batch 2: half replays, half novel → one MORE chunk, replays dropped
    got = _run_batch(kernel, st, [f"u{i}" for i in range(50, 150)],
                     list(range(50, 150)))
    assert got == list(range(100, 150))
    chunks, n = st.get
    assert n == 150 and len(chunks) == 2
    # two more batches exceed compact_chunks=3 → rolled into one run
    _run_batch(kernel, st, ["a"], [1000])
    _run_batch(kernel, st, ["b"], [2000])
    chunks, n = st.get
    assert n == 152 and len(chunks) == 1
    run = np.frombuffer(chunks[0], dtype="<i8")
    assert run.size == 152 and (np.diff(run) > 0).all()


def test_dedup_shard_eviction_hook():
    """max_state_hashes drops the OLDEST chunks: evicted hashes become
    re-emittable (the online analogue of D3 refresh-delay expiry)."""
    from bathyscaphe_spark.streaming.stateful import make_dedup_shard

    kernel = make_dedup_shard(compact_chunks=100, max_state_hashes=150)
    st = _FakeState()
    _run_batch(kernel, st, [f"a{i}" for i in range(100)], list(range(100)))
    _run_batch(kernel, st, [f"b{i}" for i in range(100)],
               list(range(100, 200)))
    chunks, n = st.get
    assert n == 100  # oldest chunk evicted to respect the bound
    # evicted hash 5 is seen again → re-emitted (expired, like D3)
    got = _run_batch(kernel, st, ["a5", "b5"], [5, 105])
    assert got == [5]


def test_streaming_seen_dedup(spark, tmp_path):
    """applyInPandasWithState dedup: duplicates across micro-batches are
    dropped; first occurrence survives."""
    from bathyscaphe_spark.streaming.stateful import streaming_seen_dedup

    src = str(tmp_path / "src")
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    spark.createDataFrame(
        [("u1", 1), ("u2", 2), ("u1", 1)], "url string, url_hash long"
    ).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(
        [("u2", 2), ("u3", 3)], "url string, url_hash long"
    ).coalesce(1).write.parquet(src + "/b2")

    stream = (
        spark.readStream.schema("url string, url_hash long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        streaming_seen_dedup(stream, n_shards=4)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {(r["url"], r["url_hash"]) for r in spark.sql("select * from dedup_out").collect()}
    assert rows == {("u1", 1), ("u2", 2), ("u3", 3)}


def test_stream_to_universe_feeds_crawl(spark, tmp_path):
    """Structured Streaming front door: page arrivals land in the
    universe dir exactly once (checkpointed epochs), and a crawl round
    fetches out of the streamed universe.  Re-running the stream with
    the same checkpoint appends nothing new."""
    import glob
    import os
    from datetime import datetime, timezone

    from bathyscaphe_spark.config import CrawlConfig
    from bathyscaphe_spark.pipeline.driver import crawl
    from bathyscaphe_spark.streaming.ingest import stream_to_universe

    ts = datetime(2024, 5, 1, tzinfo=timezone.utc).replace(tzinfo=None)
    hdr = {"Content-Type": "text/html"}
    rows = [
        ("https://s.onion", "s.onion", ts,
         "to https://a.onion and https://b.onion".encode(), hdr, 200),
        ("https://a.onion", "a.onion", ts, b"alpha", hdr, 200),
        ("https://b.onion", "b.onion", ts, b"beta", hdr, 200),
    ]
    schema = ("url string, host string, warc_ts timestamp, html binary,"
              " headers map<string,string>, status int")
    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(tmp_path / "stage")
    )
    part = glob.glob(str(tmp_path / "stage" / "part-*.parquet"))[0]
    os.rename(part, os.path.join(src, "batch-0.parquet"))

    uni = str(tmp_path / "universe")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(schema).parquet(src)
    stream_to_universe(stream, uni, ckpt).start().awaitTermination()
    n1 = spark.read.parquet(uni).count()
    assert n1 == 3

    # exactly-once: same checkpoint, no new files -> no duplicate append
    stream2 = spark.readStream.schema(schema).parquet(src)
    stream_to_universe(stream2, uni, ckpt).start().awaitTermination()
    assert spark.read.parquet(uni).count() == n1

    # the streamed universe is crawlable
    pages = spark.read.parquet(uni)
    seeds = spark.createDataFrame([("https://s.onion", "s.onion")],
                                  "url string, host string")
    stats = crawl(spark, pages, seeds, str(tmp_path / "state"),
                  CrawlConfig(bloom_enabled=False), max_rounds=2)
    assert stats[0].fetched == 1          # the seed
    assert stats[1].fetched == 2          # a + b discovered from it


# --- streaming per-host token bucket ------------------------------------------


def _rl_batch(kernel, state, rows):
    import pandas as pd

    (out,) = list(
        kernel(
            ("h0",),
            [pd.DataFrame(rows, columns=["batch", "url_hash", "priority"])],
            state,
        )
    )
    return list(zip(out["url_hash"].tolist(), out["admitted"].tolist()))


def test_rate_limit_full_bucket_start_and_priority_order():
    from bathyscaphe_spark.streaming.stateful import make_rate_limit_shard

    k = make_rate_limit_shard(rate=2, burst=3)
    st = _FakeState()
    # 5 requests in epoch 0: burst=3 admits the 3 best by (prio DESC, hash)
    rows = [(0, 10, 1), (0, 11, 9), (0, 12, 5), (0, 13, 9), (0, 14, 5)]
    out = dict(_rl_batch(k, st, rows))
    assert out == {11: 1, 13: 1, 12: 1, 14: 0, 10: 0}
    assert st.get == (0, 0)  # bucket drained, last epoch 0


def test_rate_limit_refill_clamp_across_skipped_epochs():
    from bathyscaphe_spark.streaming.stateful import make_rate_limit_shard

    k = make_rate_limit_shard(rate=2, burst=3)
    st = _FakeState()
    _rl_batch(k, st, [(0, i, 0) for i in range(5)])  # drain at epoch 0
    # epoch 4 after 4 idle epochs: refill 2*4=8 clamps at burst=3
    out = dict(_rl_batch(k, st, [(4, i, 0) for i in range(10, 16)]))
    assert sum(out.values()) == 3
    assert st.get == (0, 4)


def test_rate_limit_multi_epoch_single_slice():
    # engine may hand several epochs in ONE call — replay must match
    # epoch-by-epoch delivery exactly
    from bathyscaphe_spark.streaming.stateful import make_rate_limit_shard

    rows0 = [(0, i, 0) for i in range(4)]
    rows1 = [(1, 100 + i, 0) for i in range(4)]
    k1 = make_rate_limit_shard(rate=1, burst=2)
    st1 = _FakeState()
    merged = dict(_rl_batch(k1, st1, rows0 + rows1))
    k2 = make_rate_limit_shard(rate=1, burst=2)
    st2 = _FakeState()
    split = dict(_rl_batch(k2, st2, rows0))
    split.update(dict(_rl_batch(k2, st2, rows1)))
    assert merged == split
    assert st1.get == st2.get


def test_rate_limit_stream_e2e_against_python_model(spark, tmp_path):
    import glob
    import os
    import shutil

    from bathyscaphe_spark.streaming.stateful import streaming_rate_limit

    rows = [
        ("h%d" % (i % 3), (i // 9) % 3, i * 37 % 1000, i % 5)
        for i in range(90)
        if i % 7 != 0
    ]
    df = spark.createDataFrame(
        rows, "host string, batch long, url_hash long, priority long"
    )
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for b in range(3):
        stage = str(tmp_path / f"stage{b}")
        df.where(F.col("batch") == b).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(in_dir, f"b{b}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1714564800 + b, 1714564800 + b))
    stream = (
        spark.readStream.schema(
            "host string, batch long, url_hash long, priority long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        streaming_rate_limit(stream, rate=1, burst=2)
        .writeStream.format("memory")
        .queryName("rl_e2e")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["host"], r["batch"], r["url_hash"]): r["admitted"]
        for r in spark.table("rl_e2e").collect()
    }
    # python reference model
    want = {}
    tokens = {}
    for b in range(3):
        epoch = sorted(
            (r for r in rows if r[1] == b),
            key=lambda r: (r[0], -r[3], r[2]),
        )
        by_host = {}
        for r in epoch:
            by_host.setdefault(r[0], []).append(r)
        for h, rs in by_host.items():
            t = tokens.get(h)
            t = 2 if t is None else min(2, t + 1)
            for i, r in enumerate(rs):
                want[(h, b, r[2])] = 1 if i < t else 0
            tokens[h] = max(0, t - len(rs))
    assert got == want


def test_stream_to_universe_replayed_epoch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: deleting the epoch's commit
    marker (the crash window — files landed, commit didn't) makes the
    restart REPLAY epoch 0; the per-epoch idempotent sink must replace
    its files, not append duplicates."""
    import glob
    import os
    import shutil
    from datetime import datetime, timezone

    from bathyscaphe_spark.streaming.ingest import stream_to_universe

    ts = datetime(2024, 5, 1, tzinfo=timezone.utc).replace(tzinfo=None)
    hdr = {"Content-Type": "text/html"}
    rows = [(f"https://d{i}.onion", f"d{i}.onion", ts, b"x", hdr, 200)
            for i in range(5)]
    schema = ("url string, host string, warc_ts timestamp, html binary,"
              " headers map<string,string>, status int")
    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(tmp_path / "stage")
    )
    part = glob.glob(str(tmp_path / "stage" / "part-*.parquet"))[0]
    os.rename(part, os.path.join(src, "batch-0.parquet"))

    uni = str(tmp_path / "universe")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(schema).parquet(src)
    stream_to_universe(stream, uni, ckpt).start().awaitTermination()
    assert spark.read.parquet(uni).count() == 5

    # simulate the crash window: offsets recorded, commit marker gone.
    # The checkpoint is CLONED to a fresh path first — Spark 4 pins a
    # session-level token on a checkpoint dir, so mutating the original
    # in-place trips its concurrent-modification guard instead of
    # exercising the replay
    ckpt2 = str(tmp_path / "ckpt2")
    shutil.copytree(ckpt, ckpt2)
    for c in glob.glob(os.path.join(ckpt2, "commits", "*")) + glob.glob(
        os.path.join(ckpt2, "commits", ".*.crc")
    ):
        base = os.path.basename(c).lstrip(".").removesuffix(".crc")
        if base.isdigit():
            (shutil.rmtree if os.path.isdir(c) else os.remove)(c)
    stream2 = spark.readStream.schema(schema).parquet(src)
    stream_to_universe(stream2, uni, ckpt2).start().awaitTermination()
    # a plain append sink would now hold 10 rows
    assert spark.read.parquet(uni).count() == 5


def _seed_seen_rounds(spark, cat, n=3):
    for r in range(n):
        df = spark.range(r * 10, r * 10 + 10).select(
            F.col("id").alias("url_hash"),
            F.lit(r).alias("first_seen_round"),
            F.lit(None).cast("timestamp").alias("expires_ts"),
        )
        cat.stage_round("seen", df, r)
        cat.commit_round(r, ["seen"])


def test_compaction_crash_before_publish_never_double_applies(spark, tmp_path):
    """Crash window AFTER both renames (round=<target> already holds
    the consolidated union) but BEFORE the manifest publish: the
    manifest still lists every old round, so keeping the consolidated
    dir would return every pre-compaction row twice.  Recovery must
    restore the backup — the manifest is the truth."""
    import json
    import os

    root = str(tmp_path / "s")
    cat = TableCatalog(spark, root)
    _seed_seen_rounds(spark, cat)
    before = sorted(r["url_hash"] for r in cat.read_deltas("seen").collect())

    manifest_pre = json.dumps(cat._load_manifest(), sort_keys=True)
    cat.compact_deltas("seen")
    # reconstruct the crash state: manifest rolled back to pre-publish,
    # consolidated dir in place, backup present (as before the cleanup)
    with open(os.path.join(root, "_rounds.json"), "w") as fh:
        fh.write(manifest_pre)
    tdir = os.path.join(root, "tables", "seen")
    consolidated = os.path.join(tdir, "round=2")
    backup = os.path.join(tdir, "_precompact-2-deadbeef")
    shutil.copytree(consolidated, backup)  # stand-in for the real backup
    # drop the pre-compaction dirs the interrupted run already removed?
    # no — the crash happened BEFORE the rmtree loop, so they exist;
    # recreate rounds 0 and 1 as the original deltas
    for r in range(2):
        df = spark.range(r * 10, r * 10 + 10).select(
            F.col("id").alias("url_hash"),
            F.lit(r).alias("first_seen_round"),
            F.lit(None).cast("timestamp").alias("expires_ts"),
        )
        df.write.mode("overwrite").parquet(os.path.join(tdir, f"round={r}"))
    # backup must hold the ORIGINAL round-2 delta, not the union
    orig2 = spark.range(20, 30).select(
        F.col("id").alias("url_hash"),
        F.lit(2).alias("first_seen_round"),
        F.lit(None).cast("timestamp").alias("expires_ts"),
    )
    shutil.rmtree(backup)
    orig2.write.mode("overwrite").parquet(backup)

    cat2 = TableCatalog(spark, root)
    cat2.cleanup_uncommitted()
    after = sorted(r["url_hash"] for r in cat2.read_deltas("seen").collect())
    assert after == before  # 30 unique rows, not 50 with round 0/1 doubled


def test_compaction_interrupted_reclaim_leaves_no_orphans(spark, tmp_path):
    """Crash AFTER the manifest publish but BEFORE the superseded-dir
    rmtree loop: the old round dirs are unreferenced by the manifest
    and must be reclaimed by cleanup (they are a full pre-compaction
    copy of the table — leaked forever otherwise)."""
    import os

    root = str(tmp_path / "s")
    cat = TableCatalog(spark, root)
    _seed_seen_rounds(spark, cat)
    cat.compact_deltas("seen")
    tdir = os.path.join(root, "tables", "seen")
    # resurrect superseded dirs, as if the reclaim loop never ran
    for r in range(2):
        spark.range(r * 10, r * 10 + 10).select(
            F.col("id").alias("url_hash"),
            F.lit(r).alias("first_seen_round"),
            F.lit(None).cast("timestamp").alias("expires_ts"),
        ).write.mode("overwrite").parquet(os.path.join(tdir, f"round={r}"))

    cat2 = TableCatalog(spark, root)
    cat2.cleanup_uncommitted()
    assert sorted(os.listdir(tdir)) == ["round=2"]
    assert cat2.read_deltas("seen").count() == 30


def test_set_config_on_fresh_dir_still_bootstraps(spark, tmp_path):
    """A pre-crawl set_config commits a config-only round; crawl()
    must still install the seeds (keying bootstrap on the round
    counter silently skipped it and returned [])."""
    from bathyscaphe_spark.config import CrawlConfig
    from bathyscaphe_spark.pipeline.driver import crawl
    from bathyscaphe_spark.pipeline.synth import build_pages, build_seeds
    from bathyscaphe_spark.state.configstore import set_config

    root = str(tmp_path / "s")
    cat = TableCatalog(spark, root)
    set_config(cat, {"refresh-delay": {"delay": 0}})

    pages = build_pages(spark, n_pages=600, n_hosts=12)
    seeds = build_seeds(spark, pages, 4)
    stats = crawl(spark, pages, seeds, root,
                  CrawlConfig(bloom_enabled=False), max_rounds=1)
    assert stats and stats[0].scheduled > 0


def test_repeated_set_config_never_restages_a_committed_round(spark, tmp_path):
    """Each mutation lands under a FRESH round: re-staging config under
    an already-committed round would rmtree a committed dir (a crash
    there leaves the manifest pointing at a missing path)."""
    from bathyscaphe_spark.state.configstore import get_config_raw, set_config

    cat = TableCatalog(spark, str(tmp_path / "s"))
    r1 = set_config(cat, {"refresh-delay": {"delay": 5}})
    r2 = set_config(cat, {"forbidden-hostnames": [{"hostname": "x.onion"}]})
    assert r2 > r1  # monotone, no collision with a committed round
    raw = get_config_raw(cat)
    assert set(raw) == {"refresh-delay", "forbidden-hostnames"}  # merged


def test_dedup_shard_eviction_survives_rollup():
    """The cap must keep binding AFTER the LSM roll-up merges state
    into one chunk: eviction runs BEFORE the merge, so the merged
    chunk is itself ≤ the cap and future batches can still evict it —
    merge-first left a single un-evictable chunk growing forever."""
    from bathyscaphe_spark.streaming.stateful import make_dedup_shard

    kernel = make_dedup_shard(compact_chunks=2, max_state_hashes=150)
    st = _FakeState()
    for b in range(6):  # far past the roll-up threshold
        _run_batch(kernel, st, [f"u{b}-{i}" for i in range(100)],
                   list(range(b * 100, b * 100 + 100)))
        _chunks, n = st.get
        assert n <= 150, f"state grew past the cap at batch {b}: {n}"


def test_stage_stream_batches_keeps_empty_micro_batch(spark, tmp_path):
    """A micro-batch with no rows still arrives — as a schema-only file —
    so the fixture stream keeps its batch count and arrival order."""
    import os

    import pyarrow.parquet as pq

    from bathyscaphe_spark.queries import _stage_stream_batches

    df = spark.range(6).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.col("id").alias("url_hash"),
    )
    # batch ids 0 and 2 only: batch 1 has no rows
    in_dir = _stage_stream_batches(
        df, (F.col("url_hash") % 2) * 2, 3, str(tmp_path), ["url", "url_hash"]
    )
    files = [os.path.join(in_dir, f"batch-{b}.parquet") for b in range(3)]
    assert sorted(os.listdir(in_dir)) == [os.path.basename(f) for f in files]
    mtimes = [os.path.getmtime(f) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    empty = pq.read_table(files[1])
    assert empty.num_rows == 0
    assert empty.column_names == ["url", "url_hash"]
    streamed = spark.read.schema("url string, url_hash long").parquet(in_dir)
    assert sorted(r["url_hash"] for r in streamed.collect()) == list(range(6))
