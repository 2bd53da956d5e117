"""The benchmark's closed-loop workloads, one client each.

``crawl_expand`` runs the ``bench.py`` headline crawl; ``query_mix`` runs
contract queries against the vendored sf0.01 documents table.  Each workload
builds its inputs from the benchmark seed in ``setup``, runs whole cycles
in ``run`` (the next round or query starts only after the previous one
completed), then checks every output outside the timed code.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from tracing import STAGES, leaf_name, round_breakdown, union_s

HERE = Path(__file__).resolve().parent
QUERY_DATA = HERE / "data" / "sf0.01"  # documents, the one table the mix reads


def per_cycle(total: float, cycles: int) -> float:
    return total / cycles if cycles else 0.0


def median(values: list[float]) -> float:
    """The median, or 0.0 when every operation failed (the run then
    reports ``correct: false``)."""
    return statistics.median(values) if values else 0.0


class Workload:
    name = ""
    nominal_cycle_s = 10.0

    def __init__(self, spark, tracer, seed: int, seconds: int, work: Path,
                 cores: int, expected: dict):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.cycles = max(1, round(seconds / self.nominal_cycle_s))
        self.work = work
        self.cores = cores
        self.expected = expected.get(self.name, {}).get(str(seed))
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.notes: list[str] = []
        self.outputs: dict = {}

    def fail(self, n: int, msg: str) -> None:
        self.failed += n
        self.errors.append(msg)

    def spark_layer(self, wall_s: float) -> dict:
        counters = self.tracer.counters_by_group().values()
        executor_s = sum(c["executor_s"] for c in counters)
        return {
            "spark.core_util": executor_s / (wall_s * self.cores) if wall_s else 0.0,
            "spark.failed_tasks": sum(c["failed_tasks"] for c in counters),
            "spark.jobs": sum(c["jobs"] for c in counters),
        }

    def bloom_layer(self) -> dict:
        spans = self.tracer.spans
        counters = self.tracer.counters_by_group()
        out = {}
        for kind in ("build", "fold"):
            name = f"bloom.{kind}"
            mine = [s for s in spans if s["name"] == name]
            out[f"{name}.s"] = per_cycle(
                sum(s["end"] - s["start"] for s in mine), self.cycles
            )
            out[f"{name}.calls"] = per_cycle(len(mine), self.cycles)
            out[f"{name}.jobs"] = per_cycle(sum(
                c["jobs"] for g, c in counters.items()
                if f"/{name}" in f"/{g}"
            ), self.cycles)
        return out


class CrawlExpand(Workload):
    """The bench.py headline: a 3-round crawl of a 150,000-page,
    750-host universe from one seed page per host, with the Bloom route
    off, after the same warm-up mini-crawl.  One cycle is one crawl; one
    operation is one ``crawl()`` call, which runs one round and resumes
    from the previous round's committed state.  The rounds grow with the
    frontier, so ``op_p50_s`` is the latency of the run's median round."""

    name = "crawl_expand"
    nominal_cycle_s = 20.0
    n_pages = 150_000
    n_hosts = 750
    rounds = 3

    def setup(self) -> None:
        from bathyscaphe_spark.config import CrawlConfig
        from bathyscaphe_spark.pipeline.driver import crawl
        from bathyscaphe_spark.pipeline.synth import (
            build_host_status,
            build_pages,
            build_seeds,
        )

        spark = self.spark
        self.roots: list[str] = []
        self.config = CrawlConfig(per_host_budget=200, bloom_enabled=False)
        # bucket the universe by url like bench.py: the fetch join reuses
        # this partitioning and never shuffles the html side
        self.pages = build_pages(
            spark, n_pages=self.n_pages, n_hosts=self.n_hosts,
            links_per_page=8, parallelism=self.cores,
        ).repartition(self.cores * 2, "url").persist()
        self.seeds = seed_pages(spark, self.pages, self.n_hosts, self.seed)
        self.host_status = build_host_status(self.pages).persist()

        def materialize() -> None:
            self.pages.count()
            self.host_status.count()

        # the universe build keeps the executors busy while the warm-up
        # mini-crawl is mostly driver-side planning: overlapping the two
        # shortens set-up and leaves the timed crawl as it was
        with ThreadPoolExecutor(max_workers=1) as pool:
            universe = pool.submit(materialize)
            warm_root = str(self.work / "warm")
            warm_pages = build_pages(spark, n_pages=2000, n_hosts=40).persist()
            crawl(
                spark, warm_pages, build_seeds(spark, warm_pages, 10), warm_root,
                self.config, max_rounds=2,
            )
            warm_pages.unpersist()
            shutil.rmtree(warm_root, ignore_errors=True)
            universe.result()

    def run(self) -> dict:
        from bathyscaphe_spark.pipeline.driver import crawl

        op_s: list[float] = []
        cycle_s: list[float] = []
        discovered: list[int] = []
        for c in range(self.cycles):
            root = str(self.work / f"state-{c}")
            self.roots.append(root)
            stats, took = [], []
            for r in range(self.rounds):
                self.attempted += 1
                t = time.monotonic()
                try:
                    with self.tracer.span("crawl", r):
                        out = crawl(
                            self.spark, self.pages,
                            self.seeds if r == 0 else None, root, self.config,
                            max_rounds=r + 1, host_status=self.host_status,
                        )
                except Exception as e:  # a failed round ends the cycle
                    self.fail(1, f"cycle {c} round {r} raised {e!r}")
                    break
                took.append(time.monotonic() - t)
                self.tracer.harvest()
                stats.extend(out)
            self.outputs.setdefault("round_s", []).append(took)
            self.outputs.setdefault("round_stats", []).append(
                [[s.scheduled, s.fetched, s.timeouts, s.discovered] for s in stats]
            )
            if len(took) < self.rounds:  # a cut crawl times nothing
                continue
            op_s += took
            cycle_s.append(sum(took))
            discovered.append(sum(s.discovered for s in stats))
        self.notes.append(
            f"op = one crawl() round; {len(op_s)} samples over {len(cycle_s)} "
            f"of {self.cycles} crawls"
        )
        return {
            "cycle_s": median(cycle_s),
            "items_per_s": median([d / s for d, s in zip(discovered, cycle_s)]),
            "op_p50_s": median(op_s),
        }

    def check(self) -> None:
        """RoundStats against the recorded values for this seed, when
        there are any; table fingerprints likewise; and invariants that
        hold for every seed.  A cycle that raised was counted failed in
        ``run`` and is not checked again."""
        from pyspark.sql import functions as F

        from bathyscaphe_spark.state.tables import TableCatalog

        want = self.expected
        for c, (root, rounds) in enumerate(
            zip(self.roots, self.outputs["round_stats"])
        ):
            if len(rounds) != self.rounds:
                continue
            cat = TableCatalog(self.spark, root)
            frontier = cat.read_deltas("frontier")
            seen = cat.read_deltas("seen")
            n_seeds = cat.rows_in_round("seen", -1)
            n_frontier = [cat.rows_in_round("frontier", r) for r in range(len(rounds))]
            prints = {"frontier": fingerprint(frontier), "seen": fingerprint(seen)}
            self.outputs.setdefault("fingerprints", []).append(prints)
            self.outputs.setdefault("frontier_rows", []).append(n_frontier)
            bad: dict[int, str] = {}  # round -> first problem found
            for r, got in enumerate(rounds):
                sched, fetched, timeouts, disc = got
                if not fetched + timeouts <= sched <= n_frontier[r]:
                    bad.setdefault(r, f"inconsistent RoundStats {got}")
                if r == 0 and sched != n_seeds:
                    bad.setdefault(r, f"scheduled {sched} of {n_seeds} seeds")
                if want and got != want["round_stats"][r]:
                    bad.setdefault(r, f"RoundStats {got} != recorded {want['round_stats'][r]}")
            row = seen.agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("url_hash").alias("d"),
            ).first()
            unseen = frontier.join(seen, "url_hash", "left_anti").count()
            last = len(rounds) - 1
            if not row["n"] == row["d"] == n_seeds + sum(r[3] for r in rounds):
                bad.setdefault(last, f"seen has {row['n']} rows, {row['d']} distinct")
            if unseen:
                bad.setdefault(last, f"{unseen} frontier rows never marked seen")
            if want and prints != want["fingerprints"]:
                bad.setdefault(last, f"fingerprints {prints} != recorded")
            for r, problem in sorted(bad.items()):
                self.fail(1, f"cycle {c} round {r}: {problem}")
        self.notes.append(
            "outputs checked against recorded values for this seed"
            if want else
            "no recorded values for this seed: invariants checked only"
        )

    def per_layer(self) -> dict:
        spans = self.tracer.spans
        counters = self.tracer.counters_by_group()
        n = self.cycles
        out: dict = {}

        def dur(name):
            return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

        for stage in STAGES:
            name = f"stage.{stage}"
            agg = [c for g, c in counters.items() if leaf_name(g) == name]
            out[f"{name}.s"] = per_cycle(dur(name), n)
            for k in ("executor_s", "shuffle_bytes", "spill_bytes", "jobs", "tasks"):
                out[f"{name}.{k}"] = per_cycle(sum(c[k] for c in agg), n)
        rounds = round_breakdown(spans)
        for r in rounds:
            self.notes.append(
                f"round {r['round']}: wall {r['wall_s']:.3f} s, longest Phase-B "
                f"span {r['longest_phase_b']} {r['longest_phase_b_s']:.3f} s, "
                f"unattributed {r['unattributed_s']:.3f} s"
            )
        phase_b_union = sum(r["phase_b_union_s"] for r in rounds)
        out.update({
            "round.s": per_cycle(dur("round"), n),
            "round.unattributed_s": per_cycle(sum(r["unattributed_s"] for r in rounds), n),
            "round.writer_overlap": (
                sum(r["phase_b_sum_s"] for r in rounds) / phase_b_union
                if phase_b_union else 0.0
            ),
            "round.critical_s": per_cycle(sum(r["longest_phase_b_s"] for r in rounds), n),
            "driver.s": per_cycle(dur("crawl") - dur("round"), n),
            "state.commit.s": per_cycle(dur("state.commit"), n),
            "state.read_deltas.s": per_cycle(dur("state.read_deltas"), n),
            "state.read_deltas.calls": per_cycle(
                sum(1 for s in spans if s["name"] == "state.read_deltas"), n
            ),
        })
        out.update(self.bloom_layer())
        out.update(self.spark_layer(dur("crawl")))
        stats = [r for cyc in self.outputs.get("round_stats", []) for r in cyc]
        frontier_rows = sum(sum(f) for f in self.outputs.get("frontier_rows", []))
        scheduled = sum(r[0] for r in stats)
        fetched = sum(r[1] for r in stats)
        out.update({
            "politeness.scheduled_share": scheduled / frontier_rows if frontier_rows else 0.0,
            "crawler.ok_share": fetched / scheduled if scheduled else 0.0,
            "scheduler.new_per_fetched": sum(r[3] for r in stats) / fetched if fetched else 0.0,
            "state.bytes_written": per_cycle(sum(tree_bytes(r) for r in self.roots), n),
        })
        return out

    def cleanup(self) -> None:
        for root in self.roots:
            shutil.rmtree(root, ignore_errors=True)


class QueryMix(Workload):
    """Contract queries over the vendored sf0.01 documents table, each executed
    into the noop sink, in passes whose order the seed permutes.  One
    cycle is one pass; one operation is one query execution."""

    name = "query_mix"
    nominal_cycle_s = 10.0
    queries = (
        "scheduler_round", "d1_bloom_incremental", "s4_fetch_join",
        "x8_resource_text", "x4_meta_extract", "f5_sniffed", "bm25_search",
        "dedup_oph_lsh", "exact_substr_dedup", "warc_ingest",
    )

    def setup(self) -> None:
        """The oracle check pass doubles as the warm-up: every query is
        collected once and compared with its DuckDB oracle."""
        import duckdb

        from bathyscaphe_spark.queries import ORACLES, QUERIES

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{QUERY_DATA / 'documents.parquet'}'"
        )
        data = str(QUERY_DATA)
        for name in self.queries:
            self.attempted += 1
            try:
                got = QUERIES[name](self.spark, data).toPandas()
                self.drop_caches()
                want = con.execute(ORACLES[name]).df()
                problem = compare(got, want)
            except Exception as e:
                problem = f"raised {e!r}"
            if problem:
                self.fail(1, f"{name}: {problem}")
        con.close()

    def leaked(self) -> int:
        jss = self.spark._jsparkSession
        return (
            jss.sharedState().cacheManager().numCachedEntries()
            + self.spark.sparkContext._jsc.getPersistentRDDs().size()
        )

    def drop_caches(self) -> None:
        """Drop what an execution left cached, so the next one pays what a
        one-shot user pays; ``clearCache`` alone leaves persisted RDDs."""
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    def run(self) -> dict:
        from bathyscaphe_spark.queries import QUERIES

        data = str(QUERY_DATA)
        rng = random.Random(self.seed)
        self.latency: dict[str, list[float]] = {q: [] for q in self.queries}
        self.leaks = 0
        pass_s, op_s = [], []
        for p in range(self.cycles):
            order = list(self.queries)
            rng.shuffle(order)
            took = []
            for name in order:
                self.attempted += 1
                t = time.monotonic()
                try:
                    with self.tracer.span(f"q.{name}", p):
                        QUERIES[name](self.spark, data).write.format("noop").mode(
                            "overwrite"
                        ).save()
                except Exception as e:
                    self.fail(1, f"pass {p} {name} raised {e!r}")
                    continue
                dt = time.monotonic() - t
                took.append(dt)
                self.latency[name].append(dt)
                self.leaks += self.leaked()
                self.drop_caches()
            self.tracer.harvest()
            op_s += took
            pass_s.append(sum(took))
        self.outputs["latency_s"] = self.latency
        self.notes.append(
            f"op = one query execution; {len(op_s)} samples over {self.cycles} "
            f"passes of {len(self.queries)} queries"
        )
        return {
            "cycle_s": median(pass_s),
            "items_per_s": len(op_s) / sum(op_s) if op_s else 0.0,
            "op_p50_s": median(op_s),
        }

    def check(self) -> None:
        """Outputs were checked against the oracles in ``setup``."""

    def per_layer(self) -> dict:
        counters = self.tracer.counters_by_group()
        out: dict = {}
        shuffle = 0
        for name in self.queries:
            mine = [
                c for g, c in counters.items()
                if g.split("/", 1)[0].split("@", 1)[0] == f"q.{name}"
            ]
            runs = len(self.latency[name])
            out[f"q.{name}.s"] = statistics.median(self.latency[name]) if runs else 0.0
            out[f"q.{name}.jobs"] = sum(c["jobs"] for c in mine) / runs if runs else 0.0
            shuffle += sum(c["shuffle_bytes"] for c in mine)
        wall = union_s([
            (s["start"], s["end"]) for s in self.tracer.spans
            if s["name"].startswith("q.")
        ])
        out.update({
            "query.shuffle_bytes": per_cycle(shuffle, self.cycles),
            "query.leaked_persists": per_cycle(self.leaks, self.cycles),
        })
        out.update(self.bloom_layer())
        out.update(self.spark_layer(wall))
        return out

    def cleanup(self) -> None:
        self.drop_caches()


WORKLOADS = {w.name: w for w in (CrawlExpand, QueryMix)}


def seed_pages(spark, pages, n_hosts: int, seed: int):
    """The seed frontier: ``build_seeds`` for seed 0; for any other seed,
    one seeded representative page per host, in the same host order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bathyscaphe_spark.pipeline.synth import build_seeds

    if seed == 0:
        return build_seeds(spark, pages, n_hosts)
    w = Window.partitionBy("host").orderBy(F.xxhash64("page_id", F.lit(seed)), "page_id")
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .orderBy("page_id")
        .limit(n_hosts)
        .select("url", "host")
    )


def fingerprint(df) -> str:
    """Order-insensitive ``rows:sum(xxhash64(row))`` of a table."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).cast("decimal(38,0)")
        ).alias("h"),
    ).first()
    return f"{row['n']}:{row['h']}"


def compare(got, want) -> str | None:
    """None when two frames hold the same rows in any order (columns by
    name, values as strings, nulls alike), else what differs."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if not canon(got).equals(canon(want)):
        return "values differ"
    return None


def canon(df):
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(
            lambda v: "∅" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v)
        )
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def tree_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total
