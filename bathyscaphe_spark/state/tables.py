"""Snapshot-versioned parquet tables — the engine's state backend.

Replaces the reference's external state (RabbitMQ queues, Redis keyspaces,
Elasticsearch index — reference: internal/event/event.go:7-16,
internal/cache/redis.go) with durable tables, and replaces Iceberg
snapshots (no Iceberg runtime jar ships in this environment) with an
equivalent commit protocol:

* every table's data lives under ``<root>/tables/<name>/round=N/`` —
  one immutable parquet directory per crawl round,
* a write first lands in a staging directory, then is atomically renamed
  into place,
* a round is COMMITTED only when the round barrier file ``_rounds.json``
  is atomically replaced listing the round and its table deltas —
  a crashed round leaves only ignorable staging/orphan dirs, never a
  half-visible round (WAP: write-audit-publish per round),
* resume = read the barrier file, continue from max committed round + 1.

Two table flavors:

* **append-only / delta** tables (``frontier``, ``seen``, ``resources``,
  ``timeouts``, ``metrics``): a read at round N unions all committed
  deltas ≤ N — exactly Iceberg snapshot-as-of semantics,
* **full-state** tables (``host_failures``, ``blacklist``, ``robots``):
  each round rewrites the complete (small) state; a read at round N
  returns the latest committed state ≤ N.

At 100 TB the same layout holds: per-round parquet deltas are
hive-partitioned by ``round`` so time travel prunes on the partition
value, appends never rewrite history, and the periodic
``compact_deltas`` job plays the role of Iceberg's rewrite-data-files.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


@dataclass
class TableCatalog:
    spark: SparkSession
    root: str
    _manifest_cache: dict | None = field(default=None, repr=False)

    # --- manifest ---------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_rounds.json")

    def _load_manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"rounds": {}}

    def _manifest_mutex(self):
        """Exclusive cross-PROCESS lock for manifest read-modify-write.

        The documented concurrent use is an operator ``set_config``
        against a running crawl: without serialization, two
        load→modify→store cycles interleave and the last writer
        silently erases the other's round entry (losing a whole round
        commit or the config mutation).  Advisory ``flock`` on a
        sidecar file — correct on local FS and NFSv4; object-store
        deployments are single-writer per state root by contract.  The
        cached manifest is invalidated on acquisition so the holder
        re-reads what prior holders published."""
        import fcntl
        from contextlib import contextmanager

        @contextmanager
        def _held():
            os.makedirs(self.root, exist_ok=True)
            with open(os.path.join(self.root, "_rounds.lock"), "w") as fh:
                fcntl.flock(fh, fcntl.LOCK_EX)
                try:
                    self._manifest_cache = None
                    yield
                finally:
                    fcntl.flock(fh, fcntl.LOCK_UN)

        return _held()

    def _store_manifest(self, manifest: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)  # atomic publish
        self._manifest_cache = manifest

    @property
    def manifest(self) -> dict:
        if self._manifest_cache is None:
            self._manifest_cache = self._load_manifest()
        return self._manifest_cache

    def last_committed_round(self) -> int:
        rounds = self.manifest["rounds"]
        return max((int(r) for r in rounds), default=-1)

    # --- paths ------------------------------------------------------------
    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, "tables", name)

    def _round_dir(self, name: str, round_n: int) -> str:
        return os.path.join(self._table_dir(name), f"round={round_n}")

    # --- writes (staged, atomic) ------------------------------------------
    def stage_round(
        self, name: str, df: DataFrame, round_n: int, files: int | None = None
    ) -> dict:
        """Write one table's round-N delta/state to staging and atomically
        move it into place.  Invisible to readers until commit_round().

        ``files`` caps the output file count for known-small state tables
        (blacklist/host_failures/metrics/timeouts): a repartition — not a
        coalesce, which would narrow the upstream compute — so a KB-sized
        delta is one file instead of one-per-shuffle-partition.  Per-round
        manifest bloat is what kills long crawls at cluster width."""
        tdir = self._table_dir(name)
        os.makedirs(tdir, exist_ok=True)
        staging = os.path.join(tdir, f"_staging-{round_n}-{uuid.uuid4().hex}")
        if files is not None:
            df = df.repartition(files)
        df.write.mode("overwrite").parquet(staging)
        final = self._round_dir(name, round_n)
        if os.path.exists(final):  # re-run of an uncommitted round
            if name in self.manifest["rounds"].get(str(round_n), {}).get(
                "tables", []
            ):
                # refusing is the only safe move: deleting a COMMITTED
                # dir opens a crash window where the manifest points at
                # a missing directory and every later resume dies
                shutil.rmtree(staging, ignore_errors=True)
                raise ValueError(
                    f"stage_round would overwrite committed {name}@{round_n};"
                    " stage under a fresh round instead"
                )
            shutil.rmtree(final)
        os.rename(staging, final)
        rows = None  # avoid a count job; stats come from the metrics table
        return {"table": name, "round": round_n, "rows": rows}

    def commit_round(self, round_n: int, tables: list[str], extra: dict | None = None) -> None:
        """Publish the round barrier: after this, readers see the round.

        Merges with an existing entry for the round (a round's frontier Δ
        is committed by the *previous* round, ahead of the round's own
        table commit)."""
        self.commit_rounds([(round_n, tables, extra)])

    def commit_rounds(
        self, entries: list[tuple[int, list[str], dict | None]]
    ) -> None:
        """Publish SEVERAL round entries in one atomic manifest replace.

        A crawl round commits its own tables AND the next round's frontier
        delta together — a crash can never leave round N committed with
        its produced frontier invisible (which cleanup_uncommitted() would
        otherwise delete, stranding the crawl)."""
        with self._manifest_mutex():
            manifest = self._load_manifest()
            now = time.time()
            for round_n, tables, extra in entries:
                entry = manifest["rounds"].get(str(round_n), {"tables": []})
                entry["tables"] = sorted(set(entry["tables"]) | set(tables))
                entry["committed_at"] = now
                entry.update(extra or {})
                manifest["rounds"][str(round_n)] = entry
            self._store_manifest(manifest)

    def cleanup_uncommitted(self) -> None:
        """Drop staging dirs, recover interrupted compactions, and drop
        round dirs the manifest does not reference (either newer than
        the last commit, or superseded by a PUBLISHED compaction whose
        reclaim loop was interrupted — without the latter, a full
        pre-compaction copy of the table would leak on disk forever)."""
        last = self.last_committed_round()
        rounds = self.manifest["rounds"]
        tables_root = os.path.join(self.root, "tables")
        if not os.path.isdir(tables_root):
            return
        for name in os.listdir(tables_root):
            tdir = os.path.join(tables_root, name)
            for entry in os.listdir(tdir):
                path = os.path.join(tdir, entry)
                if entry.startswith("_precompact-"):
                    # interrupted compaction.  The manifest is the
                    # truth: only when the compaction PUBLISHED (the
                    # 'compacted' marker lists this table at the target
                    # round) is the new consolidated dir authoritative.
                    # Un-published, the original round dir is — even
                    # when a round=<target> dir exists (the crash
                    # window between the second rename and the
                    # manifest publish; keeping both sides would
                    # double-apply every pre-compaction row forever).
                    rn = entry.split("-")[1]
                    final = os.path.join(tdir, f"round={rn}")
                    published = name in rounds.get(rn, {}).get(
                        "compacted", []
                    )
                    if published and os.path.exists(final):
                        shutil.rmtree(path, ignore_errors=True)
                    else:
                        if os.path.exists(final):
                            shutil.rmtree(final)
                        os.rename(path, final)
                elif entry.startswith("_staging-"):
                    shutil.rmtree(path, ignore_errors=True)
                elif entry.startswith("round="):
                    rn = int(entry.split("=", 1)[1])
                    if rn > last or name not in rounds.get(
                        str(rn), {}
                    ).get("tables", []):
                        shutil.rmtree(path, ignore_errors=True)

    # --- reads ------------------------------------------------------------
    def committed_rounds(self, name: str, upto: int | None = None) -> list[int]:
        """Sorted rounds whose manifest entry lists ``name`` (≤ ``upto``)."""
        rounds = []
        for r, info in self.manifest["rounds"].items():
            rn = int(r)
            if name in info["tables"] and (upto is None or rn <= upto):
                rounds.append(rn)
        return sorted(rounds)

    def read_deltas(
        self, name: str, upto: int | None = None, since: int | None = None
    ) -> DataFrame | None:
        """Append-only table: union of all committed round deltas ≤ upto
        (and > ``since``, when given — the tail read the bucketed seen
        store composes with, state/seenstore.py)."""
        rounds = self.committed_rounds(name, upto)
        if since is not None:
            rounds = [r for r in rounds if r > since]
        paths = [self._round_dir(name, r) for r in rounds]
        paths = [p for p in paths if os.path.exists(p)]
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    def read_round(self, name: str, round_n: int) -> DataFrame | None:
        path = self._round_dir(name, round_n)
        if round_n not in self.committed_rounds(name, round_n) or not os.path.exists(path):
            return None
        return self.spark.read.parquet(path)

    def read_staged(self, name: str, round_n: int) -> DataFrame:
        """One round directory as ``stage_round`` left it, committed or
        not — how a round (or the bootstrap) reads back its own staged
        output before the commit publishes it."""
        return self.spark.read.parquet(self._round_dir(name, round_n))

    def read_state(self, name: str, upto: int | None = None) -> DataFrame | None:
        """Full-state table: the latest committed rewrite ≤ upto."""
        rounds = self.committed_rounds(name, upto)
        if not rounds:
            return None
        return self.spark.read.parquet(self._round_dir(name, rounds[-1]))

    def compact_deltas(self, name: str, agg_fn=None) -> int:
        """Rewrite all committed deltas of an append-only table into one
        consolidated delta (Iceberg rewrite-data-files equivalent) —
        e.g. periodic ``seen`` maintenance: dedupe by url_hash keeping
        the earliest first_seen_round and the latest expiry.

        ``agg_fn(df) -> df`` consolidates rows (default: identity).
        Publishes atomically: the new manifest stops listing the table
        under the old rounds and lists it once under the max round; the
        superseded dirs are removed afterwards (readers go through the
        manifest, never the directory listing).  Returns the number of
        rounds folded."""
        rounds = self.committed_rounds(name)
        if len(rounds) <= 1:
            return 0
        df = self.read_deltas(name)
        if agg_fn is not None:
            df = agg_fn(df)
        target = max(rounds)
        tdir = self._table_dir(name)
        staging = os.path.join(tdir, f"_staging-compact-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(staging)
        old_target = self._round_dir(name, target)
        # backup encodes the round so cleanup can RESTORE it if we crash
        # between the two renames (the only window where round=<target>
        # is missing); it never matches the "round=*" pattern
        backup = os.path.join(tdir, f"_precompact-{target}-{uuid.uuid4().hex}")
        os.rename(old_target, backup)
        os.rename(staging, old_target)
        # the mutex covers only the manifest RMW (not the Spark write):
        # a round committed concurrently simply stays listed beside the
        # consolidated delta — read_deltas unions both, still exact.
        # Concurrent compactions of the SAME table are not supported
        # (maintenance is single-operator per table by contract).
        with self._manifest_mutex():
            manifest = self._load_manifest()
            for r in rounds[:-1]:
                entry = manifest["rounds"][str(r)]
                entry["tables"] = [t for t in entry["tables"] if t != name]
            manifest["rounds"][str(target)].setdefault("compacted", []).append(name)
            self._store_manifest(manifest)  # atomic publish
        shutil.rmtree(backup, ignore_errors=True)
        for r in rounds[:-1]:
            shutil.rmtree(self._round_dir(name, r), ignore_errors=True)
        return len(rounds)

    # tables rewritten whole every round — only the latest matters
    FULL_STATE_TABLES = ("blacklist", "host_failures", "robots", "config")

    def expire_rounds(self, keep_last: int = 2) -> dict[str, int]:
        """Iceberg expire-snapshots equivalent: reclaim space held by
        rounds older than the last ``keep_last`` completed rounds.

        Dropped (manifest entry first — atomic — then files):
        * consumed ``frontier`` deltas below the horizon (each round's
          delta is input to that round only; resume never re-reads it),
        * superseded FULL_STATE_TABLES rewrites below the horizon
          (``read_state`` reads only the latest).

        Append-only history tables (seen, resources, timeouts, metrics,
        link_edges) are untouched — ``compact_deltas`` is their
        maintenance.  Resume stays exact at any boundary ≥ the horizon;
        time travel below it is given up (that is the point).  Returns
        {table: rounds_dropped}.
        """
        with self._manifest_mutex():
            return self._expire_rounds_locked(keep_last)

    def _expire_rounds_locked(self, keep_last: int) -> dict[str, int]:
        manifest = self._load_manifest()
        rounds = manifest["rounds"]
        done = [int(r) for r, e in rounds.items() if "seen" in e["tables"]]
        if not done:
            return {}
        # rounds complete IN ORDER, so every round ≤ max(done) has run
        # even when compact_deltas('seen') has folded the older seen
        # listings onto the max round — deriving per-round doneness
        # from residual 'seen' listings would let the two maintenance
        # operations silently defeat each other (post-compaction, no
        # old frontier delta would ever qualify for expiry again)
        horizon = max(done) - keep_last + 1
        victims: list[tuple[str, int]] = []
        for name in self.FULL_STATE_TABLES:
            committed = self.committed_rounds(name)
            victims += [
                (name, r) for r in committed[:-1] if r < horizon
            ]
        victims += [
            (("frontier"), int(r))
            for r, e in rounds.items()
            if "frontier" in e["tables"] and int(r) < horizon
        ]
        if not victims:
            return {}
        removed: dict[str, int] = {}
        for name, r in victims:
            entry = rounds[str(r)]
            entry["tables"] = [t for t in entry["tables"] if t != name]
            removed[name] = removed.get(name, 0) + 1
        manifest["expired_below"] = max(
            horizon, manifest.get("expired_below", -(10**9))
        )
        self._store_manifest(manifest)  # atomic publish, then reclaim
        for name, r in victims:
            shutil.rmtree(self._round_dir(name, r), ignore_errors=True)
        return removed

    def _round_files(self, name: str, round_n: int) -> list[str]:
        return sorted(
            glob.glob(os.path.join(self._round_dir(name, round_n), "*.parquet"))
        )

    def round_batches(self, name: str, round_n: int, columns: list[str]):
        """Arrow record batches of ``columns`` from one staged or committed
        round directory, read driver-side with pyarrow — no Spark job."""
        for f in self._round_files(name, round_n):
            yield from pq.ParquetFile(f).iter_batches(columns=columns)

    def head_of_state(
        self, name: str, column: str, limit: int
    ) -> list | None:
        """Up to ``limit`` values of one column of a full-state table,
        read driver-side with pyarrow — no Spark job (the per-round F4
        blacklist head is ≤ 65 rows by contract; a Spark collect for it
        cost a scheduler round-trip every round).  Returns None when the
        table has no committed round (callers fall back to the empty
        DataFrame they already hold) — values come from the same parquet
        files ``read_state`` would scan, so the result is identical."""
        rounds = self.committed_rounds(name)
        if not rounds:
            return None
        out: list = []
        for batch in self.round_batches(name, rounds[-1], [column]):
            out.extend(batch.column(0).to_pylist())
            if len(out) >= limit:
                return out[:limit]
        return out

    def rows_in_round(self, name: str, round_n: int) -> int:
        """Exact row count of a staged/committed round directory from the
        parquet footers — no Spark job."""
        return sum(
            pq.read_metadata(f).num_rows for f in self._round_files(name, round_n)
        )

    def destroy(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
