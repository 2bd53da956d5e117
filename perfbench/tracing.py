"""Spans and Spark counters recorded from outside the engine.

A ``Tracer`` wraps the public calls the crawl driver and the query mix
make -- ``run_round`` where the driver looks it up,
``TableCatalog.stage_round`` / ``commit_rounds`` / ``read_deltas`` and
``ShardedBloom.build`` / ``or_delta`` -- in spans (name, start, end,
parent, round or query).  Inside each span it sets the Spark job group
to the span's path, so every job lands under the innermost span of the
thread that submitted it.  Local properties are per thread: the group a
``stage_round`` span sets on a writer-pool thread tags that thread's jobs.

Counters come from the SparkContext status store (jobs, stages, tasks,
executor run time, shuffle and spill bytes), read with one JSON export
per harvest.  Spans and counters stay in memory until the run ends.

A disabled tracer patches nothing and its ``span`` is a no-op, so the
untraced run executes the engine exactly as a user would.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"
# run_round writes these two sequentially before the concurrent writer
# pool starts; every other stage span of a round is a Phase-B write
PHASE_A = ("timeouts", "frontier")
STAGES = (
    "timeouts", "frontier", "seen", "resources",
    "host_failures", "blacklist", "metrics",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self.stages: dict[tuple[int, int], dict] = {}
        self.self_s = 0.0  # time spent harvesting counters
        self.round_ctx: tuple[int, str] | None = None  # run_round in flight
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._last_job = -1
        self._stage_keys: set[tuple[int, int]] = set()
        self._patches: list[tuple[object, str, object]] = []
        self._mapper = None

    # --- spans ------------------------------------------------------------
    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, tag=None):
        """Time the block as span ``name``; yields (span id, job group).
        A thread with no open span (a writer-pool thread) hangs its
        spans off the round in flight."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.round_ctx
        parent_id, parent_group = parent if parent else (None, "")
        leaf = name if tag is None else f"{name}@{tag}"
        group = f"{parent_group}/{leaf}" if parent_group else leaf
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, group)
        stack.append((sid, group))
        start = time.monotonic()
        try:
            yield sid, group
        finally:
            end = time.monotonic()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev)
            with self._lock:
                self.spans.append({
                    "id": sid, "name": name, "tag": tag, "parent": parent_id,
                    "group": group, "start": start, "end": end,
                })

    # --- wrapping the engine's public calls ---------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        if not self.enabled:
            return
        from bathyscaphe_spark.operators.bloom import ShardedBloom
        from bathyscaphe_spark.pipeline import driver
        from bathyscaphe_spark.state.tables import TableCatalog

        tracer = self
        run_round = driver.run_round

        def traced_run_round(catalog, pages, host_status, config, round_n, *a, **kw):
            with tracer.span("round", round_n) as ctx:
                tracer.round_ctx = ctx
                try:
                    return run_round(
                        catalog, pages, host_status, config, round_n, *a, **kw
                    )
                finally:
                    tracer.round_ctx = None

        self._patch(driver, "run_round", traced_run_round)

        def method(name: str, span_name):
            orig = TableCatalog.__dict__[name]

            def traced(catalog, *a, **kw):
                label, tag = span_name(*a, **kw)
                with tracer.span(label, tag):
                    return orig(catalog, *a, **kw)

            self._patch(TableCatalog, name, traced)

        def stage_label(name, df, round_n, *a, **kw):
            # writes outside a round are the driver's bootstrap
            kind = "stage" if tracer.round_ctx is not None else "bootstrap"
            return f"{kind}.{name}", round_n

        method("stage_round", stage_label)
        method("commit_rounds", lambda *a, **kw: ("state.commit", None))
        method("read_deltas", lambda *a, **kw: ("state.read_deltas", None))

        build = ShardedBloom.__dict__["build"].__func__
        or_delta = ShardedBloom.__dict__["or_delta"]

        def traced_build(cls, *a, **kw):
            with tracer.span("bloom.build"):
                return build(cls, *a, **kw)

        def traced_or_delta(bloom, *a, **kw):
            with tracer.span("bloom.fold"):
                return or_delta(bloom, *a, **kw)

        self._patch(ShardedBloom, "build", classmethod(traced_build))
        self._patch(ShardedBloom, "or_delta", traced_or_delta)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # --- counters -----------------------------------------------------------
    def harvest(self) -> None:
        """Copy the jobs and stage attempts finished since the last harvest
        out of the status store."""
        if not self.enabled:
            return
        t = time.monotonic()
        jvm = self.sc._jvm
        ctx = self.sc._jsc.sc()
        ctx.listenerBus().waitUntilEmpty()
        store = ctx.statusStore()
        if self._mapper is None:
            self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            self._mapper.registerModule(
                jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule()
            )
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        jobs = json.loads(self._mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(self._mapper.writeValueAsString(
            store.stageList(None, False, False, no_quantiles, None)
        ))
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            if j["jobId"] > self._last_job:
                self.jobs.append({
                    "id": j["jobId"],
                    "group": j.get("jobGroup") or "",
                    "stages": j["stageIds"],
                    "tasks": j["numCompletedTasks"] + j["numFailedTasks"],
                })
                self._last_job = j["jobId"]
        for s in stages:
            key = (s["stageId"], s["attemptId"])
            if key in self._stage_keys or s["status"] not in ("COMPLETE", "FAILED"):
                continue
            self._stage_keys.add(key)
            self.stages[key] = {
                "executor_s": s["executorRunTime"] / 1000.0,
                "shuffle_bytes": s["shuffleReadBytes"] + s["shuffleWriteBytes"],
                "spill_bytes": s["diskBytesSpilled"],
                "failed_tasks": s["numFailedTasks"],
            }
        self.self_s += time.monotonic() - t

    def mark(self) -> None:
        """Start counting here: drop the spans and counters recorded so far
        (set-up and warm-up), keep only what the timed section adds."""
        if not self.enabled:
            return
        self.harvest()
        self.spans.clear()
        self.jobs.clear()
        self.stages.clear()
        self.self_s = 0.0

    def counters_by_group(self) -> dict[str, dict]:
        """Sum job and stage counters per job group.  A stage listed by
        several jobs (a reused shuffle) counts once, for its first job."""
        owner: dict[int, int] = {}
        for j in self.jobs:
            for sid in j["stages"]:
                owner.setdefault(sid, j["id"])
        by_job = {j["id"]: j for j in self.jobs}
        out: dict[str, dict] = {}

        def slot(group: str) -> dict:
            return out.setdefault(group, {
                "jobs": 0, "tasks": 0, "failed_tasks": 0, "executor_s": 0.0,
                "shuffle_bytes": 0, "spill_bytes": 0,
            })

        for j in self.jobs:
            c = slot(j["group"])
            c["jobs"] += 1
            c["tasks"] += j["tasks"]
        for (sid, _attempt), s in self.stages.items():
            job = by_job.get(owner.get(sid))
            c = slot(job["group"] if job else "")
            for k in ("executor_s", "shuffle_bytes", "spill_bytes", "failed_tasks"):
                c[k] += s[k]
        return out


def leaf_name(group: str) -> str:
    """The span name of a job group's innermost span."""
    return group.rsplit("/", 1)[-1].split("@", 1)[0]


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def round_breakdown(spans: list[dict]) -> list[dict]:
    """Per traced round: wall, the part no stage or commit span covers,
    the Phase-B writer overlap and the longest Phase-B span."""
    out = []
    for r in (s for s in spans if s["name"] == "round"):
        kids = [s for s in spans if s["parent"] == r["id"]]
        covered = [
            (s["start"], s["end"]) for s in kids
            if s["name"].startswith("stage.") or s["name"] == "state.commit"
        ]
        phase_b = [
            s for s in kids
            if s["name"].startswith("stage.")
            and s["name"][len("stage."):] not in PHASE_A
        ]
        longest = max(phase_b, key=lambda s: s["end"] - s["start"], default=None)
        wall = r["end"] - r["start"]
        out.append({
            "round": r["tag"],
            "wall_s": wall,
            "unattributed_s": wall - union_s(covered),
            "phase_b_sum_s": sum(s["end"] - s["start"] for s in phase_b),
            "phase_b_union_s": union_s([(s["start"], s["end"]) for s in phase_b]),
            "longest_phase_b": longest["name"][len("stage."):] if longest else None,
            "longest_phase_b_s": (longest["end"] - longest["start"]) if longest else 0.0,
        })
    return out
