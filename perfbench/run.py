"""Crawl-and-query benchmark for bathyscaphe_spark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload crawl_expand --seed 0 --seconds 10 --trace 0

Workloads (closed loop, one client, ``local[nproc]``):

* ``crawl_expand`` -- the ``bench.py`` headline: a 3-round crawl of a
  150,000-page, 750-host universe, Bloom route off, after a warm-up
  mini-crawl.  Seed 0 seeds it with ``build_seeds``; any other seed with
  one seeded representative page per host.
* ``query_mix`` -- contract queries over the sf0.01 documents table
  vendored under ``perfbench/data``, in passes whose order the seed
  permutes.

``--seconds`` sets how many cycles (crawls, query passes) run, from each
workload's nominal cycle time, so a given ``--seconds`` always collects
the same number of samples; a workload whose cycle is longer than
``--seconds`` runs one.

End-to-end metrics (``--trace 0``): ``setup_s`` (process start to the
first timed operation), ``cycle_s`` (one crawl or one query pass,
median over the run's cycles), ``items_per_s`` (URLs discovered, or
query executions, per second), ``op_p50_s`` (median latency of one
operation: a crawl round or a query execution).  A run has too few
operations for a tail percentile with ten samples beyond it; the traced
run reports each query's and each round's latency instead.
``peak_rss_mb`` (JVM VmHWM plus the driver's Python peak) is reported by
the traced run too: G1 heap growth makes it vary by a quarter from run
to run.

``--trace 1`` runs the same workload with spans and Spark counters
around the engine's public calls and prints the per-layer metrics
instead.  A per-layer metric of a layer the workload never calls is 0.

Every run checks the outputs: crawl RoundStats and frontier/seen
fingerprints against ``expected.json`` where the seed has recorded
values, invariants for every seed; each query against its DuckDB oracle.
The last line of stdout is one JSON object; a run that failed a check
prints it with ``"correct": false`` and exits 1.  A run that cannot
measure at all (no engine, failed set-up) prints no result and exits 2.
Logs, spans and raw results go to ``.perfbench_work/results``.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
CHILD_TIMEOUT_S = 170
# Spark log lines the engine reports nowhere else, counted per run
LOG_SIGNALS = {
    "log.codegen_fallbacks": "grows beyond 64 KB",
    "log.accumulator_errors": "non-existent accumulator",
}


def stop_session(sid: int, timeout_s: float = 20.0) -> None:
    """Kill what is left of the run's session (the JVM, the Python worker
    daemon, which leads a process group of its own) and wait until every
    member has exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + timeout_s / 2
        pids = session_pids(sid)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while pids and time.monotonic() < deadline:
            time.sleep(0.1)
            pids = session_pids(sid)
        if not pids:
            return


def session_pids(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields: state ppid pgrp session ...
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def count_signals(log: Path) -> dict[str, int]:
    counts = dict.fromkeys(LOG_SIGNALS, 0)
    with open(log, errors="replace") as fh:
        for line in fh:
            for name, needle in LOG_SIGNALS.items():
                if needle in line:
                    counts[name] += 1
    return counts


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=names)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=int, default=spec["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not (ROOT / "bathyscaphe_spark" / "__init__.py").is_file():
        print("perfbench: no bathyscaphe_spark package next to perfbench/",
              file=sys.stderr)
        return 2
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = WORK / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    env.update({
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        # the JVM that launches the gateway writes no perf-data file
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    result_path = work / "result.json"
    log_path = work / "spark.log"
    cmd = [
        sys.executable, str(HERE / "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--t0", repr(T0), "--work", str(work), "--result", str(result_path),
    ]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_session(proc.pid)
            proc.wait()
    keep = WORK / "results"
    keep.mkdir(exist_ok=True)
    shutil.copyfile(log_path, keep / f"{tag}.log")
    if rc != 0 or not result_path.exists():
        why = "timed out" if rc is None else f"exited with {rc}"
        print(f"perfbench: run {why}; log in {keep / (tag + '.log')}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    raw = json.loads(result_path.read_text())
    if args.trace:
        raw["per_layer"].update(count_signals(log_path))
    (keep / f"{tag}.json").write_text(json.dumps(raw, indent=1))
    shutil.rmtree(work, ignore_errors=True)

    section, values = (
        ("per_layer", raw["per_layer"]) if args.trace
        else ("end_to_end", raw["end_to_end"])
    )
    metrics = {}
    for m in spec[section]:
        if m["name"] not in values and section == "end_to_end":
            print(f"perfbench: metric {m['name']} not measured", file=sys.stderr)
            return 2
        metrics[m["name"]] = {"value": values.get(m["name"], 0), "unit": m["unit"]}

    env_info = raw["env"]
    print(
        f"# {args.workload} seed={args.seed} trace={args.trace} "
        + " ".join(f"{k}={v}" for k, v in env_info.items())
    )
    for note in raw["notes"]:
        print(f"# {note}")
    for err in raw["errors"]:
        print(f"# ERROR {err}")
    for name, m in metrics.items():
        print(f"{name} {m['value']} {m['unit']}")
    correct = raw["failed"] == 0 and not raw["errors"]
    print(json.dumps({
        "correct": correct,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
