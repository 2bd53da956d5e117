"""One benchmark run: session, set-up, timed cycles, output checks.

``run.py`` starts this script in a process of its own, so the Spark log
the JVM writes to this process's stderr can be counted, and writes the
raw measurements to ``--result`` as JSON.  Exits non-zero when set-up
fails; failed rounds or queries are counted in the result instead.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from the JVM's /proc status")


def stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway exits when its stdin closes
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, required=True)
    p.add_argument("--t0", type=float, required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--result", required=True)
    args = p.parse_args()

    import pyarrow
    import pyspark

    from bathyscaphe_spark.session import build_session
    from tracing import Tracer
    from workloads import WORKLOADS

    work = Path(args.work)
    cores = len(os.sched_getaffinity(0))
    expected = json.loads((HERE / "expected.json").read_text())
    spark = build_session(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        tracer = Tracer(spark, bool(args.trace))
        tracer.install()
        w = WORKLOADS[args.workload](
            spark, tracer, args.seed, args.seconds, work, cores, expected
        )
        w.setup()
        tracer.mark()
        setup_s = time.monotonic() - args.t0
        e2e = w.run()
        run_s = time.monotonic() - args.t0 - setup_s
        # the checks read the committed tables through the same public
        # readers the tracer wraps: unwrap first so no span counts them
        tracer.uninstall()
        w.check()
        w.notes.append(
            f"set-up {setup_s:.1f} s, timed cycles {run_s:.1f} s, checks "
            f"{time.monotonic() - args.t0 - setup_s - run_s:.1f} s"
        )
        layer = w.per_layer() if args.trace else {}
        w.cleanup()
        peak_rss_mb = (
            jvm_peak_rss_mb(spark)
            + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
    finally:
        stop(spark)
    if args.trace:
        layer["peak_rss_mb"] = peak_rss_mb
        layer["trace.self_s"] = tracer.self_s
        layer["trace.cycle_s"] = e2e["cycle_s"]
        layer["error_rate"] = w.failed / w.attempted
    result = {
        "attempted": w.attempted,
        "failed": w.failed,
        "end_to_end": {"setup_s": setup_s, **e2e},
        "per_layer": layer,
        "errors": w.errors,
        "notes": w.notes,
        "outputs": w.outputs,
        "spans": tracer.spans,
        "env": {
            "nproc": cores,
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0],
            "git_commit": git_commit(),
            "cycles": w.cycles,
        },
    }
    Path(args.result).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
