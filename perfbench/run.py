"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload build|search \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Everything the run writes goes under
``.perfbench_work/`` there and is removed at the end.  Lines before
the last one report the workload's own metrics and the run's
provenance; the last line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``).  The exit code is 1 when any answer is wrong and 2
when the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "cs6913_web_search_engines_spark"


def _git_commit() -> str:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() \
            or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _environment(workdir: Path, nproc: int) -> None:
    """Keep Spark, its JVM and its Python workers inside ``workdir`` and
    let the workers import the engine from this checkout."""
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={workdir / 'warehouse'} "
        f"--driver-java-options \"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1\" pyspark-shell")


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["build", "search"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="input sizes; 'tiny' is for the harness smoke tests")
    args = p.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    workdir = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    _environment(workdir, nproc)
    sys.path.insert(0, str(ROOT))

    import numpy
    import pyarrow
    import pyspark

    from perfbench import metrics, workloads
    from cs6913_web_search_engines_spark.session import get_spark

    master = f"local[{nproc}]"
    run_t0 = time.perf_counter()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", master=master,
                          shuffle_partitions=2 * nproc)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        ctx = workloads.Context(
            spark=spark, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), scale=workloads.SCALES[args.scale],
            workdir=str(workdir), session_s=session_s)
        out = workloads.WORKLOADS[args.workload](ctx)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = metrics.driver_peak_rss_mb(int(jvm_pid))
    except Exception:
        traceback.print_exc()
        return 3
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            workdir.parent.rmdir()
        except OSError:
            pass    # another run's directory is still there

    provenance = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "nproc": nproc,
        "master": master, "commit": _git_commit(),
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
    }
    print("provenance " + json.dumps(provenance, sort_keys=True))
    if out.routes:
        print("auto_route " + json.dumps(out.routes, sort_keys=True))
    for err in out.errors:
        print(f"WRONG {err}")
    ratio = metrics.failed_ratio(out.failed, out.attempted)
    report = dict(out.report, failed_ratio=(ratio, "ratio"),
                  driver_peak_rss_mb=(rss_mb, "MB"), session_s=(session_s, "s"),
                  run_s=(time.perf_counter() - run_t0, "s"))
    for name, (value, unit) in report.items():
        print(f"metric {name} {value:.6g} {unit}")

    if args.trace:
        declared = _declared("per_layer")
        measured = dict(out.per_layer, **{"session.start_s": session_s})
        # a layer the workload does not use reads 0
        values = {name: measured.get(name, 0.0) for name, _ in declared}
    else:
        values = {"setup_s": out.setup_s}
        for name, lat in [("op_p50_ms", out.op_s)] + [
                (f"step{i}_p50_ms", v) for i, v in enumerate(out.steps, 1)]:
            values[name] = 1000 * metrics.median(lat) if lat else 0.0
        declared = _declared("end_to_end")
    result = {
        "correct": not out.errors and bool(out.op_s) and all(out.steps),
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {name: {"value": float(values[name]), "unit": unit}
                    for name, unit in declared},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _declared(section: str) -> list[tuple[str, str]]:
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec[section]]


if __name__ == "__main__":
    sys.exit(main())
