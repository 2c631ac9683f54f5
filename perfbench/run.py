"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,serve} --seed N --seconds S --trace {0,1}

Run from the repository root. One run is one fresh process: it pins itself
to every CPU it may use, starts Spark at local[nproc] with nproc shuffle
partitions, makes its inputs from the seed, sets up, measures for S seconds,
checks every answer against the oracle and prints one JSON object as the
last line of standard output. All files go under .perfbench/ in the current
directory; the work directory is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [HERE, ROOT]

def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["build", "serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="tiny: smoke-test sizes")
    p.add_argument("--corrupt-oracle", action="store_true",
                   help="perturb the expected answers (the check must fail)")
    return p.parse_args(argv)


def descendants(root: int) -> list[int]:
    """`root` and every process below it, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def prepare_env(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    `work`, and let the workers import the package from the checkout."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        PYTHONPATH=os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_WAREHOUSE=os.path.join(work, "warehouse"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for every
    process this run started to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)


def commit_id() -> str:
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as f:
                return f.read().strip()
        return head
    except OSError:
        return "unknown"


def environment(args, sizes) -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    return {
        "commit": commit_id(), "nproc": args.cores, "python": sys.version.split()[0],
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__, "duckdb": duckdb.__version__,
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "sizes": sizes,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    cpus = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cpus)  # pinned before the JVM starts
    args.cores = len(cpus)
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work, args.cores)

    # fails (exit 1, nothing printed on stdout) where the package is absent
    from information_retrieval_project_spark.session import get_spark

    import traced
    import workloads as W

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}
    sizes = W.SIZES[args.scale]
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{args.cores}]",
                      shuffle_partitions=args.cores)
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    run = W.Run(spark, args, sizes, work)
    try:
        if args.trace:
            # 0 for the layers this workload's traced run does not call
            values = dict.fromkeys(units, 0)
            values["session.get_spark_s"] = session_s
            {"build": traced.build_traced, "serve": traced.serve_traced}[
                args.workload](run, values)
        else:
            values = {"build": W.build_workload, "serve": W.serve_workload}[
                args.workload](run)
            values["setup_s"] += session_s
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        run.info["stop_s"] = time.perf_counter() - t
    if values.keys() != units.keys():
        raise RuntimeError(f"metrics differ from BENCHMARK.json: "
                           f"{sorted(values.keys() ^ units.keys())}")
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    record = {
        "environment": environment(args, sizes),
        "attempted": run.attempted, "failed": run.failed,
        "ops_failed_ratio": run.failed / max(1, run.attempted),
        "info": run.info, "metrics": metrics,
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        run.tracer.dump(os.path.join(out_dir, f"{tag}-spans.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
