"""Benchmark of the KG engine: one workload per run, one JSON line out.

Usage, from the repository root:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics; --trace 1 runs the same workload
with every op traced and prints the per-layer metrics (trace.op_p50_s is
the traced op median: the tracing overhead is its difference from the
untraced op_p50_s of the same workload). The last stdout line is
{"correct", "attempted", "failed", "metrics"}; the exit code is non-zero if
an output check did not hold. An operation that raises ends the run with a
traceback, a non-zero exit code and no result line. Spark runs as
local[<cores>] in this process; scratch files live under .perfbench/ and
are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

T_START = time.perf_counter()
ROOT = os.getcwd()
PACKAGE = "thesaurus_based_ner_spark"
sys.path.insert(0, ROOT)


def host_driver_memory() -> str:
    """A quarter of the memory this host (or its cgroup) allows, 1-8 GiB:
    the engine's own default heap is larger than this host."""
    with open("/proc/meminfo") as f:
        total = next(int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal:"))
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit.isdigit():
            total = min(total, int(limit))
    except OSError:
        pass
    return f"{max(1, min(8, total // 4 // 2**30))}g"


@dataclass
class Context:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    trace: bool
    cpus: int
    setup_s: float = 0.0

    def mark_setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T_START


def stop_jvm(spark, tree) -> None:
    """Stop Spark, end the gateway JVM and wait for its Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while tree.processes() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in tree.processes():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def start_spark(work: str, cpus: int):
    """(session, seconds it took): local[cpus] with a host-fit driver heap,
    every scratch file of Spark under work/."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", host_driver_memory())
    from thesaurus_based_ner_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    return spark, time.perf_counter() - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {ROOT}; run from the repository root", file=sys.stderr)
        return 2
    import metrics
    import workloads
    from tracing import ProcessTree, RssSampler, Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    cpus = len(os.sched_getaffinity(0))
    tree = ProcessTree()
    spark, session_start_s = start_spark(work, cpus)
    tracer = Tracer(spark, tree, enabled=False)
    ctx = Context(spark, tracer, work, args.seed, args.seconds, bool(args.trace), cpus)
    try:
        with RssSampler(tree) as rss:
            out = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            tracer.write_jsonl(os.path.join(base, f"trace-{args.workload}-{args.seed}.jsonl"))
    finally:
        stop_jvm(spark, tree)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        values = {name: 0.0 for name, _, _ in metrics.PER_LAYER}
        keys = {k for layer in out.layers for k in layer}
        for k in keys:
            values[k] = statistics.median(layer[k] for layer in out.layers if k in layer)
        values.update(out.extra_layers)
        values["session.start_s"] = session_start_s
        values["session.peak_rss_mb"] = rss.peak_mb
        values["trace.op_p50_s"] = statistics.median(out.samples)
        units = {name: unit for name, unit, _ in metrics.PER_LAYER}
        unknown = set(values) - set(units)
        if unknown:
            raise RuntimeError(f"metrics missing from the schema: {sorted(unknown)}")
    else:
        values = {
            "setup_s": ctx.setup_s,
            "op_p50_s": statistics.median(out.samples),
        }
        units = {name: unit for name, unit, _ in metrics.END_TO_END}

    correct = not out.problems
    for p in out.problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    print(
        "perfbench "
        + json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "cpus": cpus,
                "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
                "session_start_s": round(session_start_s, 3),
                "peak_rss_mb": round(rss.peak_mb, 1),
                "samples_s": [round(s, 4) for s in out.samples],
                **out.summary,
            }
        )
    )
    result = {
        "correct": correct,
        "attempted": max(1, out.attempted),
        "failed": 0,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
