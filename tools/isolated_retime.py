"""Isolated per-query re-timing: fresh JVM, one query, N steady reps.

The shared-JVM bench (bench.py main_default) times ~50 queries in one
session, so a query's wall carries whatever heap/codegen-cache state the
previous 30 queries left behind, plus this host's documented ~1.4×
inter-window throughput drift. When a query's bench number swings
round-over-round with NO code change (VERDICT r5: mention_spans_dist
3.8→8.5s, multimodal_features 1.8→7.8s, cosine_topk 2.6→8.0s), this tool
answers "plan regression or harness noise?": each named query gets its
own subprocess (fresh JVM, fresh python-worker pool), one untimed
full-size warm-up run, then N timed steady reps.

Usage:
    python tools/isolated_retime.py mention_spans_dist cosine_topk \
        [--reps 3] [--sf /root/testdata/sf0.1] [--cpus 32]
    python tools/isolated_retime.py --pipeline [--docs 100000] [--reps 3]
Appends one JSON line per query (the pipeline counts as query
"pipeline@<docs>") to BENCH/isolated_retimes.jsonl and prints a summary.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["TBNER_REPO"])
from bench import _spark  # same session conf + tmpfs local dirs as bench
from thesaurus_based_ner_spark.plans.queries import QUERIES

name = os.environ["TBNER_QUERY"]
sf = os.environ["TBNER_SF"]
reps = int(os.environ["TBNER_REPS"])
spark = _spark(int(os.environ["TBNER_CPUS"]))
fn = QUERIES[name]
fn(spark, sf).count()  # untimed warm-up (JIT/codegen/worker pool)
walls = []
for _ in range(reps):
    t0 = time.time()
    fn(spark, sf).count()
    walls.append(round(time.time() - t0, 3))
print("RETIME " + json.dumps({"query": name, "walls": walls}), flush=True)
"""

# Fresh-JVM pipeline re-time (VERDICT r6 Next #3): one untimed full-size
# warm-up (inside run_pipeline_bench(warmup=True)), then N-1 further
# timed steady reps in the same session — exactly the --pipeline-only
# protocol main_scaling uses, so the number is comparable to the
# scaling-ledger walls and adjudicates shared-JVM driver-bench swings.
_CHILD_PIPELINE = r"""
import json, os, sys
sys.path.insert(0, os.environ["TBNER_REPO"])
import bench

docs = int(os.environ["TBNER_DOCS"])
reps = int(os.environ["TBNER_REPS"])
spark = bench._spark(int(os.environ["TBNER_CPUS"]))
out = [bench.run_pipeline_bench(spark, docs, warmup=True)]
for _ in range(reps - 1):
    out.append(bench.run_pipeline_bench(spark, docs, warmup=False))
print("RETIME " + json.dumps({
    "query": f"pipeline@{docs}",
    "walls": [r["wall_s"] for r in out],
    "stage_walls": [r["stage_walls"] for r in out],
    "triples": out[0]["triples"],
}), flush=True)
"""


def _run_child(child_src: str, env: dict, timeout: int) -> tuple[str, str, int]:
    """Run a re-time child in its own session; on timeout kill the whole
    process group so the child's Spark JVM cannot be orphaned, and return
    instead of raising so one hung query doesn't abort the batch
    (ADVICE r6)."""
    proc = subprocess.Popen(
        [sys.executable, "-c", child_src], stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True, env=env, cwd=REPO,
        start_new_session=True,
    )
    try:
        stdout, stderr = proc.communicate(timeout=timeout)
        return stdout or "", stderr or "", proc.returncode
    except subprocess.TimeoutExpired:
        try:
            os.killpg(os.getpgid(proc.pid), signal.SIGKILL)
        except OSError:
            pass
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            pass
        return "", f"timed out after {timeout}s (process group killed)", -9


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--pipeline", action="store_true",
                    help="re-time the full KG pipeline instead of queries")
    ap.add_argument("--docs", type=int, default=int(
        os.environ.get("SPARK_GRAFT_BENCH_DOCS", "100000")))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--timeout", type=int, default=1800)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()
    if not args.queries and not args.pipeline:
        ap.error("name at least one query, or pass --pipeline")

    ledger = os.path.join(REPO, "BENCH", "isolated_retimes.jsonl")
    os.makedirs(os.path.dirname(ledger), exist_ok=True)
    jobs: list[tuple[str, str]] = [(_CHILD, q) for q in args.queries]
    if args.pipeline:
        jobs.append((_CHILD_PIPELINE, f"pipeline@{args.docs}"))
    out = {}
    for child_src, name in jobs:
        env = dict(
            os.environ, TBNER_REPO=REPO, TBNER_QUERY=name,
            TBNER_SF=args.sf, TBNER_REPS=str(args.reps),
            TBNER_CPUS=str(args.cpus), TBNER_DOCS=str(args.docs),
        )
        stdout, stderr, rc = _run_child(child_src, env, args.timeout)
        rec = None
        for line in stdout.splitlines():
            if line.startswith("RETIME "):
                rec = json.loads(line[len("RETIME "):])
        if rec is None:
            sys.stderr.write(
                f"{name}: FAILED (rc={rc}); stderr tail:\n"
                + "\n".join(stderr.splitlines()[-10:]) + "\n")
            continue
        rec.update({
            "window": time.strftime("%Y-%m-%d %H:%M", time.gmtime()),
            "sf": args.sf, "cpus": args.cpus,
            "best": min(rec["walls"]),
        })
        with open(ledger, "a") as f:
            f.write(json.dumps(rec) + "\n")
        out[name] = rec
        print(f"{name}: best {rec['best']}s, walls {rec['walls']}")
    print(json.dumps({k: v["best"] for k, v in out.items()}))


if __name__ == "__main__":
    main()
