"""Targeted per-query measurement harness for optimization rounds.

bench.py is FROZEN for driver measurement; this file holds the extra
instrumentation the optimization guide (§1) asks for:

  python bench_extra.py time  Q1 [Q2 ...]   — per-query walls, 2 reps
      (rep timing matches bench.py: fn(spark, SF_DIR).count(), steady =
      min) plus a third noop-sink rep that computes every column.
  python bench_extra.py plan  Q1 [Q2 ...]   — .explain("formatted") to
      plans/<query>_<tag>.txt (tag from $PLAN_TAG, default "now").

Env: SPARK_GRAFT_SF_DIR (default: bench.py's SF_DIR, the sf0.1 tables),
SPARK_GRAFT_CPUS (read by session.get_spark; unset = all cores), PLAN_TAG.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import SF_DIR  # noqa: E402
from thesaurus_based_ner_spark.plans.queries import QUERIES  # noqa: E402

PLAN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans")


def _spark():
    from thesaurus_based_ner_spark.session import get_spark

    local_dir = os.path.join(
        os.environ.get("SPARK_GRAFT_BENCH_TMP", "/dev/shm"), "spark-local"
    )
    os.makedirs(local_dir, exist_ok=True)
    return get_spark("bench_extra", cpus=None, extra_conf={
        "spark.local.dir": local_dir,
    })


def cmd_time(names: list[str]) -> None:
    spark = _spark()
    out = {}
    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        walls = []
        for _ in range(2):
            t0 = time.time()
            fn(spark, SF_DIR).count()
            walls.append(round(time.time() - t0, 3))
        # noop-sink rep: computes every column of every row (guide §1.4)
        t0 = time.time()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        noop = round(time.time() - t0, 3)
        spark.sparkContext.setJobDescription(None)
        out[name] = {"first": walls[0], "steady": min(walls), "noop": noop}
        print(json.dumps({name: out[name]}), flush=True)
    cpus = spark.sparkContext.defaultParallelism
    print(json.dumps({"sf_dir": SF_DIR, "cpus": cpus, "walls": out}))


def cmd_plan(names: list[str]) -> None:
    tag = os.environ.get("PLAN_TAG", "now")
    os.makedirs(PLAN_DIR, exist_ok=True)
    spark = _spark()
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(PLAN_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(path, flush=True)


if __name__ == "__main__":
    cmd, *names = sys.argv[1:]
    if cmd == "time":
        cmd_time(names)
    elif cmd == "plan":
        cmd_plan(names)
    else:
        raise SystemExit(f"unknown command {cmd!r}")
