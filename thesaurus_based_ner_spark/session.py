"""SparkSession factory tuned for this engine.

Local mode is a proxy for a multi-executor cluster: every config here is
chosen to also be correct at 1000 executors (AQE, skew-join handling,
Arrow batching). ``cpus`` is parameterized so the scaling benchmark can run
the same job at N and 4N parallelism (BASELINE.md protocol).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 64


def host_driver_memory(
    meminfo: str = "/proc/meminfo", cgroup_max: str = "/sys/fs/cgroup/memory.max"
) -> str:
    """Half of the memory this host (or its cgroup) allows, as a driver
    heap size: at most 48g, at least 1g.

    In local mode the driver JVM holds every executor's memory, and a
    heap larger than the host turns memory pressure into the OS killing
    the process instead of Spark spilling.
    """
    with open(meminfo) as f:
        total = next(
            int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal:")
        )
    try:
        with open(cgroup_max) as f:
            limit = f.read().strip()
        if limit.isdigit():  # "max" means no cgroup limit
            total = min(total, int(limit))
    except OSError:
        pass
    return f"{max(1, min(48, total // 2 // 2**30))}g"


def driver_memory() -> str:
    """SPARK_DRIVER_MEMORY if set, else host_driver_memory()."""
    return os.environ.get("SPARK_DRIVER_MEMORY") or host_driver_memory()


def get_spark(
    app_name: str = "thesaurus_based_ner_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cpus=None → local[*]. On a real cluster this builder is bypassed by
    spark-submit; everything it sets is also safe as --conf flags.
    """
    if cpus is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        cpus = int(cpus_env) if cpus_env else 0
    # local[N,4]: allow 4 task attempts like a real cluster
    # (spark.task.maxFailures default). Local mode's default of 1 turns a
    # single sandbox-killed python worker into a whole-job failure; on a
    # 1000-executor cluster task retry is the normal recovery path and the
    # engine's operators are deterministic under re-execution.
    master = f"local[{cpus},4]" if cpus and cpus > 0 else "local[*,4]"
    if shuffle_partitions is None:
        shuffle_partitions = max(DEFAULT_SHUFFLE_PARTITIONS, (cpus or 32) * 2)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime coalescing, skew-join splitting, dynamic join strategy.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan below .cache() boundaries (default false pins the
        # pre-AQE partitioning — 200 tiny window tasks on small data)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas UDF / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic timestamps vs DuckDB oracles.
        .config("spark.sql.session.timeZone", "UTC")
        # Local mode: driver is the only JVM.
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Self-healing python workers: this sandbox sporadically kills
        # python worker processes with no OOM record (observed rounds
        # 4/6/7; round-7 jstack: task thread wedged forever in
        # ArrowStreamReader.loadNextBatch after 3 of 4 workers vanished
        # and the stdout-writer thread died). With an idle-kill the JVM
        # terminates the unresponsive worker, the read fails with real
        # diagnostics, and the task retries — the same recovery a cluster
        # relies on for executor loss.
        #
        # TWO-TIER TIMEOUT POLICY (SCALE.md "Round-7 resilience";
        # tests/test_session_contracts.py pins both values):
        # - LIBRARY default (here): 1800s — the job profile of an
        #   arbitrary caller is unknown, so the margin is ~100x the
        #   engine's worst observed per-batch worker stall. A legitimately
        #   long single batch (e.g. a heavily skewed applyInPandas
        #   partition at large inputs) that idles the worker socket for
        #   >30 min is the caller's cue to SALT the key or pass a longer
        #   spark.python.worker.idleTimeoutSeconds through extra_conf
        #   (killOnIdleTimeout=false disables the kill entirely, leaving
        #   faulthandler + task retry as the recovery path).
        # - BENCH/scaling sessions: bench.bench_idle_timeout_s(docs) —
        #   600s floor scaled with input size, capped at this 1800s —
        #   because the bench job profile is known (heaviest batch is
        #   seconds at 100k docs) and a wedged scaling rep should
        #   self-heal in minutes, not at the 3.7h subprocess cap; it
        #   passes its value through extra_conf, which overrides this one.
        .config("spark.python.worker.idleTimeoutSeconds", "1800")
        .config("spark.python.worker.killOnIdleTimeout", "true")
        # ContextCleaner only reclaims dropped localCheckpoint / broadcast
        # blocks when a driver GC collects their weak refs, and its
        # fallback periodic GC defaults to 30 MIN — so a long multi-query
        # session (the bench runs ~80 queries, many of which checkpoint
        # multi-GB intermediates at sf1.0) accumulates dead storage blocks
        # for half an hour, and later queries run under escalating heap
        # pressure (r8 verdict: vector-family walls 2-3x their fresh-JVM
        # times in-session). A 2-minute periodic GC bounds that
        # accumulation; on a cluster the same trigger frees executor
        # blocks, so the setting is scale-neutral (guide §5).
        .config("spark.cleaner.periodicGC.interval", "2min")
        # Spark 4.1.2: RemoveRedundantAliases emits invalid plans (and
        # checkpoint/cache canonicalization NoSuchElementExceptions) on
        # iterative self-join graphs over checkpointed frames; excluding it
        # costs only a few surviving no-op projections.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.RemoveRedundantAliases",
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
