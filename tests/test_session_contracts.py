"""Contract tests for the two-tier python-worker idle-timeout policy.

VERDICT r7 Wrong #3: the measured adjudication evidence was built on a
600s bench timeout while the shipped library default is 1800s, and the
docs described the two interchangeably. The policy is now explicit
(session.py comment + SCALE.md "Round-7 resilience"):

- LIBRARY sessions: 1800s, killOnIdleTimeout=true (conservative — job
  profile unknown; ~100x worst observed per-batch stall). A constant: a
  caller that needs another value passes it through get_spark(extra_conf=).
- BENCH/scaling sessions: bench.bench_idle_timeout_s(docs) — 600s floor,
  scaled with input size, capped at the 1800s library default (ADVICE r7:
  a fixed 600s override shrinks the safety margin at 16M+ docs).

These tests pin BOTH values so the code and the evidence narrative can't
drift apart again.
"""

from __future__ import annotations

import bench


def test_library_default_is_1800s_kill_on():
    import inspect

    from thesaurus_based_ner_spark import session

    src = inspect.getsource(session.get_spark)
    # one constant default, no env override: callers use extra_conf
    assert '.config("spark.python.worker.idleTimeoutSeconds", "1800")' in src
    assert '.config("spark.python.worker.killOnIdleTimeout", "true")' in src
    assert "SPARK_GRAFT_WORKER_IDLE_S" not in src


def test_bench_timeout_floor_is_600s_small_inputs():
    # known-profile bench jobs self-heal in minutes at driver-bench sizes
    assert bench.bench_idle_timeout_s(100_000) == 600
    assert bench.bench_idle_timeout_s(1_000_000) == 600
    assert bench.bench_idle_timeout_s(4_000_000) == 600


def test_bench_timeout_scales_with_docs():
    # +150s per additional 4M docs past 4M — a legitimately long batch at
    # large inputs is never killed by a fixed small timeout (ADVICE r7)
    assert bench.bench_idle_timeout_s(8_000_000) == 750
    assert bench.bench_idle_timeout_s(16_000_000) == 1050
    assert bench.bench_idle_timeout_s(16_000_000) > 600


def test_bench_timeout_capped_at_library_default():
    # the bench tier never exceeds the conservative library tier
    assert bench.bench_idle_timeout_s(10**9) == 1800


def test_live_session_confs(spark):
    """The shared test session must carry the library-tier values."""
    conf = spark.conf
    assert conf.get("spark.python.worker.killOnIdleTimeout") == "true"
    assert int(conf.get("spark.python.worker.idleTimeoutSeconds")) == 1800


def test_driver_memory_default_fits_host(monkeypatch):
    """The library's driver heap default is half the host's memory (or
    its cgroup limit), 1g-48g — never the old fixed 48g on a smaller box."""
    from thesaurus_based_ner_spark import session

    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    with open("/proc/meminfo") as f:
        host_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    got = session.driver_memory()
    assert got == session.host_driver_memory()
    gb = int(got.rstrip("g"))
    assert 1 <= gb <= 48
    assert gb * 2**30 <= max(2**30, host_kb * 1024 // 2)


def test_driver_memory_derivation(tmp_path):
    from thesaurus_based_ner_spark.session import host_driver_memory

    def meminfo(gib):
        p = tmp_path / f"meminfo{gib}"
        p.write_text(f"MemTotal:       {gib * 2**20} kB\nMemFree: 1 kB\n")
        return str(p)

    def cgroup(text):
        p = tmp_path / "memory.max"
        p.write_text(text + "\n")
        return str(p)

    missing = str(tmp_path / "no-cgroup")
    assert host_driver_memory(meminfo(16), missing) == "8g"
    assert host_driver_memory(meminfo(256), missing) == "48g"  # capped
    assert host_driver_memory(meminfo(1), missing) == "1g"  # floor
    assert host_driver_memory(meminfo(16), cgroup("max")) == "8g"
    assert host_driver_memory(meminfo(16), cgroup(str(6 * 2**30))) == "3g"


def test_driver_memory_env_override_wins(monkeypatch):
    from thesaurus_based_ner_spark import session

    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.driver_memory() == "3g"
