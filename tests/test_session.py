"""One session builder: every entry point gets its SparkSession from
``get_spark``, and the session it builds carries the engine defaults."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _python_files() -> list[str]:
    try:
        out = subprocess.run(
            ["git", "ls-files", "*.py"],
            cwd=REPO, capture_output=True, text=True, check=True,
        ).stdout.split()
    except (OSError, subprocess.CalledProcessError):  # not a git checkout
        out = [
            os.path.relpath(os.path.join(d, f), REPO)
            for d, _, files in os.walk(REPO)
            for f in files
            if f.endswith(".py")
        ]
    return out


def test_only_session_module_builds_a_session():
    needle = "SparkSession" + ".builder"
    builders = []
    for rel in _python_files():
        with open(os.path.join(REPO, rel), encoding="utf-8") as fh:
            if needle in fh.read():
                builders.append(rel)
    assert builders == [os.path.join("eclipse_spark", "session.py")], builders


def test_default_session_schedules_fair(spark):
    assert spark.sparkContext.getConf().get("spark.scheduler.mode") == "FAIR"


def test_default_cap_follows_the_master_not_the_machine(spark, monkeypatch):
    from eclipse_spark.session import run_concurrent

    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    live = peak = 0
    lock = threading.Lock()

    def thunk():
        nonlocal live, peak
        with lock:
            live += 1
            peak = max(peak, live)
        time.sleep(0.05)
        with lock:
            live -= 1

    run_concurrent(spark, [thunk] * 64)
    assert peak <= max(4, spark.sparkContext.defaultParallelism // 2), peak


def test_entry_scripts_import_without_starting_a_session():
    scripts = ["bench.py"] + sorted(
        os.path.join("tools", f)
        for f in os.listdir(os.path.join(REPO, "tools"))
        if f.endswith(".py")
    )
    probe = f"""
import importlib.util, os, sys
from pyspark import SparkContext
for i, rel in enumerate({scripts!r}):
    spec = importlib.util.spec_from_file_location(f"entry_{{i}}", os.path.join({REPO!r}, rel))
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
    assert SparkContext._gateway is None, rel
"""
    done = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-2000:]


def codegen_pass(spark, n: int = 60) -> None:
    """``n`` small queries whose generated code differs (the literals are
    inlined into it); each compiles a class on the driver and again on
    the executor, so a pass needs about ``2 * n`` codegen cache entries."""
    for i in range(n):
        spark.range(3).selectExpr(f"id * {i + 7} + {i} AS x").collect()


def _compiles(spark) -> int:
    from eclipse_spark import status

    return status(spark).codegen_compiles


def test_repeated_queries_reuse_compiled_code(spark):
    before = _compiles(spark)
    codegen_pass(spark)
    first = _compiles(spark) - before
    assert first > 100, first  # more entries than Spark's default cap
    codegen_pass(spark)
    assert _compiles(spark) - before == first


def test_codegen_cache_size_holds_when_first_query_runs_in_a_worker():
    probe = f"""
import sys
sys.path[:0] = [{REPO!r}, {os.path.join(REPO, "tests")!r}]
from eclipse_spark.session import EngineConfig, get_spark, run_concurrent
from test_session import _compiles, codegen_pass
spark = get_spark(EngineConfig(master="local[2]", app_name="codegen_probe"))
# df.rdd (as in util.ensure_parallelism) compiles outside the action
# scope that makes the session active, so this worker's first compile
# reads Spark's default cap unless get_spark sized the cache first
run_concurrent(spark, [lambda: spark.range(3).selectExpr("id + 1 AS x").rdd.getNumPartitions()])
codegen_pass(spark)
before = _compiles(spark)
codegen_pass(spark)
print("recompiles", _compiles(spark) - before)
spark.stop()
"""
    done = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    assert done.stdout.split()[-2:] == ["recompiles", "0"], done.stdout[-2000:]


def test_status_reports_codegen_compiles(spark):
    from eclipse_spark import status

    def run():
        spark.range(5).selectExpr("id * 918273 + 645 AS x").collect()

    s0 = status(spark)
    run()
    s1 = status(spark)
    assert s1.codegen_compiles > s0.codegen_compiles
    assert s1.codegen_compile_ms > s0.codegen_compile_ms
    run()
    s2 = status(spark)
    assert (s2.codegen_compiles, s2.codegen_compile_ms) == (
        s1.codegen_compiles, s1.codegen_compile_ms
    )
