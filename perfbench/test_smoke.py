"""Smoke tests of the benchmark itself, on the sf0.001 inputs. From the
repository root:

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Benchmark runs go through ``run.main`` in a subprocess (one JVM each), so
each run gets a fresh run root as it would in a real invocation. A
``prelude`` run in that process first shrinks the run (``SMALL``) and can
patch the code under test.
"""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.workloads import request_sequence  # noqa: E402

WORKLOADS = ["semcache_rerun", "many_jobs"]
SMOKE = ["--seconds", "1"]
# sf0.001 inputs, one timed set-up, and a cache budget that, like the real
# one at sf0.1, is below the working set: the hot head hits, writes evict.
SMALL = (
    "from perfbench import common, workloads\n"
    "common.SF = 'sf0.001'\n"
    "workloads.ManyJobs.setup_reps = workloads.SemcacheRerun.setup_reps = 1\n"
    "workloads.CACHE_BUDGET = 96 << 10\n"
)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _python(code: str) -> str:
    """Run Python in a fresh process from the repository root; return its
    stdout."""
    proc = subprocess.run(
        [sys.executable, "-c", f"import sys; sys.path.insert(0, {ROOT!r})\n{code}"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout


@functools.lru_cache(maxsize=None)
def _bench(*args: str, prelude: str = "") -> tuple[dict, str]:
    """Run the benchmark on the small inputs; return (last-line JSON, full
    stdout). ``prelude`` is Python run in the benchmark process after
    ``SMALL``, before the run starts."""
    stdout = _python(f"{SMALL}{prelude}\nfrom perfbench import run\nsys.exit(run.main({list(args)!r}))")
    return json.loads(stdout.strip().splitlines()[-1]), stdout


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_every_metric_printed_with_its_unit(workload, trace):
    result, stdout = _bench("--workload", workload, "--trace", trace, *SMOKE)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    section = "per_layer" if trace == "1" else "end_to_end"
    want = {m["name"]: m["unit"] for m in _spec()[section]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), k
    if trace == "0":
        for name in list(want) + ["failed_frac", "peak_rss_mb"]:  # the summary names all seven
            assert f"  {name} " in stdout
        assert "req_tail_s is p" in stdout


def test_many_jobs_makes_no_semcache_calls():
    result, _ = _bench("--workload", "many_jobs", "--trace", "1", *SMOKE)
    assert result["metrics"]["semcache.calls"]["value"] == 0


def _processes_under(path: str) -> list[str]:
    """Processes whose command line or environment names ``path``: the
    JVM's temp dir and the Python workers' TMPDIR both lie in the run root."""
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        for f in ("cmdline", "environ"):
            try:
                with open(f"/proc/{d}/{f}", "rb") as fh:
                    if path.encode() in fh.read():
                        found.append(d)
                        break
            except OSError:
                pass
    return found


def test_run_leaves_no_process(tmp_path):
    # many_jobs runs a foreachBatch stream, which starts py4j's callback
    # server, and Python workers forked by the JVM. Output goes to files:
    # waiting on pipes would also wait for any process that inherited them.
    args = ["--workload", "many_jobs", "--trace", "0", *SMOKE]
    code = f"import sys; sys.path.insert(0, {ROOT!r})\n{SMALL}from perfbench import run\nsys.exit(run.main({args!r}))"
    with open(tmp_path / "out", "w") as out, open(tmp_path / "err", "w") as err:
        proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT, stdout=out, stderr=err, timeout=600)
    assert proc.returncode == 0, (tmp_path / "err").read_text()[-3000:]
    assert _processes_under(os.path.join(ROOT, ".perfbench_run")) == []


def test_same_seed_same_request_sequence():
    assert request_sequence(11, 4) == request_sequence(11, 4)
    assert request_sequence(11, 4) != request_sequence(12, 4)


def test_injected_wrong_result_counts_as_failed():
    prelude = (
        "from perfbench import workloads\n"
        "_init = workloads.Env.__init__\n"
        "def _init_wrong(self, *a, **k):\n"
        "    _init(self, *a, **k)\n"
        "    q = self.queries['tpch_q6']\n"
        "    self.queries = {**self.queries, 'tpch_q6': lambda s, d: q(s, d).limit(0)}\n"
        "workloads.Env.__init__ = _init_wrong"
    )
    result, stdout = _bench("--workload", "many_jobs", "--trace", "0", *SMOKE, prelude=prelude)
    assert not result["correct"]
    assert result["failed"] >= 2  # two tpch_q6 jobs per burst
    frac = float(stdout.split("failed_frac")[1].split()[0])
    assert frac == pytest.approx(result["failed"] / result["attempted"])


def _semcache_setup(tmp_path) -> str:
    """Code that sets up semcache_rerun in-process, with a cache budget
    that never evicts, as ``env`` and ``wl``."""
    return (
        f"{SMALL}workloads.CACHE_BUDGET = 1 << 30\n"
        f"d = common.RunDirs({str(tmp_path / 'run')!r}); d.make()\n"
        "env = workloads.Env(d, 3); env.start_session(); d.reset_state()\n"
        "common.load_inputs(common.SF, d.catalog, workloads.SemcacheRerun.tables)\n"
        "wl = workloads.SemcacheRerun(env); wl.setup()\n"
    )


def test_stale_served_result_counts_as_failed(tmp_path):
    # A cache key that drops the table version serves the result from
    # before a write. The pipeline was checked before the write, so a
    # reference memoised per cache key would be stale too; the check keys it
    # on the Catalog's versions instead.
    _python(
        "from eclipse_spark.plans import dag\n"
        "_leaf = dag.PlanNode.leaf\n"
        "def _leaf_unversioned(op, **params):\n"
        "    params.pop('version', None)\n"
        "    return _leaf(op, **params)\n"
        "dag.PlanNode.leaf = staticmethod(_leaf_unversioned)\n"
        f"{_semcache_setup(tmp_path)}"
        "assert wl._request('ev_by_type', False).ok\n"
        "assert wl._request('write:events', False).ok\n"
        "r = wl._request('ev_by_type', False)\n"
        "assert r.hit and not r.ok, r\n"
        "env.spark.stop()"
    )


def test_tiny_cache_budget_evicts():
    result, _ = _bench("--workload", "semcache_rerun", "--trace", "1", *SMOKE, prelude="workloads.CACHE_BUDGET = 4096")
    assert result["metrics"]["semcache.evictions_per_req"]["value"] > 0


def test_traced_run_without_evictions_is_incorrect():
    result, _ = _bench("--workload", "semcache_rerun", "--trace", "1", *SMOKE, prelude="workloads.CACHE_BUDGET = 1 << 30")
    assert result["failed"] == 0 and not result["correct"]
    assert result["metrics"]["semcache.evictions_per_req"]["value"] == 0


def test_table_write_makes_dependent_pipeline_miss(tmp_path):
    _python(
        f"{_semcache_setup(tmp_path)}"
        "run_ = lambda name: wl.pipes[name](wl.catalog, wl.cache).run()[1]\n"
        "assert run_('ev_by_type') is True and run_('doc_words') is True\n"
        "wl.catalog.write('events', wl._delta('events'))\n"
        "assert run_('ev_by_type') is False, 'write did not invalidate'\n"
        "assert run_('ev_by_type') is True and run_('doc_words') is True\n"
        # consecutive nation writes (3 writes apart) change the region counts
        "counts = lambda: common.digest(wl.pipes['nation_by_region'](wl.catalog, None).run()[0].toPandas())\n"
        "seen = [counts()]\n"
        "for _ in range(2):\n"
        "    wl.catalog.put('nation', wl._delta('nation')); wl.writes += 3; seen.append(counts())\n"
        "assert len({d['sha256'] for d in seen}) == 3, seen\n"
        "env.spark.stop()"
    )
