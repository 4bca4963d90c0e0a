"""Benchmark entry point. From the repository root:

    python3 perfbench/run.py --workload many_jobs --seed 1 --seconds 24 --trace 0

Workloads: many_jobs and semcache_rerun (see ``spec.json``). The
run sets up once untimed on the small inputs (JVM launch and JIT), then
several times on the real ones and reports the median, measures a
fixed number of whole units of the workload, sized to take about
``--seconds`` on a 4-core host, checks every output, and prints a
summary followed by one JSON line: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. All mutable state
lives in a fresh ``.perfbench_run/`` root under the current directory,
removed at exit; ``--trace 1`` also writes its spans to
``.perfbench_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402

LAYERS = ["apps", "operators", "pipeline", "plans", "semcache", "storage", "streaming"]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["many_jobs", "semcache_rerun"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _prepare_environment(dirs: common.RunDirs) -> None:
    """Keep every temp file inside the run root and let Spark's Python
    workers import the engine from the checkout."""
    os.environ["TMPDIR"] = dirs.tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = None


def run(args) -> dict:
    """Run one benchmark invocation; returns the result dict."""
    if not os.path.isdir(os.path.join(ROOT, "eclipse_spark")):
        raise SystemExit("perfbench: the engine package eclipse_spark is not in this checkout")
    from perfbench.trace import TRACER
    from perfbench.workloads import WORKLOADS, Env

    common.adopt_orphans()
    root = os.path.join(os.getcwd(), ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    dirs = common.RunDirs(root)
    dirs.make()
    _prepare_environment(dirs)
    try:
        env = Env(dirs, args.seed)
        cls = WORKLOADS[args.workload]
        if args.trace:
            TRACER.install()
        wl = None
        setup_times = []
        # The first set-up is not timed: on the small sf0.001 inputs it
        # launches the JVM and compiles the set-up's plans, so setup_s is a
        # warm session start plus warm-up.
        for i in range(1 + cls.setup_reps):
            t0 = time.perf_counter()
            env.start_session()
            dirs.reset_state()
            wl = cls(env)
            common.load_inputs(common.SF if i else "sf0.001", dirs.catalog, wl.tables)
            wl.setup()
            if i:
                setup_times.append(time.perf_counter() - t0)
        wl.warm()

        # A fixed number of whole units. With --trace 1 they alternate
        # untraced and traced, an odd number of them, untraced first: both
        # modes then sit at the same mean position in the run, so a warm-up
        # trend does not count as tracing overhead.
        reqs_by_mode: dict[bool, list] = {False: [], True: []}
        wall = {False: 0.0, True: 0.0}
        modes = [False, True] if args.trace else [False]
        n_units = max(1, round(args.seconds / wl.unit_seconds))
        if args.trace:
            n_units = max(3, n_units | 1)
        for i in range(n_units):
            traced = modes[i % len(modes)]
            unit = wl.unit(traced)
            reqs_by_mode[traced].extend(unit)
            wall[traced] += wl.wall(unit)
        result = summarize(args, env, wl, setup_times, reqs_by_mode, wall)
        if args.trace:
            os.makedirs(".perfbench_traces", exist_ok=True)
            TRACER.dump(os.path.join(".perfbench_traces", f"{args.workload}-seed{args.seed}.jsonl"))
        return result
    finally:
        # Every way out stops the session, the gateway JVM and whatever it
        # forked, and waits for each to end; a SIGTERM cannot cut this short.
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        from eclipse_spark.session import stop_spark

        try:
            stop_spark()
        except Exception as exc:
            print(f"perfbench: stopping the session: {exc!r}", file=sys.stderr)
        finally:
            common.stop_gateway()
            left = common.stop_descendants()
            if left:
                print(f"perfbench: processes {left} did not end", file=sys.stderr)
            shutil.rmtree(root, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(root))
            except OSError:
                pass


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def summarize(args, env, wl, setup_times, reqs_by_mode, wall) -> dict:
    plain = reqs_by_mode[False]
    traced = reqs_by_mode[True]
    every = plain + traced
    attempted = len(every)
    failed = sum(1 for r in every if not r.ok)
    for r in every:
        if not r.ok:
            print(f"FAILED {r.error}", file=sys.stderr)

    ok_lat = [r.latency for r in plain if r.ok]
    rss_py, rss_jvm = common.peak_rss_mb(env.jvm_pid)
    tail_v, tail_p, tail_n = common.tail(ok_lat)
    e2e = {
        "setup_s": (common.median(setup_times), "s"),
        "req_p50_s": (common.median(ok_lat), "s"),
        "req_tail_s": (tail_v, "s"),
        "req_per_s": (len(plain) / wall[False] if wall[False] else 0.0, "1/s"),
        "failed_frac": (failed / attempted if attempted else 1.0, "frac"),
        "store_mb": ((common.dir_bytes(env.dirs.catalog) + common.dir_bytes(env.dirs.semcache)) / 2**20, "MB"),
    }
    print(f"workload {args.workload} seed {args.seed} {common.SF}: {len(plain)} untraced requests, "
          f"{len(traced)} traced, timed set-ups {[round(t, 3) for t in setup_times]}")
    print(f"req_tail_s is p{tail_p:.1f} of {tail_n} requests (10 beyond it)")
    em = wl.end_metrics()
    if em:
        print("semcache " + ", ".join(f"{k} {v}" for k, v in em.items()))
    print(f"  peak_rss_mb    {rss_py + rss_jvm:.6g} MB ({rss_py:.1f} MB Python + {rss_jvm:.1f} MB JVM)")
    for k, (v, u) in e2e.items():
        print(f"  {k:<14} {v:.6g} {u}")
    e2e.pop("failed_frac")  # in the result as failed / attempted

    metrics: dict[str, dict] = {}
    errors: list[str] = []
    if not args.trace:
        for k, (v, u) in e2e.items():
            metrics[k] = {"value": v, "unit": u}
    else:
        layer = per_layer(args.workload, env, wl, traced, plain, wall)
        layer["memory.peak_rss_mb"] = (rss_py + rss_jvm, "MB")
        for k, (v, u) in layer.items():
            print(f"  {k:<34} {v:.6g} {u}")
            metrics[k] = {"value": v, "unit": u}
        errors = wl.layer_errors(layer)
        for e in errors:
            print(f"INCORRECT {e}", file=sys.stderr)
    return {"correct": failed == 0 and not errors, "attempted": attempted, "failed": failed, "metrics": metrics}


def per_layer(workload, env, wl, traced, plain, wall) -> dict:
    from perfbench.mix import FAMILIES, FAMILY
    from perfbench.trace import TRACER, layer_of

    self_s, calls, incl = TRACER.self_times()
    n = max(len(traced), 1)

    def per_req(*names) -> float:
        return sum(self_s.get(x, 0.0) for x in names) / n

    out: dict[str, tuple[float, str]] = {}
    sp = [r.spark for r in traced if r.spark is not None]
    out["spark.jobs_per_req"] = (_mean(s[0] for s in sp), "count")
    out["spark.stages_per_req"] = (_mean(s[1] for s in sp), "count")
    out["spark.tasks_per_req"] = (_mean(s[2] for s in sp), "count")

    for fam in FAMILIES:
        rs = [r for r in traced if FAMILY.get(r.kind) == fam and r.ok]
        key = "apps" if fam == "apps" else f"operators.{fam}"
        out[f"{key}.plan_s"] = (_mean(r.extra["plan_s"] for r in rs), "s")
        out[f"{key}.exec_s"] = (_mean(r.extra["exec_s"] for r in rs), "s")
    n_ivm = sum(1 for r in traced if r.kind == "events_stream_ivm")
    out["operators.streaming.exec_s"] = (incl.get("streaming.ivm_stream_to_catalog", 0.0) / max(n_ivm, 1), "s")

    reads = [r for r in traced if r.hit is not None and r.ok]
    hits = [r for r in reads if r.hit]
    misses = [r for r in reads if not r.hit]
    out["pipeline.build_s"] = (_mean(r.extra["build_s"] for r in reads), "s")
    out["pipeline.run_hit_s"] = (_mean(r.extra["run_s"] for r in hits), "s")
    out["pipeline.run_miss_s"] = (_mean(r.extra["run_s"] for r in misses), "s")
    out["pipeline.exec_hit_s"] = (_mean(r.extra["exec_s"] for r in hits), "s")
    out["pipeline.exec_miss_s"] = (_mean(r.extra["exec_s"] for r in misses), "s")
    out["plans.dag.fingerprint_s"] = (per_req("plans.dag.fingerprint", "plans.dag.to_dict", "plans.dag.fingerprint_fn"), "s")

    for fn in ("lookup", "peek", "materialize", "note_subplan"):
        out[f"semcache.{fn}_s"] = (per_req(f"semcache.{fn}"), "s")
    em = wl.end_metrics()
    base = em.get("full_hits", 0) + em.get("full_misses", 0)
    measured = len(plain) + len(traced)
    out["semcache.hit_ratio"] = (em.get("full_hits", 0) / base if base else 0.0, "ratio")
    out["semcache.hit_base"] = (float(base), "count")
    out["semcache.interior_hits_per_miss"] = (
        em.get("interior_hits", 0) / em["full_misses"] if em.get("full_misses") else 0.0, "ratio")
    out["semcache.evictions_per_req"] = (em.get("evictions", 0) / max(measured, 1), "count")
    out["semcache.disk_mb"] = (common.dir_bytes(env.dirs.semcache) / 2**20, "MB")
    out["semcache.calls"] = (float(sum(c for k, c in calls.items() if k.startswith("semcache."))), "count")

    for fn in ("put", "write", "get", "info"):
        out[f"storage.{fn}_s"] = (per_req(f"storage.{fn}"), "s")
    user = common.data_bytes(env.dirs.catalog)
    out["storage.bytes_per_user_byte"] = (common.dir_bytes(env.dirs.catalog) / user if user else 0.0, "ratio")

    jobs = [r for r in traced if "queue_wait_s" in r.extra]
    out["session.queue_wait_s"] = (_mean(r.extra["queue_wait_s"] for r in jobs), "s")
    out["session.job_s"] = (_mean(r.extra["job_s"] for r in jobs), "s")

    by_layer: dict[str, float] = {}
    for name, v in self_s.items():
        by_layer[layer_of(name)] = by_layer.get(layer_of(name), 0.0) + v
    for lay in LAYERS:
        out[f"layer.{lay}.self_s"] = (by_layer.get(lay, 0.0) / n, "s")

    out["trace.overhead_frac"] = (overhead(workload, plain, traced, wall), "frac")
    return out


def overhead(workload, plain, traced, wall) -> float:
    """1 - traced req_per_s / untraced req_per_s. Bursts have the same
    composition, so many_jobs compares wall time per job; semcache_rerun
    compares mean latency per request kind and hit/miss, weighted by how
    often each ran, so a different hit pattern in the two halves does not
    count as overhead."""
    if not plain or not traced:
        return 0.0
    if workload == "many_jobs":
        rps_t, rps_u = len(traced) / wall[True], len(plain) / wall[False]
        return 1.0 - rps_t / rps_u
    kinds = {}
    for r in plain + traced:
        kinds.setdefault((r.kind, r.hit), [[], []])[r.traced].append(r.latency)
    num = den = 0.0
    for u, t in kinds.values():
        if u and t:
            w = len(u) + len(t)
            num += w * _mean(u)
            den += w * _mean(t)
    return 1.0 - num / den if den else 0.0


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _exit_on_sigterm)  # so the clean-up runs
    try:
        result = run(args)
    except SystemExit as exc:  # no engine, or SIGTERM
        if not isinstance(exc.code, int):
            print(exc.code, file=sys.stderr)
            return 1
        return exc.code
    except Exception as exc:
        print(f"perfbench: {exc!r}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # Every process the run started has ended; skip the interpreter's
    # shutdown, which would wait for py4j's leftover non-daemon threads.
    os._exit(code)
