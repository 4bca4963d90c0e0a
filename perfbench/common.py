"""Shared pieces of the benchmark: the run's directories, the session it
measures, order-insensitive result digests, and the summary statistics.

Nothing here imports the engine at module load, so ``run.py`` can report a
missing engine cleanly.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import os
import shutil
import signal
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
DIGESTS_PATH = os.path.join(HERE, "digests.json")

# Input scale of the shipped tables under data/; the smoke tests set it to
# "sf0.001".
SF = "sf0.1"

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Driver heap that leaves room for the Python side and for other tenants
# on a 15 GB host; the shipped default (16g) assumes a dedicated box.
DRIVER_MEMORY = "3g"


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 4


def session_overrides(root: str) -> dict[str, str]:
    """The only settings the benchmark changes on top of the shipped
    ``EngineConfig`` defaults: FAIR pools for ``run_concurrent``, a driver
    heap that fits the host, and every scratch directory inside the run
    root."""
    return {
        "spark.scheduler.mode": "FAIR",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(root, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(root, 'jvm-tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


# -- run directories -------------------------------------------------------
@dataclass
class RunDirs:
    """One fresh root per run: catalog, semantic cache, Spark scratch and
    temp files each get their own subdirectory."""

    root: str

    @property
    def catalog(self) -> str:
        return os.path.join(self.root, "catalog")

    @property
    def semcache(self) -> str:
        return os.path.join(self.root, "semcache")

    @property
    def tmp(self) -> str:
        return os.path.join(self.root, "tmp")

    def reset_state(self) -> None:
        """Empty the catalog and the cache (a new set-up starts clean)."""
        for d in (self.catalog, self.semcache):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)

    def make(self) -> None:
        for sub in ("catalog", "semcache", "tmp", "spark-local", "warehouse", "jvm-tmp"):
            os.makedirs(os.path.join(self.root, sub), exist_ok=True)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def data_bytes(path: str) -> int:
    """Bytes of parquet data files only (no checksums, markers or
    manifests)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def load_inputs(sf: str, catalog_root: str, tables: list[str] | None = None) -> None:
    """Copy the shipped input tables into a catalog root, each as a table
    directory ``<name>.parquet/`` that ``Catalog.write`` can append to."""
    src = os.path.join(DATA_DIR, sf)
    for t in tables or TABLES:
        dst = os.path.join(catalog_root, f"{t}.parquet")
        os.makedirs(dst, exist_ok=True)
        shutil.copyfile(os.path.join(src, f"{t}.parquet"), os.path.join(dst, "part-00000-base.parquet"))


# -- child processes -------------------------------------------------------
PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux), so
    a Python worker that outlives the JVM which forked it becomes a child
    of this process and can be stopped and waited for."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _descendants(pid: int) -> list[int]:
    """Every live or unreaped process below ``pid`` (from /proc)."""
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
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_gateway(timeout: float = 60.0) -> None:
    """Let the py4j gateway JVM exit the way it does when Python exits:
    close its stdin and wait for it, killing it after ``timeout``. The
    gateway's connections are left alone: shutting down the callback server
    that ``foreachBatch`` starts can block."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=timeout)
    except Exception:
        proc.kill()
        proc.wait()


def stop_descendants(grace: float = 10.0) -> list[int]:
    """Stop every process this one started, directly or not, and wait until
    each has ended: SIGTERM, then SIGKILL to what is left after ``grace``
    seconds. Returns the processes still there after that (none unless one
    ignores SIGKILL)."""
    me = os.getpid()
    sig, deadline = signal.SIGTERM, time.monotonic() + grace
    while True:
        _reap()
        pids = _descendants(me)
        if not pids:
            return []
        if time.monotonic() > deadline:
            if sig == signal.SIGKILL:
                return pids
            sig, deadline = signal.SIGKILL, time.monotonic() + grace
        for p in pids:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        time.sleep(0.05)


# -- peak memory -----------------------------------------------------------
def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> tuple[float, float]:
    """Peak resident set (MB) of this Python process and of the driver
    JVM."""
    return _vm_hwm_kb("self") / 1024.0, (_vm_hwm_kb(jvm_pid) / 1024.0 if jvm_pid else 0.0)


def jvm_pid(spark) -> int | None:
    try:
        return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    except Exception:
        return None


# -- result digests --------------------------------------------------------
def _fmt_float(x: float) -> str:
    if x is None or (isinstance(x, float) and math.isnan(x)):
        return ""
    x = float(x)
    if math.isinf(x):
        return "inf" if x > 0 else "-inf"
    if x == int(x) and abs(x) < 2**53:
        return str(int(x))
    return "%.9g" % x


def _fmt_ts(v) -> str:
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return v.strftime("%Y-%m-%d") + " 00:00:00.000000"


def canon_value(v) -> str:
    if v is None:
        return ""
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        return _fmt_float(float(v))
    if isinstance(v, (pd.Timestamp, _dt.date)):
        return "" if pd.isna(v) else _fmt_ts(v)
    if isinstance(v, np.datetime64):
        return "" if np.isnat(v) else _fmt_ts(pd.Timestamp(v))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon_value(k)}:{canon_value(x)}" for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if hasattr(v, "asDict"):  # pyspark Row
        return canon_value(v.asDict())
    if isinstance(v, str):
        return v
    try:
        if pd.isna(v):
            return ""
    except (TypeError, ValueError):
        pass
    return str(v)


def _canon_column(s: pd.Series) -> pd.Series:
    if pd.api.types.is_bool_dtype(s):
        return s.map(canon_value)
    if pd.api.types.is_integer_dtype(s) and not s.hasnans:
        return s.astype("int64").astype(str)
    if pd.api.types.is_float_dtype(s):
        return s.map(_fmt_float)
    if pd.api.types.is_datetime64_any_dtype(s):
        return s.map(lambda v: "" if pd.isna(v) else _fmt_ts(pd.Timestamp(v)))
    return s.map(canon_value)


def digest(pdf: pd.DataFrame) -> dict:
    """Order-insensitive digest of a result: columns sorted by name, every
    value rendered canonically (floats to 9 significant digits, times in
    UTC to the microsecond, NULL as empty), one 64-bit hash per row, the
    sorted row hashes hashed again."""
    cols = sorted(pdf.columns)
    canon = pd.DataFrame({c: _canon_column(pdf[c]) for c in cols}, columns=cols)
    if len(canon):
        row_hashes = np.sort(pd.util.hash_pandas_object(canon, index=False).to_numpy())
    else:
        row_hashes = np.array([], dtype=np.uint64)
    h = hashlib.sha256(("|".join(cols)).encode())
    h.update(row_hashes.tobytes())
    return {"rows": int(len(pdf)), "sha256": h.hexdigest()[:32]}


# -- statistics ------------------------------------------------------------
def median(xs: list[float]) -> float:
    return float(np.median(xs)) if xs else 0.0


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it:
    the value at rank ``n - beyond`` (1-based) of the sorted samples.
    Returns (value, percentile, n). With fewer than ``beyond + 1`` samples
    it falls back to the minimum."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    ys = sorted(xs)
    k = max(n - beyond - 1, 0)
    return float(ys[k]), 100.0 * (k + 1) / n, n
