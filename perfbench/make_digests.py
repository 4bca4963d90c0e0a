"""Regenerate ``digests.json``: the canonical digest of every registry query
the benchmark runs, computed by DuckDB from ``oracle_sql()`` over the
shipped input tables. Run from the repository root:

    python3 perfbench/make_digests.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from perfbench.common import DATA_DIR, DIGESTS_PATH, TABLES, digest  # noqa: E402
from perfbench.mix import ORACLE_QUERIES  # noqa: E402

SCALES = ["sf0.1", "sf0.001"]


def main() -> None:
    oracles = entry.oracle_sql()
    out: dict[str, dict] = {}
    for sf in SCALES:
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(DATA_DIR, sf, t)}.parquet'")
        out[sf] = {name: digest(con.sql(oracles[name]).df()) for name in ORACLE_QUERIES}
        con.close()
    with open(DIGESTS_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {DIGESTS_PATH}")


if __name__ == "__main__":
    main()
