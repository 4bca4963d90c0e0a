"""Physical-plan audit over the whole query registry.

Writes PLAN_AUDIT.json: for every ``queries()`` entry, the plan
metrics that dominate cost at 100 TB (shuffle exchanges, broadcasts,
scans + pushdown coverage, whole-stage codegen, Python-UDF presence)
plus a coarse severity flag. This is the ".explain('formatted') and
iterate" discipline as a standing, regenerable artifact — run it after
adding an operator; plan regressions show up as a diff.

Streaming queries execute their stream on build and return a memory
table, so their audited plan is the (trivial) sink read — the real
plan gates for those live in tests/test_streaming.py.

Usage: python tools/plan_audit.py [sf_dir] (default sf0.001)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from eclipse_spark.admin import explain_summary
from eclipse_spark.session import EngineConfig, get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(EngineConfig(app_name="plan_audit"))
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict] = {}
    for name, fn in entrymod.queries().items():
        try:
            s = explain_summary(fn(spark, sf_dir))
            out[name] = {
                "shuffles": s.n_shuffles,
                "broadcasts": s.n_broadcasts,
                "scans": s.n_scans,
                "scans_with_pushdown": s.scans_with_pushdown,
                "wholestage_codegen": s.wholestage_codegen,
                "python_udf": s.has_python_udf,
            }
        except Exception as e:  # noqa: BLE001 — audit must cover the rest
            out[name] = {"error": str(e)[:200]}
        spark.catalog.clearCache()

    audited = [v for v in out.values() if "error" not in v]
    summary = {
        "n_queries": len(out),
        "n_audited": len(audited),
        "max_shuffles": max((v["shuffles"] for v in audited), default=0),
        "with_python_udf": sorted(
            k for k, v in out.items() if v.get("python_udf")
        ),
        "shuffle_heavy": sorted(
            k for k, v in out.items() if v.get("shuffles", 0) > 6
        ),
    }
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.json")
    with open(path, "w") as f:
        json.dump({"summary": summary, "queries": out}, f, indent=1, sort_keys=True)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
