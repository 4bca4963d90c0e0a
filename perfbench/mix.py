"""What each workload runs. Registry queries come from ``queries()`` in
``__spark_entry__.py`` and are checked against digests of their DuckDB
``oracle_sql()`` (see ``make_digests.py``)."""

from __future__ import annotations

# many_jobs: the registry query of each job and the layer it exercises:
# the paper's three apps, one query per operator family, and small
# relational jobs.
FAMILY: dict[str, str] = {
    "word_count": "apps",
    "inverted_index": "apps",
    "aggregation": "apps",
    "tpch_q3": "relational",
    "tpch_q6": "relational",
    "window_topk": "relational",
    "dedup_exact": "dedup",
    "ann_topk": "similarity",
    "text_quality": "text",
    "shortest_path": "graph",
    "ewma": "timeseries",
    "hll_rollup": "sketch",
    "events_stream_ivm": "ivm",
}

FAMILIES = ["apps", "relational", "dedup", "similarity", "text", "graph", "timeseries", "sketch", "ivm"]

# One burst: 16 jobs submitted at once through run_concurrent with 4 in
# flight; the small jobs repeat. Longest first: submitted later, the 5 s
# streaming job started about 3.5 s into a burst and made it about 1.5 s
# longer on a 4-core host at sf0.1.
BURST: list[str] = [
    "events_stream_ivm", "aggregation", "ewma", "shortest_path", "tpch_q3", "inverted_index",
    "hll_rollup", "ann_topk", "dedup_exact", "text_quality", "word_count", "window_topk",
    "tpch_q6", "word_count", "window_topk", "tpch_q6",
]
BURST_IN_FLIGHT = 4

ORACLE_QUERIES: list[str] = sorted(FAMILY)
