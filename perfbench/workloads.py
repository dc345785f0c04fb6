"""The benchmark's workloads: which registered queries each one runs, and
which fixture tables each query reads.

Each workload stresses a different layer of the engine, the way the
reference's GridMix job classes each stressed a different part of the
stack.  README.md in this directory says why each one exists and which
per-layer metric should move which end-to-end metric on it.

The tables listed per job are the fixture tables its constructor reads;
their summed row counts are the job's input rows, the numerator of
``rows_per_s``.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# Each workload has an odd number of jobs: the samples then cluster by
# job, and with an odd count the median and the tail rank of a 4-pass
# run fall inside one job's cluster instead of on the edge between two.
WORKLOADS: dict[str, dict[str, tuple[str, ...]]] = {
    # JVM-bound: Catalyst, parquet scans, shuffle and codegen, plus the
    # sources write path and one graph driver loop.
    "warehouse_sql": {
        "scan_filter_sample": ("lineitem",),
        "wordcount": ("documents",),
        "grep_topk": ("documents",),
        "join_inner": ("lineitem", "orders"),
        "secondary_sort": ("orders",),
        "partitioned_output_roundtrip": ("events",),
        "graph_label_propagation": ("lineitem",),
    },
    # Python-worker-bound curation operators: mapInPandas and Arrow.
    "curation_udf": {
        "dedup_minhash_lsh": ("documents",),
        "dedup_simhash": ("documents",),
        "dedup_exact": ("documents",),
        "knn_ivf": ("embeddings",),
        "text_quality_classifier": ("documents",),
        "pii_redact": ("documents",),
        "multimodal_image_decode": ("orders",),
    },
}


def table_rows(data_dir: str = DATA_DIR) -> dict[str, int]:
    """Row count of every fixture table, from the parquet footers."""
    return {
        f[: -len(".parquet")]: pq.ParquetFile(os.path.join(data_dir, f)).metadata.num_rows
        for f in sorted(os.listdir(data_dir))
        if f.endswith(".parquet")
    }


def rows_per_pass(workload: str, data_dir: str = DATA_DIR) -> int:
    """Input rows one pass over ``workload`` reads."""
    rows = table_rows(data_dir)
    return sum(rows[t] for tables in WORKLOADS[workload].values() for t in tables)
