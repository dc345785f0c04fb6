"""Semantic (embedding-space) dedup, SemDeDup-style — cluster-bounded
cosine pruning (Abbas et al., "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication", 2023).

Where MinHash/SimHash/sign-LSH catch *lexical* near-duplicates,
semantic dedup removes documents whose EMBEDDINGS are near-identical —
paraphrases, templated rewrites, boilerplate variants — by

1. quantizing every vector to its nearest centroid cell (k-means /
   sampled centroids — the same rank-1 quantizer as ``similarity.ivf``),
2. comparing pairs ONLY within a cell (the paper's core trick: the
   O(n²) pairwise cosine becomes Σ|cell|², bounded by the clustering),
3. removing every document that has a same-cell neighbor above the
   similarity threshold with a SMALLER id — the lowest id of each
   cell's threshold-graph component survives as the canonical
   representative.

Removal policy note: the paper keeps a (random) single exemplar per
intra-cluster duplicate group; this implementation makes that choice
deterministic — a vector is removed iff SOME lower-id same-cell vector
is within the threshold, so the kept set is exactly the ids with no
smaller near-dup, reproducible across engines and runs (the same
min-id-representative convention as ``dedup.components``).

Spark shape (100 TB posture):

- cell assignment is shuffle-free: one numpy GEMM per Arrow batch
  against the broadcast centroid matrix (``similarity.assign`` — the
  paper-scale path, where num_cells ∝ N reaches ~50k clusters);
- the pairwise stage is one cell-keyed exchange: each cell's cosine
  matrix is one matmul inside ``applyInPandas`` and NO pair rows ever
  ship.  Per-cell skew is bounded by the clustering itself — at scale you raise ``num_cells`` ∝ N so
  cells stay O(N/k) and Σ|cell|² stays near-linear;
- the removal aggregation (min smaller-neighbor per doc) is a partial
  agg (min of struct), combiner-friendly.

Cross-engine determinism: sampled centroids (smallest-k by md5(id) —
``similarity.ivf.centroids``), cosines rounded to 6 decimals, min-id
tiebreaks — the DuckDB oracle reproduces cells, pairs, and the removed
set bit-for-bit.  A Lloyd-trained centroid table
(``similarity.ivf.train_centroids``) plugs into ``cents=`` unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from hadoop_20_warehouse_spark.similarity.ivf import _cells
from hadoop_20_warehouse_spark.similarity.knn import _norm, cosine_sql

DEFAULT_NUM_CELLS = 32
DEFAULT_SEM_THRESHOLD = 0.35


def _pairs_grouped(
    tagged: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """(cell_id, id_a, id_b, sim) — the within-cell threshold pairs,
    computed as ONE numpy GEMM per cell (applyInPandas): the Σ|cell|²
    pairwise term dominated the r11 rehearsal (200k docs / 2k cells:
    42s of 50s) under a per-pair cosine.  Each cell's |cell|×|cell|
    cosine matrix is one matmul; the GEMM values act only as a FILTER
    (candidates ≥ threshold − band, the same reassociation-error band
    as similarity.assign), and the OUTPUT sims — which the oracle
    hashes — are recomputed for the output-sized survivor set with the
    exact sequential fold + HALF_UP shortest-decimal rounding,
    bit-identical to round(_dot/..., 6) (oracle-tested).  Norms ride
    in from the Spark-computed ``nrm`` column, so the denominator is
    the identical double.

    Shuffle shape: ONE exchange of (id, cell, vector) rows keyed on
    cell, and pairs never ship at all (they are born and filtered
    inside the worker).  Worker memory is row-chunked (chunk × |cell|
    scores); a skewed cell costs one long task, the same skew the
    clustering knob (num_cells ∝ N) exists to bound."""
    import numpy as np

    from hadoop_20_warehouse_spark.similarity.assign import (
        _band,
        _round6_scaled,
        _seq_dot,
    )

    sel = tagged.select(
        F.col("centroid_id").alias("cell_id"),
        F.col(id_col),
        F.col(vec_col),
        F.col("nrm"),
    )
    id_type = sel.schema[1].dataType
    cid_type = sel.schema[0].dataType
    schema = StructType(
        [
            StructField("cell_id", cid_type),
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("sim", DoubleType()),
        ]
    )

    def fn(pdf):
        import pandas as pd

        n = len(pdf)
        empty = pd.DataFrame(
            {"cell_id": [], "id_a": [], "id_b": [], "sim": []}
        ).astype({"sim": "float64"})
        if n < 2:
            return empty
        cell = pdf["cell_id"].iloc[0]
        ids = pdf[id_col].to_numpy()
        V = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        vn = pdf["nrm"].to_numpy(dtype=np.float64)
        out_a, out_b, out_s = [], [], []
        chunk = max(1, (1 << 24) // n)
        for lo in range(0, n, chunk):
            hi = min(n, lo + chunk)
            S = V[lo:hi] @ V.T
            denom = vn[lo:hi, None] * vn[None, :]
            valid = denom > 0.0
            sims = np.where(valid, S / np.where(valid, denom, 1.0), -np.inf)
            mask = (sims >= threshold - _band(V.shape[1])) & (
                ids[lo:hi, None] < ids[None, :]
            )
            for i, j in zip(*np.nonzero(mask)):
                gi = lo + i
                exact = _seq_dot(V[gi], V[j])
                sim6 = _round6_scaled(exact / (vn[gi] * vn[j])) / 1_000_000.0
                if sim6 >= threshold:
                    out_a.append(ids[gi])
                    out_b.append(ids[j])
                    out_s.append(sim6)
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "cell_id": [cell] * len(out_a),
                "id_a": out_a,
                "id_b": out_b,
                "sim": np.array(out_s, dtype=np.float64),
            }
        )

    return sel.groupBy("cell_id").applyInPandas(fn, schema=schema)


def semantic_dedup_removed(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_cells: int = DEFAULT_NUM_CELLS,
    threshold: float = DEFAULT_SEM_THRESHOLD,
    cents: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, cell_id, dup_of, sim) — the REMOVED set: each row is a
    document with at least one same-cell neighbor of smaller id whose
    rounded cosine ≥ threshold; ``dup_of`` is the smallest such
    neighbor and ``sim`` that pair's similarity.  ``dup_of`` is a
    greedy link, not necessarily the final survivor (in a chain
    a<b<c with sim(a,b),sim(b,c) ≥ τ but sim(a,c) < τ, c links to b
    while b itself is removed); the minimum id of each cell's
    threshold-graph component always survives.  The kept corpus is
    ``df`` anti-joined on this frame's ``vec_id``.

    ``cents``: optional (centroid_id, cv, cn) table — pass
    ``similarity.ivf.train_centroids(...)`` for a trained quantizer;
    defaults to the deterministic sampled centroids."""
    # rank-1 cell per vector — shuffle-free broadcast GEMM argmin
    cells = _cells(
        df, id_col, vec_col, num_cells, nprobe=1, cents=cents
    ).drop("crank")
    vecs = df.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("nrm")
    )
    # per-cell GEMM: pairs are born inside the worker — one cell-keyed
    # exchange, no pair rows ever shuffle
    pairs = _pairs_grouped(
        cells.join(vecs, on=id_col), id_col, vec_col, threshold
    )
    # partial-agg min(struct): smallest dup_of per removed doc; id_a is
    # unique per (id_b, cell) pair set so the struct order is total
    best = pairs.groupBy("id_b", "cell_id").agg(
        F.min(F.struct("id_a", "sim")).alias("m")
    )
    return best.select(
        F.col("id_b").alias(id_col),
        "cell_id",
        F.col("m")["id_a"].alias("dup_of"),
        F.col("m")["sim"].alias("sim"),
    )


def semantic_dedup_removed_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_cells: int = DEFAULT_NUM_CELLS,
    threshold: float = DEFAULT_SEM_THRESHOLD,
) -> str:
    """DuckDB oracle — identical sampled centroids, rank-1 cells,
    rounded cosines, min-id representative."""
    ccos = cosine_sql("v.v", "c.cv")
    pcos = cosine_sql("x.v", "y.v")
    return f"""
WITH cents AS (
  SELECT {id_col} AS centroid_id, {vec_col} AS cv FROM {table}
  ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col} LIMIT {num_cells}
),
v AS (SELECT {id_col} AS id, {vec_col} AS v FROM {table}),
cellranks AS (
  SELECT id, centroid_id,
         ROW_NUMBER() OVER (
           PARTITION BY id ORDER BY round({ccos}, 6) DESC, centroid_id ASC
         ) AS crank
  FROM v CROSS JOIN cents c
),
tagged AS (
  SELECT a.id, a.centroid_id, v.v
  FROM (SELECT id, centroid_id FROM cellranks WHERE crank = 1) a
  JOIN v USING (id)
),
pairs AS (
  SELECT x.centroid_id AS cell_id, x.id AS id_a, y.id AS id_b,
         round({pcos}, 6) AS sim
  FROM tagged x JOIN tagged y
    ON x.centroid_id = y.centroid_id AND x.id < y.id
),
hits AS (SELECT * FROM pairs WHERE sim >= {threshold}),
best AS (
  SELECT id_b, cell_id, id_a, sim,
         ROW_NUMBER() OVER (PARTITION BY id_b ORDER BY id_a ASC) AS rn
  FROM hits
)
SELECT id_b AS {id_col}, cell_id, id_a AS dup_of, sim
FROM best WHERE rn = 1
""".strip()
