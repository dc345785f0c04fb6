"""Product quantization (PQ) — the compression layer of billion-scale
ANN (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", IEEE TPAMI 2011).

A d-dim float vector is split into ``m`` subvectors; each subspace has
its own k-entry codebook, and a vector is stored as m code bytes —
64 floats (256 B) become 8 bytes at m=8/k≤256, a 32x compression that
is what makes exhaustive scans of billion-vector corpora feasible.
Search uses ADC (asymmetric distance computation): the query stays
exact, a per-query m×k lookup table of query-to-code distances is
built once, and each stored vector's distance is m table lookups — no
float math per candidate.

Spark shape (100 TB posture):
- the codebook is O(m·k) — ONE broadcast row of nested arrays;
- encode is a row-local projection (argmin over k codes per subspace,
  JVM-side array HOFs — note: HOFs run as INTERPRETED expressions, not
  whole-stage codegen, the repo's measured finding; the important
  property is that encode is shuffle-free and embarrassingly parallel,
  and k_codes here is small and fixed) — no shuffle;
- the ADC scan is row-local lookups + one global top-k (TakeOrdered:
  per-partition partial top-k, k-row shuffle).

Cross-engine determinism (the repo's oracle discipline): codebooks are
SAMPLED, not trained — code j of every subspace is the j-th corpus
vector under (md5(id), id) order (same seed set as ivf.centroids), so
both engines derive identical codebooks; all distances are squared-L2
rounded to integer MICRO-units (×1e6) so argmins tie-break identically
and ADC sums are order-independent integer adds.  A Lloyd-trained
codebook (train per subspace on a corpus sample) plugs into the same
encode/scan unchanged — the sampled one is the bit-reproducible
default, the same trade ivf.train_centroids documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_M = 8
DEFAULT_K = 16

# DuckDB twin of _sqdist_u_sql_spark — the ONE place the cross-engine
# distance shape (double casts, round placement, x1e6) is maintained
_SQDIST_U_SQL_DUCK = (
    "CAST(round(list_sum(list_transform(list_zip({a}, {b}), "
    "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
    "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) * 1000000) AS BIGINT)"
)


def _sqdist_u_sql_spark(a: str, b: str) -> str:
    """Squared L2 between two array slices, in integer micro-units —
    Spark SQL expression text (used inside HOF lambdas)."""
    return (
        f"cast(round(aggregate(zip_with({a}, {b}, "
        "(x, y) -> (cast(x as double) - cast(y as double)) * "
        "(cast(x as double) - cast(y as double))), "
        "cast(0.0 as double), (acc, v) -> acc + v) * 1000000) as bigint)"
    )


def pq_codebook(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = DEFAULT_M,
    k: int = DEFAULT_K,
) -> DataFrame:
    """ONE-row codebook frame: ``cb`` = array over subspaces s∈[0,m)
    of arrays over codes j∈[0,k) of the j-th seed vector's s-th
    subvector.  Seeds are the k corpus vectors with smallest
    (md5(id), id) — deterministic, O(k) rows via partial top-k."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    seeds = (
        corpus.select(
            F.col(vec_col).alias("sv"),
            F.md5(F.col(id_col).cast("string")).alias("h"),
            F.col(id_col).alias("sid"),
        )
        .orderBy("h", "sid")
        .limit(k)
    )
    # j = seed ordinal under the same (h, sid) order; k rows → window ok
    from pyspark.sql import Window

    seeds = seeds.withColumn(
        "j",
        F.row_number().over(Window.orderBy("h", "sid")) - 1,
    )
    # fold k rows into the nested array: cb[s][j] = slice(seed_j, s)
    return seeds.agg(
        F.array_sort(F.collect_list(F.struct("j", "sv"))).alias("js")
    ).select(
        F.expr(
            f"transform(sequence(0, {m - 1}), s -> "
            f"transform(js, e -> slice(e.sv, s * {sub} + 1, {sub})))"
        ).alias("cb")
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = DEFAULT_M,
    dim: int = 64,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [keep_cols...], codes array<int>) — row-local encode: each
    subspace takes the argmin over its k codes by micro-unit
    squared-L2, tie-broken on the smaller code (min of (dist_u, j)
    structs).  ``keep_cols`` ride through the projection (e.g. the
    IVF cell id in the IVF-PQ layout) — no post-encode join needed."""
    sub = dim // m
    d = _sqdist_u_sql_spark(f"slice({vec_col}, s * {sub} + 1, {sub})", "cb[s][j]")
    codes = F.expr(
        f"transform(sequence(0, {m - 1}), s -> "
        f"array_min(transform(sequence(0, size(cb[s]) - 1), j -> "
        f"struct({d} as du, j as code))).code)"
    )
    return corpus.crossJoin(F.broadcast(codebook)).select(
        F.col(id_col), *[F.col(c) for c in keep_cols], codes.alias("codes")
    )


def pq_adc_topk(
    codes: DataFrame,
    codebook: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    qvec_col: str = "qv",
    topk: int = 20,
    m: int = DEFAULT_M,
    dim: int = 64,
) -> DataFrame:
    """(vec_id, codes_str, adc_u, rank) — ADC scan: the one-row query
    frame joins the one-row codebook to build the m×k lookup table
    (micro-unit squared-L2 of each code to the query's subvector),
    then every stored vector's distance is m integer lookups summed —
    order-independent, no float math per candidate.  Global top-k is
    TakeOrdered (partial per-partition top-k)."""
    sub = dim // m
    d = _sqdist_u_sql_spark(f"slice({qvec_col}, s * {sub} + 1, {sub})", "cv")
    lut = query.crossJoin(F.broadcast(codebook)).select(
        F.expr(
            f"transform(sequence(0, {m - 1}), s -> "
            f"transform(cb[s], cv -> {d}))"
        ).alias("lut")
    )
    scored = codes.crossJoin(F.broadcast(lut)).select(
        F.col(id_col),
        F.expr("array_join(transform(codes, c -> cast(c as string)), '-')").alias("codes_str"),
        F.expr(
            f"aggregate(sequence(0, {m - 1}), cast(0 as bigint), "
            "(acc, s) -> acc + lut[s][codes[s]])"
        ).alias("adc_u"),
    )
    from pyspark.sql import Window

    # global top-k FIRST via TakeOrdered (per-partition partial top-k,
    # k-row shuffle), then rank the k survivors — never a row_number
    # window over the whole corpus in one partition
    top = scored.orderBy(F.col("adc_u").asc(), F.col(id_col).asc()).limit(topk)
    w = Window.orderBy(F.col("adc_u").asc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def _pq_adc_ctes(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int,
    k: int,
) -> str:
    """The shared CTE chain (seeds → codebook → query → encode → LUT →
    adc) used by both the plain ADC oracle and the re-rank oracle."""
    sub = dim // m
    sq = _SQDIST_U_SQL_DUCK
    enc_d = sq.format(
        a=f"e.{vec_col}[g.s * {sub} + 1 : g.s * {sub} + {sub}]", b="cb.sv"
    )
    lut_d = sq.format(
        a=f"q.qv[g.s * {sub} + 1 : g.s * {sub} + {sub}]", b="cb.sv"
    )
    return f"""
WITH seeds AS (
  SELECT {vec_col} AS sv,
         ROW_NUMBER() OVER (ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}) - 1 AS j
  FROM {table}
  ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col} LIMIT {k}
),
subs AS (SELECT unnest(generate_series(0, {m - 1})) AS s),
cbflat AS (
  SELECT g.s, seeds.j, seeds.sv[g.s * {sub} + 1 : g.s * {sub} + {sub}] AS sv
  FROM seeds CROSS JOIN subs g
),
q AS (
  SELECT {vec_col} AS qv FROM {table}
  ORDER BY md5(CAST({id_col} AS VARCHAR)) DESC, {id_col} DESC LIMIT 1
),
dists AS (
  SELECT e.{id_col} AS vec_id, g.s, cb.j, {enc_d.replace('cb.sv', 'cb2')} AS du
  FROM {table} e
  CROSS JOIN subs g
  JOIN (SELECT s, j, sv AS cb2 FROM cbflat) cb ON cb.s = g.s
),
enc AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT vec_id, s, j, ROW_NUMBER() OVER (
      PARTITION BY vec_id, s ORDER BY du ASC, j ASC) AS rn
    FROM dists
  ) WHERE rn = 1
),
lut AS (
  SELECT g.s, cb.j, {lut_d.replace('cb.sv', 'cb2')} AS du
  FROM q CROSS JOIN subs g
  JOIN (SELECT s, j, sv AS cb2 FROM cbflat) cb ON cb.s = g.s
),
adc AS (
  SELECT enc.vec_id,
         array_to_string(list(enc.code ORDER BY enc.s), '-') AS codes_str,
         CAST(SUM(lut.du) AS BIGINT) AS adc_u
  FROM enc JOIN lut ON lut.s = enc.s AND lut.j = enc.code
  GROUP BY enc.vec_id
)""".strip()


def pq_adc_topk_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = DEFAULT_M,
    k: int = DEFAULT_K,
    topk: int = 20,
) -> str:
    """DuckDB oracle: identical seeds, codebook slices, micro-unit
    distances, argmin tiebreaks, integer ADC sums, and ranking.  The
    query vector is the corpus vector with the LARGEST (md5(id), id)
    — disjoint from the seed set's smallest-k in practice."""
    ctes = _pq_adc_ctes(table, id_col, vec_col, dim, m, k)
    # the CTE chain's internal id alias is vec_id; re-alias the OUTPUT
    # to the caller's id_col so Spark/DuckDB schemas align for every
    # parameterization, not just the default (ADVICE r10)
    return f"""
{ctes}
SELECT vec_id AS {id_col}, codes_str, adc_u,
       CAST(ROW_NUMBER() OVER (ORDER BY adc_u ASC, vec_id ASC) AS BIGINT) AS rank
FROM adc
QUALIFY rank <= {topk}
""".strip()


def pq_rerank_topk(
    codes: DataFrame,
    codebook: DataFrame,
    query: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str = "qv",
    shortlist: int = 100,
    topk: int = 20,
    m: int = DEFAULT_M,
    dim: int = 64,
) -> DataFrame:
    """(vec_id, adc_u, exact_u, rank) — two-stage retrieve-then-rerank,
    the standard production ANN layout (Jégou et al. 2011 §V.C: ADC
    shortlist + exact re-ranking): stage 1 scans the 8-byte PQ codes
    with ADC and keeps the ``shortlist`` best candidates; stage 2
    fetches ONLY those rows' full-precision vectors and re-ranks the
    final ``topk`` by exact micro-unit squared-L2.

    Scale shape: the shortlist is O(R) rows — it BROADCASTS to the
    corpus join, so the exact-distance fetch is a broadcast hash
    semi-join against the full-precision store (no corpus shuffle; at
    100 TB the vector store is a parquet table and the join prunes to
    R row-group point reads).  Exact math runs on R rows, never N —
    recall is governed by R/topk, cost by the PQ scan."""
    short = pq_adc_topk(
        codes, codebook, query, id_col=id_col, qvec_col=qvec_col,
        topk=shortlist, m=m, dim=dim,
    ).select(id_col, "adc_u")
    d = _sqdist_u_sql_spark(vec_col, qvec_col)
    exact = (
        corpus.join(F.broadcast(short), on=id_col)
        .crossJoin(F.broadcast(query))
        .select(F.col(id_col), F.col("adc_u"), F.expr(d).alias("exact_u"))
    )
    from pyspark.sql import Window

    top = exact.orderBy(F.col("exact_u").asc(), F.col(id_col).asc()).limit(topk)
    w = Window.orderBy(F.col("exact_u").asc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def pq_rerank_topk_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = DEFAULT_M,
    k: int = DEFAULT_K,
    shortlist: int = 100,
    topk: int = 20,
) -> str:
    """DuckDB oracle for ``pq_rerank_topk`` — same ADC CTE chain, then
    the shortlist joins back to the base table for exact distances."""
    ctes = _pq_adc_ctes(table, id_col, vec_col, dim, m, k)
    exact_d = _SQDIST_U_SQL_DUCK.format(a=f"e.{vec_col}", b="q.qv")
    return f"""
{ctes},
short AS (
  SELECT vec_id, adc_u FROM adc
  ORDER BY adc_u ASC, vec_id ASC LIMIT {shortlist}
),
exact AS (
  SELECT s.vec_id, s.adc_u, {exact_d} AS exact_u
  FROM short s
  JOIN {table} e ON e.{id_col} = s.vec_id
  CROSS JOIN q
)
SELECT vec_id AS {id_col}, adc_u, exact_u,
       CAST(ROW_NUMBER() OVER (ORDER BY exact_u ASC, vec_id ASC) AS BIGINT) AS rank
FROM exact
QUALIFY rank <= {topk}
""".strip()


# --- IVF-PQ: residual product quantization over IVF cells -------------------


def ivfpq_topk(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str = "qv",
    num_centroids: int = 8,
    nprobe: int = 2,
    m: int = DEFAULT_M,
    k_codes: int = DEFAULT_K,
    dim: int = 64,
    topk: int = 20,
    codebook: str = "sampled",
    iters: int = 2,
) -> DataFrame:
    """(vec_id, cell_id, codes_str, adc_u, rank) — the canonical
    IVF-PQ layout (Jégou et al. 2011 §IV): vectors are routed to IVF
    cells (rank-1 cosine, ivf.centroids' deterministic sampled
    quantizer) and their RESIDUALS (v − centroid) are PQ-encoded —
    residuals are smaller than raw vectors, so the same codebook
    budget quantizes them finer.  Search probes the query's ``nprobe``
    nearest cells; each probed cell gets its own query residual and
    its own m×k integer LUT, and only vectors stored in probed cells
    are scored (the inner join on cell_id IS the candidate pruning) —
    at 100 TB this is why the scan touches 1/num_centroids·nprobe of
    the codes, each candidate costing m integer adds.

    ``codebook="trained"`` swaps the sampled residual codebook for the
    integer-Lloyd ``pq_train_codebook`` TRAINED ON THE RESIDUALS —
    the canonical IVFADC construction (Jégou et al. 2011 §IV.A trains
    the product quantizer on residual vectors, where the same code
    budget quantizes finer); ``iters`` Lloyd rounds, everything else
    unchanged (the codebook is a drop-in one-row broadcast).

    Everything is deterministic (sampled centroids + sampled-or-
    integer-Lloyd residual codebook + micro-unit integer distances),
    so the DuckDB oracle reproduces the full pipeline exactly — see
    ivfpq_topk_sql / ivfpq_trained_sql."""
    from hadoop_20_warehouse_spark.session import persist_generation
    from hadoop_20_warehouse_spark.similarity.assign import assign_topn
    from hadoop_20_warehouse_spark.similarity.ivf import centroids

    cents = centroids(corpus, id_col, vec_col, num_centroids)
    # the assignment+residual projection feeds BOTH the codebook seed
    # top-k and the encode (and cents feeds it plus the query probes):
    # persist one generation so the corpus-wide pass runs once per
    # index build, not once per consumer (the ivf_topk cells
    # precedent; at 100 TB stage to parquet instead — one corpus pass
    # either way)
    assigned = persist_generation(
        "ivfpq_assigned",
        assign_topn(
            corpus, cents, id_col=id_col, vec_col=vec_col, nprobe=1,
            include_resid=True,
        ).select(F.col(id_col), F.col("centroid_id").alias("cell_id"), "resid"),
    )
    if codebook == "trained":
        cb = pq_train_codebook(
            assigned, id_col=id_col, vec_col="resid", dim=dim, m=m,
            k=k_codes, iters=iters,
        )
    else:
        cb = pq_codebook(
            assigned, id_col=id_col, vec_col="resid", dim=dim, m=m, k=k_codes
        )
    codes = pq_encode(
        assigned, cb, id_col=id_col, vec_col="resid", m=m, dim=dim,
        keep_cols=("cell_id",),
    )
    # the query's nprobe cells + per-cell query residuals (row-local)
    sub = dim // m
    qprobes = assign_topn(
        query.select(F.lit(0).alias("_qid"), F.col(qvec_col)),
        cents, id_col="_qid", vec_col=qvec_col, nprobe=nprobe,
        include_resid=True,
    ).select(F.col("centroid_id").alias("cell_id"), F.col("resid").alias("qres"))
    d = _sqdist_u_sql_spark(f"slice(qres, s * {sub} + 1, {sub})", "cv")
    lut = qprobes.crossJoin(F.broadcast(cb)).select(
        "cell_id",
        F.expr(
            f"transform(sequence(0, {m - 1}), s -> "
            f"transform(cb[s], cv -> {d}))"
        ).alias("lut"),
    )
    # inner join on cell_id = candidate pruning to the probed cells
    scored = codes.join(F.broadcast(lut), "cell_id").select(
        F.col(id_col),
        "cell_id",
        F.expr("array_join(transform(codes, c -> cast(c as string)), '-')").alias("codes_str"),
        F.expr(
            f"aggregate(sequence(0, {m - 1}), cast(0 as bigint), "
            "(acc, s) -> acc + lut[s][codes[s]])"
        ).alias("adc_u"),
    )
    from pyspark.sql import Window

    top = scored.orderBy(F.col("adc_u").asc(), F.col(id_col).asc()).limit(topk)
    w = Window.orderBy(F.col("adc_u").asc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def ivfpq_topk_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_centroids: int = 8,
    nprobe: int = 2,
    m: int = DEFAULT_M,
    k_codes: int = DEFAULT_K,
    topk: int = 20,
) -> str:
    """DuckDB oracle for ``ivfpq_topk`` — identical sampled centroids,
    rank-1 cosine cells, residuals, sampled residual codebook,
    micro-unit encode/LUT, probed-cell pruning, and ranking.  Query =
    the md5-largest vector."""
    from hadoop_20_warehouse_spark.similarity.knn import cosine_sql

    sub = dim // m
    ccos = cosine_sql("v.v", "c.cv")
    qcos = cosine_sql("q.qv", "c.cv")
    rsub = "list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    sq = _SQDIST_U_SQL_DUCK
    return f"""
WITH cents AS (
  SELECT {id_col} AS centroid_id, {vec_col} AS cv FROM {table}
  ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col} LIMIT {num_centroids}
),
v AS (SELECT {id_col} AS id, {vec_col} AS v FROM {table}),
cellranks AS (
  SELECT id, centroid_id, cv,
         ROW_NUMBER() OVER (
           PARTITION BY id ORDER BY round({ccos}, 6) DESC, centroid_id ASC
         ) AS crank
  FROM v CROSS JOIN cents c
),
resv AS (
  SELECT v.id, cr.centroid_id AS cell_id,
         {rsub.format(a="v.v", b="cr.cv")} AS rv
  FROM v JOIN cellranks cr ON cr.id = v.id AND cr.crank = 1
),
seeds AS (
  SELECT rv, ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) - 1 AS j
  FROM resv ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {k_codes}
),
subs AS (SELECT unnest(generate_series(0, {m - 1})) AS s),
cbflat AS (
  SELECT g.s, seeds.j, seeds.rv[g.s * {sub} + 1 : g.s * {sub} + {sub}] AS sv
  FROM seeds CROSS JOIN subs g
),
dists AS (
  SELECT r.id AS vec_id, r.cell_id, cb.s, cb.j,
         {sq.format(a=f"r.rv[cb.s * {sub} + 1 : cb.s * {sub} + {sub}]", b="cb.sv")} AS du
  FROM resv r CROSS JOIN cbflat cb
),
enc AS (
  SELECT vec_id, cell_id, s, j AS code FROM (
    SELECT vec_id, cell_id, s, j, ROW_NUMBER() OVER (
      PARTITION BY vec_id, s ORDER BY du ASC, j ASC) AS rn
    FROM dists
  ) WHERE rn = 1
),
q AS (
  SELECT {vec_col} AS qv FROM {table}
  ORDER BY md5(CAST({id_col} AS VARCHAR)) DESC, {id_col} DESC LIMIT 1
),
qprobes AS (
  SELECT c.centroid_id AS cell_id, {rsub.format(a="q.qv", b="c.cv")} AS qres
  FROM q CROSS JOIN cents c
  ORDER BY round({qcos}, 6) DESC, c.centroid_id ASC LIMIT {nprobe}
),
lut AS (
  SELECT p.cell_id, cb.s, cb.j,
         {sq.format(a=f"p.qres[cb.s * {sub} + 1 : cb.s * {sub} + {sub}]", b="cb.sv")} AS du
  FROM qprobes p CROSS JOIN cbflat cb
),
adc AS (
  SELECT enc.vec_id, enc.cell_id,
         array_to_string(list(enc.code ORDER BY enc.s), '-') AS codes_str,
         CAST(SUM(lut.du) AS BIGINT) AS adc_u
  FROM enc
  JOIN lut ON lut.cell_id = enc.cell_id AND lut.s = enc.s AND lut.j = enc.code
  GROUP BY enc.vec_id, enc.cell_id
)
SELECT vec_id AS {id_col}, cell_id, codes_str, adc_u,
       CAST(ROW_NUMBER() OVER (ORDER BY adc_u ASC, vec_id ASC) AS BIGINT) AS rank
FROM adc
QUALIFY rank <= {topk}
""".strip()


# --- Trained (Lloyd) PQ codebooks — exactly reproducible integer k-means ----

# Positive offset making every accumulated micro-unit sum non-negative
# inside the rounded-mean division (Spark `div` truncates toward zero,
# DuckDB `//` floors — they only agree on non-negative operands, the
# repo's documented trap).  Components are micro-units in [-2^21, 2^21]
# (|x| ≤ 2 after normalization slack), so sums of n ≤ 2^31 members stay
# far inside 2^62 after the offset multiply.
_MEAN_OFFSET = 1 << 22


def pq_train_codebook(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = DEFAULT_M,
    k: int = DEFAULT_K,
    iters: int = 2,
) -> DataFrame:
    """Lloyd-trained PQ codebook — the trained quantizer the sampled
    ``pq_codebook`` anticipates, built so the ENTIRE training loop is
    exactly reproducible cross-engine (unlike ``ivf.train_centroids``,
    whose float means carry documented drift):

    - sub-vector components quantize ONCE to integer micro-units
      (round(x·1e6) — exact in both engines);
    - assignment distances are pure INTEGER squared-L2 (no rounding,
      no band — argmin ties break on the smaller code);
    - each round's new centroid components are integer HALF-UP rounded
      means, computed entirely in integer arithmetic via the offset
      trick ``((2·(sum + n·B) + n) div (2·n)) − B`` (positive operands,
      so Spark's truncating ``div`` == DuckDB's flooring ``//``);
    - empty cells keep their previous centroid.

    Returns the ONE-row nested-array codebook in the same shape as
    ``pq_codebook`` (``cb[s][j]`` arrays of DOUBLE = micro-units/1e6 —
    the correctly-rounded division is identical in both engines), so
    ``pq_encode``/``pq_adc_topk`` consume it unchanged.  Each round is
    one broadcast integer argmin over the (corpus × m) sub-vector
    frame plus one (s, j, d)-keyed integer partial agg; the codebook
    state (m·k rows) localCheckpoints per round."""
    sub = dim // m
    spark = corpus.sparkSession
    from hadoop_20_warehouse_spark.session import persist_generation

    # (id, s, su): integer micro-unit sub-vectors — ONE corpus pass
    subs = persist_generation(
        "pq_train_subs",
        corpus.select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"transform(sequence(0, {m - 1}), s -> struct(s, "
                    f"transform(slice({vec_col}, s * {sub} + 1, {sub}), "
                    f"x -> cast(round(cast(x as double) * 1000000) as bigint)) AS su))"
                )
            ).alias("e"),
        ).select(F.col(id_col), F.col("e.s").alias("s"), F.col("e.su").alias("su")),
    )
    # init: seed j = the j-th corpus vector under (md5(id), id) — the
    # pq_codebook rule, but quantized to micro-units
    from pyspark.sql import Window

    seeds = (
        corpus.select(
            F.col(vec_col).alias("sv"),
            F.md5(F.col(id_col).cast("string")).alias("h"),
            F.col(id_col).alias("sid"),
        )
        .orderBy("h", "sid")
        .limit(k)
        .withColumn("j", F.row_number().over(Window.orderBy("h", "sid")) - 1)
    )
    cb = seeds.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, {m - 1}), s -> struct(s, "
                f"transform(slice(sv, s * {sub} + 1, {sub}), "
                f"x -> cast(round(cast(x as double) * 1000000) as bigint)) AS cu))"
            )
        ).alias("e"),
        "j",
    ).select(
        F.col("e.s").alias("s"), F.col("j"), F.col("e.cu").alias("cu")
    ).localCheckpoint(eager=True)

    B = _MEAN_OFFSET
    for _ in range(iters):
        # ONE-row broadcast codebook: cbarr[s][j] = cu (sorted by s, j)
        cbarr = cb.groupBy("s").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "cu"))),
                lambda e: e["cu"],
            ).alias("row")
        ).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "row"))),
                lambda e: e["row"],
            ).alias("cbu")
        )
        # integer squared-L2 argmin, smaller-j tiebreak — EXACT, no band
        assigned = subs.crossJoin(F.broadcast(cbarr)).select(
            "s",
            "su",
            F.expr(
                "array_min(transform(sequence(0, size(cbu[s]) - 1), j -> "
                "struct(aggregate(zip_with(su, cbu[s][j], "
                "(a, b) -> (a - b) * (a - b)), cast(0 as bigint), "
                "(acc, v) -> acc + v) AS du, j AS j))).j"
            ).alias("j"),
        )
        dims = assigned.select(
            "s", "j", F.posexplode("su").alias("d", "xu")
        )
        means = dims.groupBy("s", "j", "d").agg(
            F.sum("xu").alias("sx"), F.count(F.lit(1)).alias("n")
        )
        # integer division via `div` (Spark's `/` is double division)
        newc = means.groupBy("s", "j").agg(
            F.expr(
                f"transform(array_sort(collect_list(struct(d, sx, n))), "
                f"e -> (2 * (e.sx + e.n * {B}) + e.n) div (2 * e.n) - {B})"
            ).alias("cu")
        )
        # empty cells keep the previous centroid
        cb = (
            cb.select("s", "j", F.col("cu").alias("old"))
            .join(newc, on=["s", "j"], how="left")
            .select("s", "j", F.coalesce("cu", "old").alias("cu"))
            .localCheckpoint(eager=True)
        )
    # emit the pq_codebook shape: DOUBLE arrays = micro-units / 1e6
    return cb.groupBy("s").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "cu"))),
            lambda e: F.transform(
                e["cu"], lambda c: c.cast("double") / 1000000.0
            ),
        ).alias("row")
    ).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", "row"))),
            lambda e: e["row"],
        ).alias("cb")
    )


def pq_trained_adc_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = DEFAULT_M,
    k: int = DEFAULT_K,
    iters: int = 2,
    topk: int = 20,
) -> str:
    """DuckDB oracle for train→encode→ADC with the Lloyd-trained
    codebook: the training iterations unroll as MATERIALIZED CTE
    stages (integer micro-unit sub-vectors, integer squared-L2
    argmins, offset-div half-up integer means, empty cells carried) —
    the whole k-means sequence is reproduced bit-for-bit, then the
    encode/LUT/ADC run on the double codebook (micro-units / 1e6)
    exactly like the sampled-codebook oracle."""
    sub = dim // m
    B = _MEAN_OFFSET
    q = lambda arr: (  # noqa: E731
        f"list_transform({arr}, x -> "
        f"CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
    )
    stages = [
        f"""gsub AS (SELECT unnest(generate_series(0, {m - 1})) AS s),
subs0 AS MATERIALIZED (
  SELECT e.{id_col} AS vid, g.s,
         {q(f"e.{vec_col}[g.s * {sub} + 1 : g.s * {sub} + {sub}]")} AS su
  FROM {table} e CROSS JOIN gsub g
),
cb0 AS MATERIALIZED (
  SELECT g.s, seeds.j,
         {q(f"seeds.sv[g.s * {sub} + 1 : g.s * {sub} + {sub}]")} AS cu
  FROM (
    SELECT {vec_col} AS sv,
           ROW_NUMBER() OVER (ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}) - 1 AS j
    FROM {table}
    ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col} LIMIT {k}
  ) seeds CROSS JOIN gsub g
)"""
    ]
    idist = (
        "CAST(list_sum(list_transform(list_zip(v.su, c.cu), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
    )
    for i in range(1, iters + 1):
        prev = f"cb{i - 1}"
        stages.append(
            f"""asg{i} AS MATERIALIZED (
  SELECT vid, s, su, j FROM (
    SELECT v.vid, v.s, v.su, c.j,
           ROW_NUMBER() OVER (PARTITION BY v.vid, v.s
                              ORDER BY {idist} ASC, c.j ASC) AS rn
    FROM subs0 v JOIN {prev} c ON c.s = v.s
  ) WHERE rn = 1
),
mean{i} AS MATERIALIZED (
  SELECT s, j, d,
         (2 * (SUM(xu) + COUNT(*) * {B}) + COUNT(*)) // (2 * COUNT(*)) - {B} AS cud
  FROM (
    SELECT a.s, a.j, u.i AS d, a.su[u.i] AS xu
    FROM asg{i} a, UNNEST(generate_series(1, len(a.su))) u(i)
  )
  GROUP BY s, j, d
),
newc{i} AS MATERIALIZED (
  SELECT s, j, list(cud ORDER BY d) AS cu FROM mean{i} GROUP BY s, j
),
cb{i} AS MATERIALIZED (
  SELECT p.s, p.j, COALESCE(n.cu, p.cu) AS cu
  FROM {prev} p LEFT JOIN newc{i} n ON n.s = p.s AND n.j = p.j
)"""
        )
    # double codebook + encode + LUT + ADC (the sampled-oracle shapes)
    sq = _SQDIST_U_SQL_DUCK
    enc_d = sq.format(
        a=f"e.{vec_col}[cb.s * {sub} + 1 : cb.s * {sub} + {sub}]", b="cb.cd"
    )
    lut_d = sq.format(
        a=f"q.qv[cb.s * {sub} + 1 : cb.s * {sub} + {sub}]", b="cb.cd"
    )
    stages.append(
        f"""cbd AS MATERIALIZED (
  SELECT s, j, list_transform(cu, c -> CAST(c AS DOUBLE) / 1000000.0) AS cd
  FROM cb{iters}
),
q AS (
  SELECT {vec_col} AS qv FROM {table}
  ORDER BY md5(CAST({id_col} AS VARCHAR)) DESC, {id_col} DESC LIMIT 1
),
enc AS MATERIALIZED (
  SELECT vid, s, j AS code FROM (
    SELECT e.{id_col} AS vid, cb.s, cb.j,
           ROW_NUMBER() OVER (PARTITION BY e.{id_col}, cb.s
                              ORDER BY {enc_d} ASC, cb.j ASC) AS rn
    FROM {table} e CROSS JOIN cbd cb
  ) WHERE rn = 1
),
lut AS MATERIALIZED (
  SELECT cb.s, cb.j, {lut_d} AS du
  FROM q CROSS JOIN cbd cb
),
adc AS (
  SELECT enc.vid,
         array_to_string(list(enc.code ORDER BY enc.s), '-') AS codes_str,
         CAST(SUM(lut.du) AS BIGINT) AS adc_u
  FROM enc JOIN lut ON lut.s = enc.s AND lut.j = enc.code
  GROUP BY enc.vid
)"""
    )
    ctes = ",\n".join(stages)
    return f"""
WITH {ctes}
SELECT vid AS {id_col}, codes_str, adc_u,
       CAST(ROW_NUMBER() OVER (ORDER BY adc_u ASC, vid ASC) AS BIGINT) AS rank
FROM adc
QUALIFY rank <= {topk}
""".strip()


def ivfpq_trained_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_centroids: int = 8,
    nprobe: int = 2,
    m: int = DEFAULT_M,
    k_codes: int = DEFAULT_K,
    iters: int = 2,
    topk: int = 20,
) -> str:
    """DuckDB oracle for ``ivfpq_topk(codebook='trained')`` — the
    canonical IVFADC pipeline with the product quantizer LLOYD-TRAINED
    ON THE RESIDUALS: sampled centroids → rank-1 cosine cells →
    residuals (ivfpq_topk_sql's stages) feed the integer-Lloyd CTE
    machinery (pq_trained_adc_sql's stages, re-rooted at the residual
    frame), then encode/probe/LUT/ADC run per probed cell.  Every
    stage is exact integer or correctly-rounded arithmetic, so the
    hash pins the full train→encode→probe→scan pipeline."""
    from hadoop_20_warehouse_spark.similarity.knn import cosine_sql

    sub = dim // m
    B = _MEAN_OFFSET
    ccos = cosine_sql("v.v", "c.cv")
    qcos = cosine_sql("q.qv", "c.cv")
    rsub = (
        "list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    )
    quant = (
        "list_transform({arr}, x -> "
        "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
    )
    sq = _SQDIST_U_SQL_DUCK
    stages = [
        f"""cents AS (
  SELECT {id_col} AS centroid_id, {vec_col} AS cv FROM {table}
  ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col} LIMIT {num_centroids}
),
v AS (SELECT {id_col} AS id, {vec_col} AS v FROM {table}),
cellranks AS (
  SELECT id, centroid_id, cv,
         ROW_NUMBER() OVER (
           PARTITION BY id ORDER BY round({ccos}, 6) DESC, centroid_id ASC
         ) AS crank
  FROM v CROSS JOIN cents c
),
resv AS MATERIALIZED (
  SELECT v.id, cr.centroid_id AS cell_id,
         {rsub.format(a="v.v", b="cr.cv")} AS rv
  FROM v JOIN cellranks cr ON cr.id = v.id AND cr.crank = 1
),
gsub AS (SELECT unnest(generate_series(0, {m - 1})) AS s),
subs0 AS MATERIALIZED (
  SELECT r.id AS vid, g.s,
         {quant.format(arr=f"r.rv[g.s * {sub} + 1 : g.s * {sub} + {sub}]")} AS su
  FROM resv r CROSS JOIN gsub g
),
cb0 AS MATERIALIZED (
  SELECT g.s, seeds.j,
         {quant.format(arr=f"seeds.rv[g.s * {sub} + 1 : g.s * {sub} + {sub}]")} AS cu
  FROM (
    SELECT rv, ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) - 1 AS j
    FROM resv ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {k_codes}
  ) seeds CROSS JOIN gsub g
)"""
    ]
    idist = (
        "CAST(list_sum(list_transform(list_zip(v.su, c.cu), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
    )
    for i in range(1, iters + 1):
        prev = f"cb{i - 1}"
        stages.append(
            f"""asg{i} AS MATERIALIZED (
  SELECT vid, s, su, j FROM (
    SELECT v.vid, v.s, v.su, c.j,
           ROW_NUMBER() OVER (PARTITION BY v.vid, v.s
                              ORDER BY {idist} ASC, c.j ASC) AS rn
    FROM subs0 v JOIN {prev} c ON c.s = v.s
  ) WHERE rn = 1
),
mean{i} AS MATERIALIZED (
  SELECT s, j, d,
         (2 * (SUM(xu) + COUNT(*) * {B}) + COUNT(*)) // (2 * COUNT(*)) - {B} AS cud
  FROM (
    SELECT a.s, a.j, u.i AS d, a.su[u.i] AS xu
    FROM asg{i} a, UNNEST(generate_series(1, len(a.su))) u(i)
  )
  GROUP BY s, j, d
),
newc{i} AS MATERIALIZED (
  SELECT s, j, list(cud ORDER BY d) AS cu FROM mean{i} GROUP BY s, j
),
cb{i} AS MATERIALIZED (
  SELECT p.s, p.j, COALESCE(n.cu, p.cu) AS cu
  FROM {prev} p LEFT JOIN newc{i} n ON n.s = p.s AND n.j = p.j
)"""
        )
    enc_d = sq.format(
        a=f"r.rv[cb.s * {sub} + 1 : cb.s * {sub} + {sub}]", b="cb.cd"
    )
    lut_d = sq.format(
        a=f"p.qres[cb.s * {sub} + 1 : cb.s * {sub} + {sub}]", b="cb.cd"
    )
    stages.append(
        f"""cbd AS MATERIALIZED (
  SELECT s, j, list_transform(cu, c -> CAST(c AS DOUBLE) / 1000000.0) AS cd
  FROM cb{iters}
),
enc AS MATERIALIZED (
  SELECT vid, cell_id, s, j AS code FROM (
    SELECT r.id AS vid, r.cell_id, cb.s, cb.j,
           ROW_NUMBER() OVER (PARTITION BY r.id, cb.s
                              ORDER BY {enc_d} ASC, cb.j ASC) AS rn
    FROM resv r CROSS JOIN cbd cb
  ) WHERE rn = 1
),
q AS (
  SELECT {vec_col} AS qv FROM {table}
  ORDER BY md5(CAST({id_col} AS VARCHAR)) DESC, {id_col} DESC LIMIT 1
),
qprobes AS (
  SELECT c.centroid_id AS cell_id, {rsub.format(a="q.qv", b="c.cv")} AS qres
  FROM q CROSS JOIN cents c
  ORDER BY round({qcos}, 6) DESC, c.centroid_id ASC LIMIT {nprobe}
),
lut AS MATERIALIZED (
  SELECT p.cell_id, cb.s, cb.j, {lut_d} AS du
  FROM qprobes p CROSS JOIN cbd cb
),
adc AS (
  SELECT enc.vid, enc.cell_id,
         array_to_string(list(enc.code ORDER BY enc.s), '-') AS codes_str,
         CAST(SUM(lut.du) AS BIGINT) AS adc_u
  FROM enc
  JOIN lut ON lut.cell_id = enc.cell_id AND lut.s = enc.s AND lut.j = enc.code
  GROUP BY enc.vid, enc.cell_id
)"""
    )
    ctes = ",\n".join(stages)
    return f"""
WITH {ctes}
SELECT vid AS {id_col}, cell_id, codes_str, adc_u,
       CAST(ROW_NUMBER() OVER (ORDER BY adc_u ASC, vid ASC) AS BIGINT) AS rank
FROM adc
QUALIFY rank <= {topk}
""".strip()


def ivfpq_rerank_topk(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str = "qv",
    num_centroids: int = 8,
    nprobe: int = 2,
    m: int = DEFAULT_M,
    k_codes: int = DEFAULT_K,
    dim: int = 64,
    shortlist: int = 100,
    topk: int = 20,
    codebook: str = "trained",
    iters: int = 2,
) -> DataFrame:
    """(vec_id, adc_u, exact_u, rank) — the COMPLETE production ANN
    stack in one pipeline (Jégou et al. 2011 §IV-V): IVF cell probing
    prunes the candidate scan, residual-trained PQ codes score the
    probed cells with integer ADC, the ``shortlist`` best candidates
    fetch their full-precision vectors by broadcast id join, and the
    final ``topk`` re-ranks by exact micro-unit squared-L2.  Cost
    structure at 100 TB: the scan touches nprobe/num_centroids of the
    8-byte codes, exact math runs on O(shortlist) rows, and the
    re-rank converts ADC ordering noise into shortlist membership
    (the PQ quantization error only costs recall if it pushes a true
    neighbor out of the R-deep shortlist)."""
    short = ivfpq_topk(
        corpus, query, id_col=id_col, vec_col=vec_col, qvec_col=qvec_col,
        num_centroids=num_centroids, nprobe=nprobe, m=m, k_codes=k_codes,
        dim=dim, topk=shortlist, codebook=codebook, iters=iters,
    ).select(id_col, "adc_u")
    d = _sqdist_u_sql_spark(vec_col, qvec_col)
    exact = (
        corpus.join(F.broadcast(short), on=id_col)
        .crossJoin(F.broadcast(query))
        .select(F.col(id_col), F.col("adc_u"), F.expr(d).alias("exact_u"))
    )
    from pyspark.sql import Window

    top = exact.orderBy(F.col("exact_u").asc(), F.col(id_col).asc()).limit(topk)
    w = Window.orderBy(F.col("exact_u").asc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def ivfpq_trained_rerank_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_centroids: int = 8,
    nprobe: int = 2,
    m: int = DEFAULT_M,
    k_codes: int = DEFAULT_K,
    iters: int = 2,
    shortlist: int = 100,
    topk: int = 20,
) -> str:
    """DuckDB oracle for :func:`ivfpq_rerank_topk` — the full trained
    IVFADC derivation (as a nested subquery) feeding the shortlist +
    exact-rerank stages of pq_rerank_topk_sql."""
    inner = ivfpq_trained_sql(
        table, id_col=id_col, vec_col=vec_col, dim=dim,
        num_centroids=num_centroids, nprobe=nprobe, m=m, k_codes=k_codes,
        iters=iters, topk=shortlist,
    )
    exact_d = _SQDIST_U_SQL_DUCK.format(a=f"e.{vec_col}", b="q2.qv")
    return f"""
WITH short AS (
  SELECT {id_col} AS svid, adc_u FROM ({inner})
),
q2 AS (
  SELECT {vec_col} AS qv FROM {table}
  ORDER BY md5(CAST({id_col} AS VARCHAR)) DESC, {id_col} DESC LIMIT 1
),
exact AS (
  SELECT s.svid, s.adc_u, {exact_d} AS exact_u
  FROM short s
  JOIN {table} e ON e.{id_col} = s.svid
  CROSS JOIN q2
)
SELECT svid AS {id_col}, adc_u, exact_u,
       CAST(ROW_NUMBER() OVER (ORDER BY exact_u ASC, svid ASC) AS BIGINT) AS rank
FROM exact
QUALIFY rank <= {topk}
""".strip()
