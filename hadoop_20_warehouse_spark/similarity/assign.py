"""Batched (GEMM) centroid assignment — the one assign kernel of the
vector family.

Every ANN/SemDeDup operator in this library quantizes vectors by
scoring them against a broadcast centroid table and keeping the
``nprobe`` nearest by rounded cosine (6 decimals) with centroid-id
tiebreaks.  This module is that stage: ``mapInPandas`` over Arrow
batches, ONE numpy GEMM per batch against the broadcast centroid
matrix, shuffle-free and embarrassingly parallel.  (Higher-order array
functions would run as INTERPRETED expressions — the repo's measured
finding, PLANS.md codegen notes — so a per-row argmin's O(N·k·d)
constant grows with k; the batched form won at every measured k.)

Bit-identical by construction — the load-bearing property (the DuckDB
oracles hash the downstream results, so the assign must reproduce the
oracle's ``round(cosine, 6) DESC, centroid_id ASC`` ranking EXACTLY,
same rounding and same tiebreaks):

- float32 inputs widen to float64 exactly; float64 inputs pass
  through — every elementwise product/divide is then the same IEEE
  double op the JVM runs.
- Norms are sequential folds (``np.cumsum``, not ``np.sum`` — numpy's
  reduce is pairwise, the JVM fold is left-to-right).
- The GEMM's dots are NOT trusted for the decision near ties: its
  reassociation error is bounded by d·eps·(vn·cn) (Cauchy–Schwarz), ≤
  ~1.5e-14 on the cosine scale, so any pair of candidates whose GEMM
  cosines differ by more than BAND = 1e-6 + 1e-12 has the same rounded
  (6-decimal) order as the exact sequential fold.  Rows whose top
  ``nprobe+1`` candidates are all separated by > BAND take the GEMM
  order directly (no rounding needed at all — the assign outputs ids
  and ranks, never the cosine).  Rows with any candidate inside the
  band get the exact treatment: sequential-fold dots recomputed for
  the banded candidates only, rounded with the same HALF_UP-on-
  shortest-decimal rule as Spark's ``round()`` (java.math.BigDecimal
  .valueOf == Double.toString == Python ``repr``), sorted by
  (-rounded, centroid_id), NULL cosines (zero norms) last.
- The DuckDB oracles pin the result on real float32 embeddings and on
  an adversarial frame of exact-duplicate vectors, zero vectors and
  ±1e-9 ties (tests/test_similarity_dedup.py).

Reference lineage: the assignment stage itself has no reference
counterpart (vector ops are an extension); the batch-the-inner-loop
idea is the reference's MultithreadedMapRunner posture
(mapred/lib/MultithreadedMapRunner.java) applied to SIMD instead of
threads.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField, StructType

# Decision band on the cosine scale: 1e-6 covers the 6-decimal
# rounding granularity; the error term dominates the GEMM
# reassociation bound (≈ 2·d·eps on the normalized cosine, eps =
# 2^-52 ≈ 2.3e-16) with ≥4x headroom AT EVERY DIMENSION — the fixed
# 1e-12 floor alone would be outgrown past d ≈ 4000 (r11 ADVICE), so
# the band is derived from the actual vector dimension at each call
# site (the kernels all know d from the batch/matrix shape).
def _band(d: int) -> float:
    return 1e-6 + max(1e-12, 8.0 * float(d) * 2.3e-16)


# Sort key for NULL cosines (zero norm): those candidates rank LAST
# with centroid-id tiebreaks (the oracle's DESC NULLS LAST); any finite
# -rounded key is ≤ 1e6 so 2^62 is safely after.
_NULL_KEY = 1 << 62


def _round6_scaled(x: float) -> int:
    """Spark's ``round(x, 6)`` as a scaled integer (×1e6).

    Spark's Round on DoubleType goes through
    ``BigDecimal.valueOf(double)`` — i.e. ``Double.toString``'s
    shortest round-trip decimal — then ``setScale(6, HALF_UP)``.
    Python's ``repr`` is the same shortest round-trip string, so
    Decimal(repr(x)) + HALF_UP reproduces it (np.round is HALF_EVEN on
    the binary value — wrong on both counts)."""
    return int(
        (
            Decimal(repr(float(x))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        * 1_000_000
    )


def collect_centroid_matrix(cents: DataFrame):
    """Collect a (centroid_id, cv, cn) table into numpy arrays for the
    broadcast closure.  The table is O(k) rows by construction
    (``ivf.centroids``/``train_centroids`` cap it), so the collect is
    a bounded driver hop.  ``cn`` is reused from the Spark-computed column — not
    recomputed — so the denominator is the identical double."""
    import numpy as np

    rows = cents.select("centroid_id", "cv", "cn").collect()
    cids = [r["centroid_id"] for r in rows]
    C = np.array([list(r["cv"]) for r in rows], dtype=np.float64)
    cn = np.array(
        [float(r["cn"]) if r["cn"] is not None else 0.0 for r in rows],
        dtype=np.float64,
    )
    return cids, C, cn


def _seq_dot(a, b):
    """Left-to-right fold of the element products — the JVM
    ``aggregate`` order (np.cumsum is sequential; np.sum is pairwise
    and would differ in the last ulp)."""
    import numpy as np

    return np.cumsum(a * b, axis=-1)[..., -1]


def assign_topn(
    corpus: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    include_resid: bool = False,
    include_vec: bool = False,
) -> DataFrame:
    """(id, centroid_id, crank[, vec][, resid]) — each vector's
    ``nprobe`` nearest centroids by rounded cosine with centroid-id
    tiebreaks, bit-identical to the oracles' ``cellranks`` (see module
    docstring for the equality argument).

    ``include_resid`` appends ``resid`` = v − centroid per emitted row
    (the IVF-PQ residual, float64 — the oracle's double-cast list
    difference); ``include_vec`` carries the input vector through
    (the train_centroids loop shape).

    Scale: one GEMM per Arrow batch against the broadcast centroid
    matrix — no shuffle, no window; worker memory is bounded by
    row-chunking so batch_rows × k stays ≤ ~2^24 scores."""
    import numpy as np

    spark = corpus.sparkSession
    cids, C, cn = collect_centroid_matrix(cents)
    k = len(cids)
    if k == 0:
        raise ValueError(
            "assign_topn: empty centroid table — the argmin is "
            "undefined (check the quantizer's source frame)"
        )
    bc = spark.sparkContext.broadcast((cids, C, cn))

    sel = corpus.select(F.col(id_col), F.col(vec_col))
    id_type = sel.schema[0].dataType
    vec_type = sel.schema[1].dataType
    cid_type = cents.select("centroid_id").schema[0].dataType
    fields = [
        StructField(id_col, id_type),
        StructField("centroid_id", cid_type),
        StructField("crank", IntegerType()),
    ]
    if include_vec:
        fields.append(StructField(vec_col, vec_type))
    if include_resid:
        fields.append(StructField("resid", ArrayType(DoubleType())))
    schema = StructType(fields)
    np_eff = min(nprobe, k)

    def gen(batches):
        import pandas as pd

        cids_, C_, cn_ = bc.value
        kk = C_.shape[0]
        cid_arr = np.arange(kk)
        band = _band(C_.shape[1])
        # pre-normalized centroid matrix, computed ONCE per worker:
        # Sp = V @ (C/cn).T gives Sp[i,j] = dot(v_i, c_j)/cn_j, which
        # ORDERS each row exactly like the cosine (vn_i is a constant
        # positive scale per row), so the full (B, k) denominator
        # outer product, validity mask, and division passes — which
        # dominated the 200k×2k-cell rehearsal at 3 full (B·k)-sized
        # temporaries per chunk — never materialize.  Cosine-scale
        # comparisons (the band) rescale by vn_i per row instead.
        # The extra per-element rounding from pre-normalizing C adds
        # O(eps) relative error, far inside the band's ≥4x margin
        # (module docstring); rows/columns with zero norms pin to
        # -inf and fall to the exact fallback as before.
        zero_c = cn_ <= 0.0
        CnT = (C_ / np.where(zero_c, 1.0, cn_)[:, None]).T
        any_zero_c = bool(zero_c.any())

        def emit(ids_chunk, V, raw_chunk, rows_sel):
            # rows_sel: list over rows of [centroid_index, ...] ordered
            cols = {
                id_col: np.repeat(ids_chunk, [len(s) for s in rows_sel]),
                "centroid_id": [cids_[c] for s in rows_sel for c in s],
                "crank": np.concatenate(
                    [np.arange(1, len(s) + 1, dtype=np.int32) for s in rows_sel]
                )
                if rows_sel
                else np.array([], dtype=np.int32),
            }
            if include_vec:
                cols[vec_col] = [
                    raw_chunk[i] for i, s in enumerate(rows_sel) for _ in s
                ]
            if include_resid:
                cols["resid"] = [
                    V[i] - C_[c] for i, s in enumerate(rows_sel) for c in s
                ]
            return pd.DataFrame(cols)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            raw = [np.asarray(v) for v in pdf[vec_col]]
            V_all = np.stack([v.astype(np.float64) for v in raw])
            # row-chunk so chunk_rows × k scores stay bounded
            chunk = max(1, (1 << 24) // max(kk, 1))
            for lo in range(0, len(ids), chunk):
                V = V_all[lo : lo + chunk]
                ids_chunk = ids[lo : lo + chunk]
                raw_chunk = raw[lo : lo + chunk]
                B = V.shape[0]
                vn = np.sqrt(_seq_dot(V, V))
                Sp = V @ CnT  # (B, k) — THE batch GEMM, cosine·vn scale
                if any_zero_c:
                    Sp[:, zero_c] = -np.inf
                zero_v = vn <= 0.0
                if zero_v.any():
                    Sp[zero_v, :] = -np.inf
                # top-(np_eff+1) per row via argpartition, THEN order
                # the small subset by (score desc, centroid-id asc) —
                # a full per-row lexsort over all k is O(N·k·log k)
                # and, with the former (B·k) denominator/where passes,
                # dominated the kernel at paper-scale k (together:
                # steady-state 29.7s → 2.2s at 200k×2000, PLANS.md
                # r12).  Selection semantics are unchanged: clean rows
                # are strictly band-separated inside the subset, so
                # argpartition's arbitrary tie order can only matter on
                # rows the gap check already routes to the exact
                # fallback.  -(-inf) = +inf sorts last. ✓
                sel_n = min(np_eff + 1, kk)
                part = np.argpartition(-Sp, sel_n - 1, axis=1)[:, :sel_n]
                psims = np.take_along_axis(Sp, part, axis=1)
                o = np.lexsort((cid_arr[part], -psims), axis=1)
                order = np.take_along_axis(part, o, axis=1)
                s_sorted = np.take_along_axis(psims, o, axis=1)
                # clean rows: every consecutive gap across the selected
                # prefix AND the selection boundary exceeds the band —
                # GEMM order == exact rounded order, no rounding
                # needed.  Gaps live on the cosine·vn scale, so the
                # cosine-scale band rescales by vn per row.
                ncheck = min(np_eff, kk - 1)
                if ncheck > 0:
                    # −inf − −inf = NaN (all-NULL rows): compares False
                    # → the row takes the exact path, as it must
                    with np.errstate(invalid="ignore"):
                        gaps = s_sorted[:, :ncheck] - s_sorted[:, 1 : ncheck + 1]
                        clean = np.all(gaps > band * vn[:, None], axis=1)
                else:
                    clean = np.ones(B, dtype=bool)
                rows_sel: list = [None] * B
                top_idx = order[:, :np_eff]
                for i in np.nonzero(clean)[0]:
                    rows_sel[i] = top_idx[i]
                dirty = np.nonzero(~clean)[0]
                if len(dirty):
                    for i in dirty:
                        m = s_sorted[i, np_eff - 1]
                        if np.isinf(m) and m < 0:
                            cand = cid_arr  # whole row is in the tie set
                        else:
                            with np.errstate(invalid="ignore"):
                                cand = np.nonzero(
                                    Sp[i] >= m - band * vn[i]
                                )[0]
                        # exact recompute VECTORIZED across the tie
                        # set: _seq_dot broadcasts to (|cand|, d) and
                        # folds each row sequentially (np.cumsum) —
                        # bit-identical to the one-candidate-at-a-time
                        # form (same per-row fold), one numpy call
                        # instead of |cand|; matters when tie-dense
                        # data (near-duplicate clusters) inflates the
                        # dirty fraction
                        exact = _seq_dot(V[i][None, :], C_[cand])
                        vi = vn[i]
                        keyed = []
                        for idx, c in enumerate(cand):
                            den = vi * cn_[c]
                            if not den > 0.0:
                                keyed.append((_NULL_KEY, cids_[c], c))
                                continue
                            sim = exact[idx] / den
                            keyed.append((-_round6_scaled(sim), cids_[c], c))
                        keyed.sort(key=lambda t: (t[0], t[1]))
                        rows_sel[i] = [t[2] for t in keyed[:np_eff]]
                yield emit(ids_chunk, V, raw_chunk, rows_sel)

    return sel.mapInPandas(gen, schema=schema)
