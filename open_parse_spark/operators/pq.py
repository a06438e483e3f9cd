"""Product-quantization (PQ) ANN — the third approximate-search family next
to hyperplane-LSH and IVF (``operators/similarity.py``).

PQ splits each vector into ``n_sub`` contiguous subspaces, k-means-trains a
tiny per-subspace codebook, stores each corpus vector as ``n_sub`` small
codes, and scores queries by Asymmetric Distance Computation (ADC): the
query precomputes its exact distance to every codebook centroid, and a
corpus vector's approximate distance is the SUM of table lookups — no
full-dimension arithmetic per pair (Jegou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011).

Everything is exact fixed-point integer arithmetic, and the quantizer is
not written here: a PQ codebook is trained by the fixed-point Lloyd loop
that ``operators/similarity.py`` owns (``_lloyd``; IVF's coarse quantizer
is the same loop with one subspace), and every nearest-code assignment —
training, encoding, ADC scoring — goes through its one exact nearest-code
kernel (``_nearest``: a float64 matmul where that is exact, exact int64
past it).  Quantize once, integer Lloyd with one declared rounding per
step, integer squared distances — so a SQL engine replays the whole
train/encode/score chain bit-for-bit.

Design notes (100 TB):

- The codebook is tiny and bounded (``n_sub * n_codes`` rows, like IVF's k
  centroids), so nearest-code assignment is MAP-ONLY: the codebook rides
  into a vectorized Arrow UDF as a numpy literal and every corpus vector is
  touched once — no subspace explode, no broadcast join, no per-(id,
  subspace) min_by shuffle.  Per Lloyd iteration the only shuffle left is
  the map-side-combined codebook update on (s, code) keys, and the driver
  read is the updated codebook itself (never corpus-sized).
- ADC scoring fuses encode + table lookup in one Arrow pass: the query
  distance tables (|queries| x n_sub x n_codes ints — queries are the
  bounded broadcast side by design) are a numpy literal and each corpus
  vector emits its |queries| approximate distances directly.  One shuffle
  total in scoring (the per-query top-k window).
- The memory win at scale: a 64-dim float vector (256 B) becomes
  ``n_sub`` byte-sized codes + one shared codebook.
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from open_parse_spark.operators.similarity import (
    QUANT_SCALE,
    _codebook_df,
    _dim_of,
    _float64_exact,
    _lloyd,
    _nearest,
    _quantized,
)


def pq_codebooks_quantized(
    embeddings: DataFrame,
    n_sub: int = 4,
    n_codes: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = QUANT_SCALE,
    dim: int = None,
) -> DataFrame:
    """Joint fixed-point Lloyd over every subspace at once (``_lloyd``).

    Init: per subspace, the ``n_codes`` vectors with the smallest md5(id)
    hash (the IVF init convention — identical ids across subspaces, slices
    differ).  Update: per-dim floor(sum/count + 0.5).  Returns
    (s, code, cq: array<bigint>).  ``dim`` skips the probe job when the
    caller already knows it.
    """
    _books, rows = _lloyd(
        embeddings, n_sub, n_codes, iters, id_col, vec_col, scale, dim
    )
    return _codebook_df(embeddings.sparkSession, rows)


def pq_topk_quantized(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_sub: int = 4,
    n_codes: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = QUANT_SCALE,
    dim: int = None,
) -> DataFrame:
    """ADC top-k: returns (query_id, neighbor_id, rank, adist) where adist
    is the exact-integer sum of per-subspace squared distances from the
    query to the neighbor's code centroids (lower = closer); ties break on
    the lower neighbor id.  ``dim`` skips the probe jobs when known."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    if dim is None:
        dim = _dim_of(embeddings, vec_col)

    def _empty():
        # schema-stable empty result (empty corpus or empty query set)
        return queries.select(
            F.col(id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.lit(0).cast("long").alias("rank"),
            F.lit(0).cast("long").alias("adist"),
        ).where(F.lit(False))

    if dim == 0 or n_sub <= 0:
        # empty corpus (dim probes to 0): nothing to train or score —
        # an empty result beats a divide-by-zero (empty partitions are
        # routine at scale)
        return _empty()
    qdim = _dim_of(queries, vec_col)
    if qdim != dim:
        # a silent mismatch would misalign the subspace slices and rank
        # garbage distances with no exception (review finding)
        raise ValueError(f"query dim {qdim} != corpus dim {dim}")
    sub = dim // n_sub
    books, _rows = _lloyd(
        embeddings, n_sub, n_codes, iters, id_col, vec_col, scale, dim
    )
    # queries are the bounded small side (the previous formulation broadcast
    # their |q| x n_sub x n_codes ADC tables); quantization stays in Spark
    # expressions so both sides share one rounding rule
    qrows = _quantized(queries, id_col, vec_col, scale).collect()
    if not qrows or not books:
        return _empty()
    qids = [r["id"] for r in qrows]
    id_type = queries.schema[id_col].dataType  # output dtype must match the
    # id column exactly (a bare F.lit([0..9]) infers array<int> and came
    # out int32 — caught by the hostile-corpus schema parity test)
    qmat = np.array([r["vq"] for r in qrows], dtype=np.int64)  # (nq, dim)
    # qtab[s]: (nq, n_codes_s) exact int64 query->centroid distances.  An
    # adist sums (q - c)^2 over every dim, each term within (2*big)^2, so
    # the int64 bound is checked for 4*dim terms (raises past it)
    qtab: Dict[int, "object"] = {}
    for s, (_, mat) in books.items():
        sl = qmat[:, (s - 1) * sub : s * sub]
        _float64_exact(
            int(max(np.abs(sl).max(initial=0), np.abs(mat).max(initial=0))),
            4 * dim,
        )
        qtab[s] = ((sl[:, None, :] - mat[None, :, :]) ** 2).sum(axis=2)
    n_q = len(qids)

    def _adists(vs):
        m = np.stack(vs.values).astype(np.int64)  # (n, dim)
        acc = np.zeros((len(m), n_q), dtype=np.int64)
        for s, (_, mat) in books.items():
            near = _nearest(m[:, (s - 1) * sub : s * sub], mat)  # (n,)
            acc += qtab[s][:, near].T  # (n, nq) lookups
        return pd.Series(list(acc))

    adists = F.pandas_udf(_adists, ArrayType(LongType()))
    scored = (
        _quantized(embeddings, id_col, vec_col, scale)
        .select(
            F.col("id").alias("neighbor_id"),
            F.posexplode(adists(F.col("vq"))).alias("qi", "adist"),
        )
        .select(
            F.element_at(F.lit(qids), F.col("qi") + 1)
            .cast(id_type)
            .alias("query_id"),
            "neighbor_id",
            "adist",
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adist")
    )
