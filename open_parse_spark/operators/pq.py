"""Product-quantization (PQ) ANN — the third approximate-search family next
to hyperplane-LSH and IVF (``operators/similarity.py``).

PQ splits each vector into ``n_sub`` contiguous subspaces, k-means-trains a
tiny per-subspace codebook, stores each corpus vector as ``n_sub`` small
codes, and scores queries by Asymmetric Distance Computation (ADC): the
query precomputes its exact distance to every codebook centroid, and a
corpus vector's approximate distance is the SUM of table lookups — no
full-dimension arithmetic per pair (Jegou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011).

Everything is exact fixed-point integer arithmetic in the style of
``ivf_topk_quantized``: quantize once, integer Lloyd with one declared
rounding per step, integer squared distances — so a SQL engine replays the
whole train/encode/score chain bit-for-bit.

Design notes (100 TB) — r6 restructure (guide §2.4/§4.2: the same shape the
IVF family already uses):

- The codebook is tiny and bounded (``n_sub * n_codes`` rows, like IVF's k
  centroids), so nearest-code assignment is MAP-ONLY: the codebook rides
  into a vectorized Arrow UDF as a numpy literal and every corpus vector is
  touched once — no subspace explode (was n_sub rows/vector), no broadcast
  join (was n_sub*n_codes distance rows/vector through an exchange), no
  per-(id, subspace) min_by shuffle.  Per Lloyd iteration the only shuffle
  left is the map-side-combined codebook update on (s, code) keys.
- The per-iteration driver read is the updated codebook itself
  (<= n_sub * n_codes rows — bounded exactly like IVF's centroid collect,
  never corpus-sized), which also truncates the iterative lineage without
  checkpoints.
- ADC scoring fuses encode + table lookup in one Arrow pass: the query
  distance tables (|queries| x n_sub x n_codes ints — queries are the
  bounded broadcast side by design, exactly as before) are a numpy literal
  and each corpus vector emits its |queries| approximate distances
  directly.  One shuffle total in scoring (the per-query top-k window).
- The memory win at scale: a 64-dim float vector (256 B) becomes
  ``n_sub`` byte-sized codes + one shared codebook.
"""

from __future__ import annotations

from typing import Dict, List, Tuple

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from open_parse_spark.operators.similarity import (
    QUANT_SCALE,
    _dim_of,
    _md5_long,
    quantize_vec,
)

# books: per 1-indexed subspace, (ascending code ids, (n_codes, sub) int64
# centroid matrix) — codes ascend so numpy argmin's first-minimum rule
# reproduces "ties to the lowest code id" exactly
_Books = Dict[int, Tuple["object", "object"]]


def _quantized(df: DataFrame, id_col: str, vec_col: str, scale: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"), quantize_vec(F.col(vec_col), scale).alias("vq")
    )


def _books_from_rows(rows, n_sub: int) -> _Books:
    import numpy as np

    books: _Books = {}
    for s in range(1, n_sub + 1):
        srows = sorted(
            ((int(r["code"]), r["cq"]) for r in rows if int(r["s"]) == s)
        )
        if not srows:
            continue
        books[s] = (
            np.array([c for c, _ in srows], dtype=np.int64),
            np.array([cq for _, cq in srows], dtype=np.int64),
        )
    return books


def _int64_guard(maxabs: int, sub: int) -> None:
    # (2*q)^2 summed over ``sub`` dims must stay < 2^63 for exact int64
    bound = int((2.0**63 / (4 * sub)) ** 0.5)
    if maxabs > bound:
        raise ValueError(
            f"quantized magnitude {maxabs} exceeds the exact-int64 bound "
            f"{bound} for sub-dim {sub}; lower the quantization scale"
        )


def _assign_codes_arrow(books: _Books, n_sub: int, sub: int):
    """Vectorized nearest-code assignment: vq -> array of ``n_sub`` code
    ids.  Exact int64 squared L2 per subspace, ties to the lowest code id
    (codes ascend + argmin keeps the first minimum)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    def _assign(vs):
        m = np.stack(vs.values).astype(np.int64)  # (n, dim)
        _int64_guard(
            max(
                int(np.abs(m).max(initial=0)),
                max(int(np.abs(mat).max(initial=0)) for _, mat in books.values()),
            ),
            sub,
        )
        n = len(m)
        out = np.empty((n, n_sub), dtype=np.int64)
        for s in range(1, n_sub + 1):
            codes, mat = books[s]  # (k,), (k, sub)
            sl = m[:, (s - 1) * sub : s * sub]  # (n, sub)
            d = ((sl[:, None, :] - mat[None, :, :]) ** 2).sum(axis=2)  # (n, k)
            out[:, s - 1] = codes[d.argmin(axis=1)]
        return pd.Series(list(out))

    return F.pandas_udf(_assign, ArrayType(LongType()))


def _codebook_df(spark, tuples) -> DataFrame:
    import pandas as pd

    # arrow-path local relation: a plain-list createDataFrame round-trips
    # through pickled RDD slices and spawns python workers (r6 profile)
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "s": [t[0] for t in tuples],
                "code": [t[1] for t in tuples],
                "cq": [t[2] for t in tuples],
            }
        ),
        "s int, code long, cq array<bigint>",
    )


def _train_books(
    embeddings: DataFrame,
    n_sub: int,
    n_codes: int,
    iters: int,
    id_col: str,
    vec_col: str,
    scale: int,
    dim: int,
) -> Tuple[_Books, List[Tuple[int, int, List[int]]]]:
    """Run the fixed-point Lloyd loop; returns (books, final rows as
    (s, code, cq) tuples).  Init: the ``n_codes`` vectors with the smallest
    md5(id) hash seed EVERY subspace (identical ids across subspaces,
    slices differ) — the IVF init convention, unchanged."""
    import numpy as np

    if dim % n_sub:
        # a remainder would be sliced off every subspace: trailing
        # components never reach a codebook or a distance
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub = dim // n_sub
    c = _quantized(embeddings, id_col, vec_col, scale)
    seed = (
        c.withColumn("h", _md5_long(F.col("id")))
        .orderBy("h")
        .limit(n_codes)
        .select("h", "vq")
        .collect()
    )
    seed.sort(key=lambda r: int(r["h"]))
    books: _Books = {}
    rows: List[Tuple[int, int, List[int]]] = []
    for s in range(1, n_sub + 1):
        mat = np.array(
            [r["vq"][(s - 1) * sub : s * sub] for r in seed], dtype=np.int64
        )
        codes = np.arange(1, len(seed) + 1, dtype=np.int64)
        if len(seed):
            books[s] = (codes, mat)
        rows.extend(
            (s, int(cc), [int(x) for x in mat[i]]) for i, cc in enumerate(codes)
        )
    for _ in range(iters):
        assigned = c.select(
            "vq",
            _assign_codes_arrow(books, n_sub, sub)(F.col("vq")).alias("codes"),
        )
        ex = assigned.select(
            F.posexplode("codes").alias("s0", "code"), "vq"
        ).select(
            (F.col("s0") + 1).alias("s"),
            "code",
            F.slice("vq", F.col("s0") * sub + 1, sub).alias("svq"),
        )
        upd = ex.groupBy("s", "code").agg(
            F.array(
                *[
                    # declared fixed-point rounding — identical in DuckDB
                    F.floor(
                        F.sum(F.element_at("svq", i + 1)).cast("double")
                        / F.count(F.lit(1))
                        + F.lit(0.5)
                    )
                    .cast("long")
                    .alias(f"d{i}")
                    for i in range(sub)
                ]
            ).alias("cq")
        )
        # bounded driver read (<= n_sub * n_codes rows, the IVF-centroid
        # pattern): feeds the next map-only assignment and cuts the
        # iterative lineage without a checkpoint
        got = upd.collect()
        books = _books_from_rows(got, n_sub)
        rows = [
            (int(r["s"]), int(r["code"]), [int(x) for x in r["cq"]]) for r in got
        ]
    return books, rows


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
    """Joint fixed-point Lloyd over every subspace at once.

    Init: per subspace, the ``n_codes`` vectors with the smallest md5(id)
    hash (the IVF init convention — identical ids across subspaces, slices
    differ).  Update: per-dim floor(sum/count + 0.5).  Returns
    (s, code, cq: array<bigint>).  ``dim`` skips the probe job when the
    caller already knows it.
    """
    if dim is None:
        dim = _dim_of(embeddings, vec_col)
    _books, rows = _train_books(
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
    books, _rows = _train_books(
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
    # qtab[s]: (nq, n_codes_s) exact int64 query->centroid distances
    qtab: Dict[int, "object"] = {}
    for s, (codes, mat) in books.items():
        sl = qmat[:, (s - 1) * sub : s * sub]
        _int64_guard(
            max(int(np.abs(sl).max(initial=0)), int(np.abs(mat).max(initial=0))),
            dim,  # adist sums n_sub of these: guard with the full dim
        )
        qtab[s] = ((sl[:, None, :] - mat[None, :, :]) ** 2).sum(axis=2)
    n_q = len(qids)

    def _adists(vs):
        m = np.stack(vs.values).astype(np.int64)  # (n, dim)
        n = len(m)
        acc = np.zeros((n, n_q), dtype=np.int64)
        for s, (codes, mat) in books.items():
            sl = m[:, (s - 1) * sub : s * sub]
            d = ((sl[:, None, :] - mat[None, :, :]) ** 2).sum(axis=2)  # (n, k)
            acc += qtab[s][:, d.argmin(axis=1)].T  # (n, nq) lookups
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
