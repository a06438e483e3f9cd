"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline.  Queries are broadcast
  (small side), the big side streams — no shuffle of the corpus at all.
  Dot products via ``F.aggregate(F.zip_with(...))``: JVM-side, sequential
  left-to-right double summation (matches the DuckDB oracle's evaluation
  order bit-for-bit).
- LSH-bucketed ANN (random hyperplanes): the 100 TB path — bucket the corpus
  once by sign-pattern, probe only matching buckets.  Hyperplanes are
  deterministic pseudo-random values derived from sha256(plane, dim), so
  no RNG state ships to executors and two runs agree exactly.
- IVF: a coarse quantizer (k centroids), each query probes only its nearest
  buckets.  The float ``ivf_topk`` is the scale default; ``ivf_topk_quantized``
  is its value-checked fixed-point twin.
- The fixed-point quantizer (bottom section) is the one owner of integer
  k-means for both IVF and product quantization (``operators/pq.py``): an
  IVF coarse quantizer is a product quantizer with one subspace (Jegou et
  al., TPAMI 2011).  One Lloyd loop (``_lloyd``) and one exact
  nearest-code kernel (``_nearest``) serve both families.
- Every cosine family ends in one top-k tail (``_top_k``).
"""

from __future__ import annotations

import math
from typing import Dict, List, Tuple

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window
from open_parse_spark.spark.stage import stage


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast(queries) x corpus -> window
    rank.  Output (query_id, neighbor_id, rank, sim4)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("sim"),
        )
    )
    return _top_k(scored, k)


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The cosine top-k tail of every family: (query_id, neighbor_id, sim)
    -> the ``k`` most similar neighbors per query, ties to the lower
    neighbor_id, as (query_id, neighbor_id, rank: long, sim4)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("sim", 4).alias("sim4"),
        )
    )


def plane_values(plane: int, dim: int) -> list:
    """Deterministic pseudo-random hyperplane components in [-1, 1):
    ((first-8-bytes of sha256(f"{plane}:{d}") mod 2001) - 1000) / 1000.

    Generated ONCE driver-side and shipped as a literal array column: the
    original formulation built the plane per row via
    ``transform(sequence(...))`` + per-element ``xxhash64`` — interpreted
    higher-order functions re-evaluated for every row, which made LSH
    bucketing ~30x slower than the dot products it feeds (the trap
    ROUND_NOTES.md documents for n-grams).  A literal array is
    constant-folded by Catalyst, so the per-row work is exactly one
    zip_with/aggregate dot per plane.  The same values are embedded in the
    DuckDB oracle SQL, making the whole LSH path value-checkable."""
    import hashlib

    out = []
    for d in range(dim):
        h = int.from_bytes(
            hashlib.sha256(f"{plane}:{d}".encode()).digest()[:8], "big"
        )
        out.append(((h % 2001) - 1000) / 1000.0)
    return out


def lsh_buckets_arrow(num_planes: int, num_tables: int, dim: int):
    """Vectorized pandas UDF computing all ``num_tables`` bucket ids for a
    vector column in one Arrow batch: (n, dim) @ (dim, tables*planes) matmul.
    Table t's sign pattern over planes t*num_planes .. (t+1)*num_planes-1 is
    its bucket id, the first plane of the table the most-significant bit
    (one Arrow batch instead of a per-element interpreted HOF dot per plane,
    ~20x faster).

    The dot products use the same driver-side literal planes as the DuckDB
    oracle; a sign disagreement with the oracle's sequential fold would need
    |dot| within ~1e-13 of zero — negligible for real-valued embeddings."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    planes = np.array(
        [plane_values(p, dim) for p in range(num_tables * num_planes)]
    )  # (tables*planes, dim)
    weights = np.array([1 << (num_planes - 1 - i) for i in range(num_planes)])

    # no type annotations: pandas/pd is function-local here, so annotations
    # would be unresolvable strings and pandas_udf rejects the signature
    def _buckets(vecs):
        m = np.stack(vecs.values).astype(np.float64)  # (n, dim)
        dots = m @ planes.T  # (n, tables*planes)
        bits = (dots >= 0).astype(np.int64).reshape(
            len(m), num_tables, num_planes
        )
        return pd.Series(list((bits * weights).sum(axis=2)))

    return F.pandas_udf(_buckets, ArrayType(LongType()))


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd iterations for the IVF coarse quantizer.

    Init = the k rows with smallest xxhash64(id) (seedless determinism: same
    table -> same centroids on any cluster).  Each iteration: one broadcast
    of k centroids + one groupBy(assignment) shuffle of dim-width partial
    sums — no iteration ever shuffles the corpus vectors themselves more
    than once.  Returns (centroid_id, centroid: array<double>)."""
    c = embeddings.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    init = (
        c.withColumn("h", F.xxhash64("id"))
        .orderBy("h")
        .limit(k)
        .select(
            F.row_number().over(Window.orderBy("h")).alias("centroid_id"),
            F.col("v").alias("centroid"),
        )
    )
    dim = _dim_of(embeddings, vec_col)  # one driver read, hoisted out of Lloyd
    if dim == 0:  # empty corpus: no centroids (schema-stable empty frame)
        return init
    spark = embeddings.sparkSession
    # the k updated centroids are the bounded per-iteration driver read
    # (the next assignment needs them as a numpy literal anyway); carrying
    # plain ROWS through the loop truncates the iterative lineage with no
    # checkpoint job, and ONE single-slice local relation at the end keeps
    # downstream consumers (probe crossJoin, final assignment) cheap —
    # a per-iteration createDataFrame sliced 1 row/partition spawned a
    # 32-task python-worker wave per iteration (r6 profile)
    rows = init.collect()
    for _ in range(iters):
        assigned = _assign_to_centroids(c, rows)
        agg = (
            assigned.groupBy("centroid_id")
            .agg(
                F.array(
                    *[
                        F.avg(F.element_at("v", i + 1)).alias(f"d{i}")
                        for i in range(dim)
                    ]
                ).alias("centroid")
            )
        )
        rows = agg.collect()
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {
                "centroid_id": [int(r["centroid_id"]) for r in rows],
                "centroid": [[float(x) for x in r["centroid"]] for r in rows],
            }
        ),
        "centroid_id int, centroid array<double>",
    )


def _dim_of(embeddings: DataFrame, vec_col: str) -> int:
    from pyspark.sql.types import ArrayType

    f = embeddings.schema[vec_col]
    if isinstance(f.dataType, ArrayType):
        row = embeddings.select(F.size(vec_col).alias("n")).first()
        return int(row["n"]) if row is not None else 0
    raise ValueError(f"{vec_col} is not an array column")


def _assign_to_centroids(c: DataFrame, centroids: DataFrame) -> DataFrame:
    """argmin centroid by squared L2, ties to the lowest centroid_id.

    Map-only: the k centroids are tiny (they are already materialized by the
    Lloyd loop's eager checkpoint), so they ride into a vectorized pandas UDF
    as a numpy literal — one (n, dim) @ (dim, k) matmul per Arrow batch.
    The previous formulation (crossJoin(broadcast) + interpreted HOF fold +
    groupBy(id) min_by) blew every corpus row up k-fold and shuffled it back
    together; this one touches each row once and shuffles nothing."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType

    rows = centroids if isinstance(centroids, list) else centroids.collect()
    rows = sorted(rows, key=lambda r: r["centroid_id"])
    if not rows:  # empty corpus/centroids: no assignments (lazy empty frame)
        return c.select(
            "id", "v", F.lit(None).cast("long").alias("centroid_id")
        ).where(F.lit(False))
    ids = np.array([r["centroid_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["centroid"] for r in rows], dtype=np.float64)  # (k, dim)
    sq = (mat * mat).sum(axis=1)  # |c|^2, (k,)

    def _argmin(vs):
        m = np.stack(vs.values).astype(np.float64)  # (n, dim)
        # |v-c|^2 = |v|^2 - 2 v.c + |c|^2; |v|^2 constant per row for argmin
        d = sq[None, :] - 2.0 * (m @ mat.T)  # (n, k)
        return pd.Series(ids[d.argmin(axis=1)])

    assign = F.pandas_udf(_argmin, LongType())
    return c.select("id", "v", assign(F.col("v")).alias("centroid_id"))


# ---------------------------------------------------------------------------
# fixed-point (integer) IVF variant — oracle-checkable end to end
# ---------------------------------------------------------------------------

QUANT_SCALE = 1_000_000


def quantize_vec(col: Column, scale: int = QUANT_SCALE) -> Column:
    """array<float> -> array<bigint> via floor(x*scale + 0.5) — explicit
    floor+0.5 instead of round() so Spark and DuckDB share one rounding rule
    with no half-even/half-up ambiguity.  Integer vectors make every Lloyd
    step exact: int64 sums are associative, so centroid updates cannot
    depend on partition order — the float path's only non-determinism."""
    return F.transform(
        _as_double(col),
        lambda x: F.floor(x * F.lit(float(scale)) + F.lit(0.5)).cast("long"),
    )


def _md5_long(col: Column) -> Column:
    """Oracle-reproducible 60-bit hash of the column's string form (shared
    definition: functions/text.md5_long)."""
    from open_parse_spark.functions.text import md5_long

    return md5_long(col.cast("string"))


def int_sqdist(a: Column, b: Column) -> Column:
    """Exact integer squared L2 between two array<bigint> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# books: per 1-indexed subspace, (ascending code ids, (n_codes, sub) int64
# centroid matrix) — codes ascend so numpy argmin's first-minimum rule
# reproduces "ties to the lowest code id" exactly
_Books = Dict[int, Tuple["object", "object"]]


def _quantized(df: DataFrame, id_col: str, vec_col: str, scale: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"), quantize_vec(F.col(vec_col), scale).alias("vq")
    )


def _float64_exact(big: int, terms: int) -> bool:
    """The exact-arithmetic magnitude bounds.  A sum of ``terms`` products
    of integers within ``big`` is exact in float64 when it stays <= 2^53
    (every integer partial sum is representable, whatever the summation
    order — so dgemm/BLAS is exact), and in int64 when it stays < 2^63.
    True: float64 is exact; False: only int64 is; past both: ValueError
    (an int64 wrap would silently return the farthest code)."""
    if terms * big * big <= 2**53:
        return True
    if terms * big * big < 2**63:
        return False
    raise ValueError(
        f"quantized magnitude {big} exceeds the exact-int64 bound "
        f"{math.isqrt((2**63 - 1) // terms)} for {terms} product terms; "
        "lower the quantization scale"
    )


def _nearest(m, mat):
    """The exact nearest-code kernel: for each int64 row of ``m`` (n, sub),
    the position in ``mat`` (k, sub) of the code at the least squared L2,
    ties to the lowest position.

    argmin of |c|^2 - 2 v.c (|v|^2 is constant per row).  That value ranges
    within +-3*sub*big^2 (anti-aligned vectors hit the worst case), so with
    that headroom it is one float64 matmul — numpy's int64 matmul has no
    BLAS kernel (measured 2x on the whole IVF query) — and past it the same
    formula in exact int64; the argmin always matches the exact-integer
    oracle."""
    import numpy as np

    big = int(max(np.abs(m).max(initial=0), np.abs(mat).max(initial=0)))
    if _float64_exact(big, 3 * mat.shape[1]):
        fm = mat.astype(np.float64)
        d = (fm * fm).sum(axis=1) - 2.0 * (m.astype(np.float64) @ fm.T)
    else:
        d = (mat * mat).sum(axis=1) - 2 * (m @ mat.T)
    return d.argmin(axis=1)


def _codes_udf(books: _Books, sub: int):
    """Map-only assignment: Arrow UDF vq -> array of the nearest code id per
    subspace.  The codebook is tiny and bounded, so it rides in as a numpy
    literal and every corpus vector is touched once, with no shuffle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    def _assign(vs):
        m = np.stack(vs.values).astype(np.int64)  # (n, dim)
        out = [
            codes[_nearest(m[:, (s - 1) * sub : s * sub], mat)]
            for s, (codes, mat) in sorted(books.items())
        ]
        return pd.Series(list(np.stack(out, axis=1)))

    return F.pandas_udf(_assign, ArrayType(LongType()))


def _books_from_rows(rows, n_sub: int) -> _Books:
    """(s, code, cq) tuples -> books."""
    import numpy as np

    books: _Books = {}
    for s in range(1, n_sub + 1):
        srows = sorted((code, cq) for ss, code, cq in rows if ss == s)
        if srows:
            books[s] = (
                np.array([c for c, _ in srows], dtype=np.int64),
                np.array([cq for _, cq in srows], dtype=np.int64),
            )
    return books


def _codebook_df(spark, rows) -> DataFrame:
    import pandas as pd

    # arrow-path local relation: a plain-list createDataFrame round-trips
    # through pickled RDD slices and spawns python workers (r6 profile)
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "s": [t[0] for t in rows],
                "code": [t[1] for t in rows],
                "cq": [t[2] for t in rows],
            }
        ),
        "s int, code long, cq array<bigint>",
    )


def _lloyd(
    embeddings: DataFrame,
    n_sub: int,
    n_codes: int,
    iters: int,
    id_col: str,
    vec_col: str,
    scale: int,
    dim: int = None,
) -> Tuple[_Books, List[Tuple[int, int, List[int]]]]:
    """Fixed-point Lloyd over every subspace at once; returns (books, final
    rows as (s, code, cq) tuples).  IVF runs it with ``n_sub=1``.

    Quantize once, then every iteration is integer sums + one declared
    rounding, floor(sum/count + 0.5): sum and count are exact integers
    < 2^53, so sum/count is one correctly-rounded double division —
    bit-identical on any partitioning and in DuckDB, which replays the whole
    quantizer.  Init: the ``n_codes`` vectors with the smallest md5(id) hash
    seed EVERY subspace (identical ids across subspaces, slices differ).
    Per iteration: one map-only assignment, one map-side-combined shuffle on
    (s, code) keys, and one bounded driver read (<= n_sub * n_codes rows)
    that feeds the next assignment and cuts the iterative lineage without a
    checkpoint.  Empty clusters drop out."""
    if dim is None:
        dim = _dim_of(embeddings, vec_col)  # probe job; pass dim to skip
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
    rows = [
        (s, i + 1, list(r["vq"][(s - 1) * sub : s * sub]))
        for s in range(1, n_sub + 1)
        for i, r in enumerate(seed)
    ]
    books = _books_from_rows(rows, n_sub)
    for _ in range(iters if books else 0):
        ex = c.select(
            F.posexplode(_codes_udf(books, sub)(F.col("vq"))).alias("s0", "code"),
            "vq",
        ).select(
            (F.col("s0") + 1).alias("s"),
            "code",
            F.slice("vq", F.col("s0") * sub + 1, sub).alias("svq"),
        )
        upd = ex.groupBy("s", "code").agg(
            F.array(
                *[
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
        rows = [
            (int(r["s"]), int(r["code"]), [int(x) for x in r["cq"]])
            for r in upd.collect()
        ]
        books = _books_from_rows(rows, n_sub)
    return books, rows


def _centroid_df(spark, rows) -> DataFrame:
    return _codebook_df(spark, rows).select(
        F.col("code").cast("int").alias("centroid_id"), "cq"
    )


def kmeans_centroids_quantized(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = QUANT_SCALE,
    dim: int = None,
) -> DataFrame:
    """The IVF coarse quantizer: ``_lloyd`` with one subspace of ``k``
    codes.  Returns (centroid_id, cq: array<bigint>); ``dim`` skips the
    probe job when the caller already knows it."""
    _books, rows = _lloyd(embeddings, 1, k, iters, id_col, vec_col, scale, dim)
    return _centroid_df(embeddings.sparkSession, rows)


def ivf_topk_quantized(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = QUANT_SCALE,
    dim: int = None,
) -> DataFrame:
    """IVF top-k over the fixed-point quantizer: identical plan shape to
    ``ivf_topk`` (broadcast centroids, bucket-pruned probes, one corpus
    pass), but every distance/score is derived from exact integers so the
    result is engine-reproducible.  The corpus is assigned by the exact
    nearest-code kernel.  Scoring: integer dot products -> one double
    division -> round(4).  The float ``ivf_topk`` stays the scale default
    (no quantization error); this variant is the value-checked twin.
    """
    if dim is None:
        dim = _dim_of(embeddings, vec_col)
    books, rows = _lloyd(
        embeddings, 1, n_centroids, iters, id_col, vec_col, scale, dim
    )
    centroids = _centroid_df(embeddings.sparkSession, rows)
    corpus_assigned = _quantized(embeddings, id_col, vec_col, scale).select(
        F.col("id").alias("neighbor_id"),
        F.col("vq").alias("cvq"),
        _codes_udf(books, dim)(F.col("vq"))[0].alias("centroid_id"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize_vec(F.col(vec_col), scale).alias("qvq"),
    )
    qd = q.crossJoin(F.broadcast(centroids))
    wq = Window.partitionBy("query_id").orderBy(F.col("qdist"), F.col("centroid_id"))
    probes = (
        qd.select(
            "query_id",
            "qvq",
            "centroid_id",
            int_sqdist(F.col("qvq"), F.col("cq")).alias("qdist"),
        )
        .withColumn("pr", F.row_number().over(wq))
        .where(F.col("pr") <= n_probe)
        .select("query_id", "qvq", "centroid_id")
    )
    sim = _int_dot(F.col("qvq"), F.col("cvq")).cast("double") / (
        F.sqrt(_int_dot(F.col("qvq"), F.col("qvq")).cast("double"))
        * F.sqrt(_int_dot(F.col("cvq"), F.col("cvq")).cast("double"))
    )
    scored = (
        F.broadcast(probes)
        .join(corpus_assigned, "centroid_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )
    return _top_k(scored, k)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus assigned to coarse centroids once; each
    query probes only its ``n_probe`` nearest centroid buckets.

    At 100 TB the assignment is a write-time column (cluster-by), making
    query-time work bucket-pruned scans."""
    centroids = kmeans_centroids(embeddings, k=n_centroids, id_col=id_col, vec_col=vec_col)
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    corpus_assigned = _assign_to_centroids(
        c.withColumnRenamed("neighbor_id", "id").withColumnRenamed("cv", "v"),
        centroids,
    ).select(
        F.col("id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        "centroid_id",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    qd = q.crossJoin(F.broadcast(centroids))
    qdist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("qdist"), F.col("centroid_id"))
    probes = (
        qd.select("query_id", "qv", "centroid_id", qdist.alias("qdist"))
        .withColumn("pr", F.row_number().over(wq))
        .where(F.col("pr") <= n_probe)
        .select("query_id", "qv", "centroid_id")
    )
    scored = (
        F.broadcast(probes)
        .join(corpus_assigned, "centroid_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("sim")
        )
    )
    return _top_k(scored, k)


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.35,
    num_planes: int = 8,
    num_tables: int = 16,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the scale path: LSH-bucketed
    candidate generation (corpus self-join per (table, bucket), never
    all-pairs), exact cosine computed on candidates only, kept when
    ``round(sim, 4) >= threshold`` (rounded compare so the DuckDB oracle —
    which embeds the same literal planes — agrees bit-for-bit).

    Config notes: dedup wants SELECTIVE buckets — 8 planes/table makes a
    random pair collide somewhere with p ~ 16 * 0.5^8 = 6% (4 planes would
    make 64% of ALL pairs candidates: quadratic again).  At a real near-dup
    threshold (cos >= 0.9, ~25 deg) recall is ~0.997 with 16x8; the synthetic
    corpus has no true near-dups, so the registry threshold 0.35 exercises
    the pipeline with candidates whose recall-vs-quadratic is deliberately
    the (num_planes, num_tables) knob — semantics are "LSH candidates above
    threshold" on both engines.  Candidates are deduped on ids BEFORE the
    vectors are joined back, so the distinct never shuffles vector payloads.
    At 100 TB the bucket ids are write-time columns and this becomes a
    bucket-local self-join."""
    if dim is None:
        dim = _dim_of(embeddings, vec_col)
    buckets_udf = lsh_buckets_arrow(num_planes, num_tables, dim)
    e = embeddings.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    b = e.select(
        "id",
        F.posexplode(buckets_udf(F.col("v"))).alias("table", "bucket"),
    )
    cands = (
        b.alias("a")
        .join(b.alias("b"), ["table", "bucket"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
        # the exact-cosine verification below is CPU-bound (interpreted HOF
        # dot per candidate pair) while the candidate rows are a few bytes
        # each — AQE coalesces the distinct's shuffle to ONE partition by
        # bytes and serializes the scoring (r6 profile: 2 s single-task).
        # Same CPU-vs-bytes trap chunk_merge documents; a user repartition
        # is exempt from AQE coalescing.
        .repartition(
            embeddings.sparkSession.sparkContext.defaultParallelism,
            "doc_a",
            "doc_b",
        )
    )
    scored = (
        cands.join(e.select(F.col("id").alias("doc_a"), F.col("v").alias("va")), "doc_a")
        .join(e.select(F.col("id").alias("doc_b"), F.col("v").alias("vb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(cosine(F.col("va"), F.col("vb")), 4).alias("sim4"),
        )
    )
    return scored.where(F.col("sim4") >= F.lit(threshold))


def ann_recall(approx: DataFrame, exact: DataFrame, k: int = 5) -> DataFrame:
    """recall@k of an approximate ANN result against the brute-force truth:
    (query_id, hits, recall_pct as integer percent — oracle-friendly)."""
    hits = (
        exact.where(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
        .join(
            approx.where(F.col("rank") <= k).select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    base = exact.where(F.col("rank") <= k).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("total")
    )
    return base.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
        (F.coalesce(F.col("hits"), F.lit(0)) * 100 / F.col("total"))
        .cast("long")
        .alias("recall_pct"),
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 4,
    num_tables: int = 16,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH: a candidate matches
    if it shares a bucket in ANY of ``num_tables`` independent plane sets
    (the standard recall amplifier: p_hit = 1-(1-p^h)^L).

    At scale the corpus's L bucket ids are write-time columns; per-query work
    is the union of L bucket-local scans.  Recall/cost trades off with
    (num_planes, num_tables)."""
    if dim is None:
        # derive like the IVF path does — a hardcoded width crashes with an
        # opaque in-executor numpy shape error on any other embedding size
        dim = _dim_of(embeddings, vec_col)
    buckets_udf = lsh_buckets_arrow(num_planes, num_tables, dim)
    # ce has two consumers (bucket explode + the post-dedup vector join);
    # unstaged, the embeddings source is scanned and projected twice
    ce = stage(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("cv"),
        ),
        eager=False,
    )
    qe = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    # candidate generation and dedup run on IDS ONLY — at a fat embedding
    # dim, deduping rows that still carry the vectors ships avoidable array
    # payloads through the exchange (same pattern as cosine_neardup_pairs;
    # VERDICT r3).  Vectors join back after the distinct.
    cb = ce.select(
        "neighbor_id",
        F.posexplode(buckets_udf(F.col("cv"))).alias("table", "bucket"),
    )
    qb = qe.select(
        "query_id",
        F.posexplode(buckets_udf(F.col("qv"))).alias("table", "bucket"),
    )
    cands = (
        F.broadcast(qb)
        .join(cb, ["table", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = (
        cands.join(F.broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("sim")
        )
    )
    return _top_k(scored, k)
