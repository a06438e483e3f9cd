"""Query registry: every implemented operator exposed as a (spark_fn,
oracle_sql) pair for the correctness gate.

Registering a query takes one declaration, or two: a module-level
``q_<name>(spark, sf_dir)`` function, plus an optional ``SQL_<NAME>``
DuckDB oracle string.  ``REGISTRY`` is built from those names at the end
of the module (definition order), so there is no second list to keep;
``CORRECTNESS_WINDOW`` then picks the 50 queries that ``queries()`` puts
first.

Conventions (the entry-point contract in ``__spark_entry__.py``):
- each spark fn takes (spark, sf_dir) and returns a DataFrame
- oracle SQL runs on DuckDB over the same parquet (views pre-registered)
- column names and types are aligned on both sides; float outputs avoided or
  rounded; thresholds compared in integer arithmetic so hashes match
- parse-pipeline queries have no SQL oracle (greedy order-dependent per-turn
  folds are not SQL-expressible); they get rows-only checks here and full
  byte-equality coverage in tests/ against the single-threaded oracle
"""

from __future__ import annotations

import re
from typing import Callable, Dict, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from open_parse_spark.core.semantic import semantic_pipeline_transforms
from open_parse_spark.functions import text as T
from open_parse_spark.operators import dedup as D
from open_parse_spark.operators import similarity as S
from open_parse_spark.operators.chunking import (
    chunk_documents,
    merge_chunks_semantic,
    rag_index_table,
)
from open_parse_spark.operators.conversations import (
    conversation_assembly,
    conversation_fingerprint_dedup,
    conversation_stats,
    role_sequence_stats,
    turn_context_windows,
)
from open_parse_spark.operators.graph import pagerank, top_ranked
from open_parse_spark.operators.html import extract_blocks, extract_main_content
from open_parse_spark.operators.joins import asof_join
from open_parse_spark.operators.lm import lm_score
from open_parse_spark.operators.multimodal import (
    extract_media_features,
    sample_video_frames,
    synthesize_media_from_documents,
)
from open_parse_spark.operators.packing import pack_sequences
from open_parse_spark.operators.pq import pq_topk_quantized
from open_parse_spark.operators.sampling import (
    mix_by_budget,
    mix_by_budget_threshold,
    stratified_sample,
)
from open_parse_spark.operators.search import bm25_topk, hybrid_rrf
from open_parse_spark.plans.evals import extraction_metrics, variant_mix
from open_parse_spark.plans.exports import nodes_bbox_debug, nodes_with_relations
from open_parse_spark.spark.pipeline import parse_quality_metrics, parse_transcripts
from open_parse_spark.spark.scan import ensure_parallelism
from open_parse_spark.spark.stage import stage

QueryFn = Callable[[SparkSession, str], DataFrame]


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# transcripts derivation: documents -> (conv_id, turn_idx, role, text, tool, ts)
# ---------------------------------------------------------------------------


def documents_as_transcripts(docs: DataFrame, convs: int = 64) -> DataFrame:
    """Deterministic mapping of the documents table into the BASELINE.json
    transcript shape (input_hint) so the parse pipeline runs on driver data."""
    return docs.select(
        F.concat(
            F.lit("conv-"), F.lpad((F.col("doc_id") % convs).cast("string"), 6, "0")
        ).alias("conv_id"),
        F.floor(F.col("doc_id") / convs).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            (F.floor(F.col("doc_id") / convs) % 3).cast("int") + 1,
        ).alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        (
            F.lit("2020-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("doc_id").cast("double"))
        ).alias("ts"),
    )


def _doc_nodes(
    spark: SparkSession, sf_dir: str, *columns: str, transforms=None
) -> DataFrame:
    """Node rows of the documents table parsed as transcripts, limited to
    ``columns`` (all of NODE_SCHEMA when none are named)."""
    return parse_transcripts(
        documents_as_transcripts(_tbl(spark, sf_dir, "documents")),
        output_columns=list(columns) or None,
        transforms=transforms,
    )


# ---------------------------------------------------------------------------
# parse-pipeline queries (rows-only: not SQL-expressible)
# ---------------------------------------------------------------------------


def q_parse_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full extraction pipeline over transcripts derived from the
    documents table; one row per content node in stable order."""
    nodes = _doc_nodes(
        spark, sf_dir, "conv_id", "turn_idx", "node_idx", "text", "tokens"
    )
    return nodes.orderBy("conv_id", "turn_idx", "node_idx")


def q_parse_bbox_debug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 debug sink: one row per (node, page bbox) with a text prefix —
    the inspectable stand-in for the reference's bbox-annotated PDF export."""
    nodes = _doc_nodes(spark, sf_dir)
    return nodes_bbox_debug(nodes).orderBy("conv_id", "turn_idx", "node_idx", "page")


def q_parse_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation extraction metrics (lineage companion)."""
    nodes = _doc_nodes(spark, sf_dir, "conv_id", "turn_idx", "node_idx", "tokens")
    return parse_quality_metrics(nodes)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs verified by exact Jaccard.

    Gate variant: ``hasher='md5'`` (60-bit hex-parsed md5) so DuckDB can
    reproduce every hash — the whole banded-LSH path (signatures, band
    buckets, candidate join, exact verification) is value-checked.  The
    library/scale default is xxhash64 (same algorithm, ~2x faster hashing,
    no SQL twin); bench.py times both."""
    return D.minhash_neardup_pairs(
        _tbl(spark, sf_dir, "documents"), hasher="md5"
    ).orderBy("doc_a", "doc_b")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup candidates (md5 gate variant, 60-bit)."""
    return D.simhash_candidates(
        _tbl(spark, sf_dir, "documents"), hasher="md5"
    ).orderBy("doc_a", "doc_b")


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN (approximate scale path)."""
    emb = _tbl(spark, sf_dir, "embeddings")
    return S.lsh_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


# the LSH hyperplanes are driver-side literals (similarity.plane_values), so
# the exact same planes are embedded in the oracle SQL — the full approximate
# path (bucketing, candidate join, dedup, rank) is value-checked, not just
# the brute-force baseline


def _lsh_bucket_sql(col: str, table: int, num_planes: int = 4, dim: int = 64) -> str:
    terms = []
    for i in range(num_planes):
        vals = ", ".join(repr(v) for v in S.plane_values(table * num_planes + i, dim))
        weight = 1 << (num_planes - 1 - i)  # first plane = MSB, as in lsh_buckets_arrow
        terms.append(
            f"(CASE WHEN list_dot_product({col}, [{vals}]) >= 0"
            f" THEN {weight} ELSE 0 END)"
        )
    return " + ".join(terms)


# must track lsh_topk's defaults: num_tables tables of num_planes planes
_LSH_TABLES = 16

_LSH_QB = "\nUNION ALL\n".join(
    f"  SELECT query_id, qv, {t} AS tbl, {_lsh_bucket_sql('qv', t)} AS bucket FROM q"
    for t in range(_LSH_TABLES)
)
_LSH_CB = "\nUNION ALL\n".join(
    f"  SELECT neighbor_id, cv, {t} AS tbl, {_lsh_bucket_sql('cv', t)} AS bucket FROM c"
    for t in range(_LSH_TABLES)
)

SQL_ANN_LSH = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
), qb AS (
{_LSH_QB}
), cb AS (
{_LSH_CB}
), cand AS (
  SELECT DISTINCT query_id, neighbor_id FROM qb JOIN cb USING (tbl, bucket)
  WHERE query_id <> neighbor_id
), s AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_dot_product(qv, cv) /
         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
  FROM cand
  JOIN q ON q.query_id = cand.query_id
  JOIN c ON c.neighbor_id = cand.neighbor_id
), r AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM s
)
SELECT query_id, neighbor_id, rank, round(sim, 4) AS sim4 FROM r WHERE rank <= 5
"""


def q_ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the LSH path vs brute force, per query — with the planes
    embedded in the oracle, the *evaluation itself* is value-checked, not
    self-reported (ivf recall stays in ann_recall, rows-only: k-means is
    iterative, not SQL-expressible)."""
    emb = _tbl(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 10)
    exact = S.brute_force_topk(emb, queries_df, k=5)
    return S.ann_recall(S.lsh_topk(emb, queries_df, k=5), exact)


SQL_ANN_RECALL_LSH = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
), qb AS (
{_LSH_QB}
), cb AS (
{_LSH_CB}
), cand AS (
  SELECT DISTINCT query_id, neighbor_id FROM qb JOIN cb USING (tbl, bucket)
  WHERE query_id <> neighbor_id
), s AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_dot_product(qv, cv) /
         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
  FROM cand
  JOIN q ON q.query_id = cand.query_id
  JOIN c ON c.neighbor_id = cand.neighbor_id
), lsh AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM s) t WHERE rank <= 5
), es AS (
  SELECT q.query_id, c.neighbor_id,
         list_dot_product(qv, cv) /
         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
  FROM q, c WHERE q.query_id <> c.neighbor_id
), ex AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM es) t WHERE rank <= 5
), hits AS (
  SELECT query_id, count(*) AS hits
  FROM ex JOIN lsh USING (query_id, neighbor_id) GROUP BY query_id
), base AS (
  SELECT query_id, count(*) AS total FROM ex GROUP BY query_id
)
SELECT base.query_id,
       coalesce(hits, 0) AS hits,
       (coalesce(hits, 0) * 100 / total)::BIGINT AS recall_pct
FROM base LEFT JOIN hits USING (query_id)
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k over the FIXED-POINT coarse quantizer
    (``ivf_topk_quantized``): integer Lloyd steps with one declared rounding
    make the whole quantizer+probe+score path engine-reproducible, so the
    oracle below replays it end to end (VERDICT r2 item 5).  The coarse
    quantizer is the fixed-point Lloyd loop PQ trains with (one subspace,
    16 codes), and the corpus is assigned by the same exact nearest-code
    kernel.  The float ``ivf_topk`` remains the scale-default API and the
    vector leg of ``hybrid_rrf(leg="ivf")``, exercised by pytest only
    (``ann_recall`` runs ``ivf_topk_quantized`` too); the two share every
    plan shape."""
    emb = _tbl(spark, sf_dir, "embeddings")
    # dim from the parquet schema probe once here feeds both the Lloyd loop
    # and the PQ path's convention (skips the per-call probe jobs)
    return S.ivf_topk_quantized(
        emb, emb.where(F.col("vec_id") < 10), k=5, dim=S._dim_of(emb, "embedding")
    )


def _ivf_lloyd_sql(prev: str, step: int) -> str:
    """One fixed-point Lloyd iteration (assign to nearest ``prev`` centroid
    by exact integer L2, then per-dim floor(sum/count + 0.5)) as chained
    CTEs — the DuckDB replay of ``kmeans_centroids_quantized``."""
    return f"""assign{step} AS (
  SELECT id, vq, centroid_id FROM (
    SELECT c.id, c.vq, t.centroid_id,
           row_number() OVER (PARTITION BY c.id ORDER BY
             CAST(list_sum(list_transform(range(1, len(c.vq)+1),
                  i -> (c.vq[i]-t.cq[i])*(c.vq[i]-t.cq[i]))) AS BIGINT),
             t.centroid_id) AS rn
    FROM c, {prev} t) WHERE rn = 1
), cent{step} AS (
  SELECT centroid_id, list(cd ORDER BY i) AS cq FROM (
    SELECT centroid_id, i.i AS i,
           CAST(floor(sum(vq[i.i])::DOUBLE / count(*) + 0.5) AS BIGINT) AS cd
    FROM assign{step}, dims i GROUP BY centroid_id, i.i)
  GROUP BY centroid_id
)"""


SQL_ANN_IVF = f"""
WITH c AS (
  SELECT vec_id AS id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x*1000000 + 0.5) AS BIGINT)) AS vq
  FROM embeddings
), dims AS (
  SELECT unnest(range(1, (SELECT coalesce(max(len(vq)), 0) FROM c)+1)) AS i
), init AS (
  SELECT row_number() OVER (ORDER BY h) AS centroid_id, vq AS cq FROM (
    SELECT vq, ('0x'||substr(md5(id::VARCHAR),1,15))::BIGINT AS h
    FROM c ORDER BY h LIMIT 16)
), {_ivf_lloyd_sql("init", 1)}, {_ivf_lloyd_sql("cent1", 2)},
corpus AS (
  SELECT id AS neighbor_id, vq AS cvq, centroid_id FROM (
    SELECT c.id, c.vq, t.centroid_id,
           row_number() OVER (PARTITION BY c.id ORDER BY
             CAST(list_sum(list_transform(range(1, len(c.vq)+1),
                  i -> (c.vq[i]-t.cq[i])*(c.vq[i]-t.cq[i]))) AS BIGINT),
             t.centroid_id) AS rn
    FROM c, cent2 t) WHERE rn = 1
), q AS (
  SELECT id AS query_id, vq AS qvq FROM c WHERE id < 10
), probes AS (
  SELECT query_id, qvq, centroid_id FROM (
    SELECT q.query_id, q.qvq, t.centroid_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             CAST(list_sum(list_transform(range(1, len(q.qvq)+1),
                  i -> (q.qvq[i]-t.cq[i])*(q.qvq[i]-t.cq[i]))) AS BIGINT),
             t.centroid_id) AS pr
    FROM q, cent2 t) WHERE pr <= 8
), s AS (
  SELECT query_id, neighbor_id,
         CAST(list_sum(list_transform(range(1, len(qvq)+1),
              i -> qvq[i]*cvq[i])) AS DOUBLE) /
         (sqrt(CAST(list_sum(list_transform(qvq, x -> x*x)) AS DOUBLE)) *
          sqrt(CAST(list_sum(list_transform(cvq, x -> x*x)) AS DOUBLE))) AS sim
  FROM probes JOIN corpus USING (centroid_id)
  WHERE query_id <> neighbor_id
), r AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM s
)
SELECT query_id, neighbor_id, rank, round(sim, 4) AS sim4 FROM r WHERE rank <= 5
"""


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/pq.py): the third ANN
    family next to LSH and IVF.  Same fixed-point discipline as `ann_ivf` —
    joint integer Lloyd over every (subspace, code), integer squared
    distances — so the oracle below replays train/encode/score end to end.
    Subspace COUNT is derived from the data (fixed sub-dim of 2) on both
    engines, so the query runs on any even embedding dimension (the parity
    corpora are 8-dim, the sf tables 64-dim)."""
    emb = _tbl(spark, sf_dir, "embeddings")
    dim = S._dim_of(emb, "embedding")
    return pq_topk_quantized(
        emb, emb.where(F.col("vec_id") < 10),
        k=_PQ_K, n_sub=dim // _PQ_SUBDIM,
        n_codes=_PQ_CODES, iters=_PQ_ITERS, dim=dim,
    )


# PQ registry constants: fixed sub-dim of 2 -> the sf tables' 64-dim
# embeddings get 32 subspaces, 32 codes each (parameter sweep at sf0.01:
# 4x16x8codes -> recall@5 10, 16x32 -> 54, 32sub x 32codes -> 72 vs
# exact-L2; the synthetic near-random embeddings are PQ's worst case — no
# cluster structure to exploit).  Subspace COUNT is data-derived in both
# engines so any even dim works.
_PQ_K, _PQ_CODES, _PQ_ITERS, _PQ_SUBDIM = 5, 32, 3, 2


def _pq_lloyd_sql(prev: str, j: int) -> str:
    """One joint fixed-point Lloyd step over every (subspace, code) — the
    `_ivf_lloyd_sql` pattern with the subspace as a data dimension."""
    return f"""assign{j} AS (
  SELECT id, s, svq, code FROM (
    SELECT sv.id, sv.s, sv.svq, cb.code,
           row_number() OVER (PARTITION BY sv.id, sv.s ORDER BY
             CAST(list_sum(list_transform(range(1, len(sv.svq)+1),
                  i -> (sv.svq[i]-cb.cq[i])*(sv.svq[i]-cb.cq[i]))) AS BIGINT),
             cb.code) AS rn
    FROM sv JOIN {prev} cb ON cb.s = sv.s) WHERE rn = 1
), cb{j} AS (
  SELECT s, code, list(cd ORDER BY i) AS cq FROM (
    SELECT s, code, i.i AS i,
           CAST(floor(sum(svq[i.i])::DOUBLE / count(*) + 0.5) AS BIGINT) AS cd
    FROM assign{j}, sdims i GROUP BY s, code, i.i)
  GROUP BY s, code
)"""


def _pq_sql() -> str:
    steps = ", ".join(
        _pq_lloyd_sql("init" if j == 1 else f"cb{j - 1}", j)
        for j in range(1, _PQ_ITERS + 1)
    )
    final, sub = f"cb{_PQ_ITERS}", _PQ_SUBDIM
    return f"""
WITH c AS (
  SELECT vec_id AS id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x*1000000 + 0.5) AS BIGINT)) AS vq
  FROM embeddings
), subs AS (
  SELECT unnest(range(1,
    (SELECT coalesce(max(len(vq)), 0) FROM c) // {_PQ_SUBDIM} + 1)) AS s
), sdims AS (
  SELECT unnest(range(1, {sub + 1})) AS i
), sv AS (
  SELECT id, subs.s AS s, list_slice(vq, (subs.s-1)*{sub}+1, subs.s*{sub}) AS svq
  FROM c CROSS JOIN subs
), init AS (
  SELECT s, rn::BIGINT AS code, svq AS cq FROM (
    SELECT s, svq,
           row_number() OVER (PARTITION BY s ORDER BY
             ('0x'||substr(md5(id::VARCHAR),1,15))::BIGINT) AS rn
    FROM sv) WHERE rn <= {_PQ_CODES}
), {steps}, codes AS (
  SELECT id AS neighbor_id, s, code FROM (
    SELECT sv.id, sv.s, cb.code,
           row_number() OVER (PARTITION BY sv.id, sv.s ORDER BY
             CAST(list_sum(list_transform(range(1, len(sv.svq)+1),
                  i -> (sv.svq[i]-cb.cq[i])*(sv.svq[i]-cb.cq[i]))) AS BIGINT),
             cb.code) AS rn
    FROM sv JOIN {final} cb ON cb.s = sv.s) WHERE rn = 1
), qtab AS (
  SELECT sv.id AS query_id, sv.s, cb.code,
         CAST(list_sum(list_transform(range(1, len(sv.svq)+1),
              i -> (sv.svq[i]-cb.cq[i])*(sv.svq[i]-cb.cq[i]))) AS BIGINT) AS d
  FROM sv JOIN {final} cb ON cb.s = sv.s
  WHERE sv.id < 10
), scored AS (
  SELECT query_id, neighbor_id, sum(d)::BIGINT AS adist
  FROM codes JOIN qtab USING (s, code)
  WHERE query_id <> neighbor_id
  GROUP BY 1, 2
), r AS (
  SELECT query_id, neighbor_id, adist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adist ASC, neighbor_id ASC)::BIGINT AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, adist FROM r WHERE rank <= {_PQ_K}
"""


SQL_ANN_PQ = _pq_sql()


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the LSH and IVF paths vs brute force, per query — the
    pipeline evaluates its own approximations.  Round 3: the IVF leg uses
    the fixed-point quantizer, so ALL THREE legs (exact, literal-plane LSH,
    integer-Lloyd IVF) are engine-reproducible and the whole evaluation is
    oracle-checked — previously rows-only."""
    emb = _tbl(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 10)
    # topk results are tiny (10 queries x k); checkpoint them so the recall
    # joins don't re-execute the full scoring DAGs (exact is referenced twice)
    exact = stage(S.brute_force_topk(emb, queries_df, k=5))
    lsh = S.ann_recall(S.lsh_topk(emb, queries_df, k=5), exact).select(
        "query_id", F.lit("lsh").alias("method"), "recall_pct"
    )
    ivf = S.ann_recall(S.ivf_topk_quantized(emb, queries_df, k=5), exact).select(
        "query_id", F.lit("ivf").alias("method"), "recall_pct"
    )
    return lsh.union(ivf)


def _sql_between(sql: str, start: str, end: str) -> str:
    """Slice a CTE chain out of an existing oracle (keeps one source of
    truth for the quantized-IVF replay instead of a second copy)."""
    i = sql.index(start)
    j = sql.index(end)
    return sql[i:j]


# the quantized-IVF chain from SQL_ANN_IVF, ending at its top-k CTE `r`
_IVF_CHAIN = _sql_between(SQL_ANN_IVF, "c AS (", "\nSELECT query_id")

# the quantized-PQ chain from SQL_ANN_PQ, ending at its top-k CTE `r`
_PQ_CHAIN = _sql_between(SQL_ANN_PQ, "c AS (", "\nSELECT query_id")


def q_ann_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the product-quantization path against the EXACT L2
    nearest neighbors of the same quantized vectors — PQ's ADC approximates
    squared-L2 distance, so the L2 ground truth is the apples-to-apples
    baseline (recall vs the cosine baseline would conflate quantization
    error with the L2/cosine metric gap).  All-integer on both legs, so the
    whole evaluation is value-checked."""
    emb = _tbl(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 10)
    q = queries_df.select(
        F.col("vec_id").alias("query_id"),
        S.quantize_vec(F.col("embedding")).alias("qvq"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        S.quantize_vec(F.col("embedding")).alias("cvq"),
    )
    wx = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("neighbor_id"))
    exact = (
        F.broadcast(q).crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            S.int_sqdist(F.col("qvq"), F.col("cvq")).alias("d"),
        )
        .withColumn("rank", F.row_number().over(wx))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank")
    )
    dim = S._dim_of(emb, "embedding")
    approx = pq_topk_quantized(
        emb, queries_df, k=_PQ_K, n_sub=dim // _PQ_SUBDIM,
        n_codes=_PQ_CODES, iters=_PQ_ITERS, dim=dim,
    )
    return S.ann_recall(approx, exact)


SQL_ANN_RECALL_PQ = f"""
WITH fqq AS (
  SELECT vec_id AS query_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x*1000000 + 0.5) AS BIGINT)) AS qvq
  FROM embeddings WHERE vec_id < 10
), fcq AS (
  SELECT vec_id AS neighbor_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x*1000000 + 0.5) AS BIGINT)) AS cvq
  FROM embeddings
), es AS (
  SELECT fq.query_id, fc.neighbor_id,
         CAST(list_sum(list_transform(range(1, len(fq.qvq)+1),
              i -> (fq.qvq[i]-fc.cvq[i])*(fq.qvq[i]-fc.cvq[i]))) AS BIGINT) AS d
  FROM fqq fq, fcq fc WHERE fq.query_id <> fc.neighbor_id
), ex AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rank
    FROM es) t WHERE rank <= 5
), {_PQ_CHAIN}, pq AS (
  SELECT query_id, neighbor_id FROM r WHERE rank <= 5
), base AS (
  SELECT query_id, count(*) AS total FROM ex GROUP BY query_id
), hits_pq AS (
  SELECT query_id, count(*) AS hits
  FROM ex JOIN pq USING (query_id, neighbor_id) GROUP BY query_id
)
SELECT base.query_id,
       coalesce(hits, 0)::BIGINT AS hits,
       (coalesce(hits, 0) * 100 / total)::BIGINT AS recall_pct
FROM base LEFT JOIN hits_pq USING (query_id)
"""

SQL_ANN_RECALL = f"""
WITH fq AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10
), fc AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
), qb AS (
{_LSH_QB.replace("FROM q", "FROM fq")}
), cb AS (
{_LSH_CB.replace("FROM c", "FROM fc")}
), cand AS (
  SELECT DISTINCT query_id, neighbor_id FROM qb JOIN cb USING (tbl, bucket)
  WHERE query_id <> neighbor_id
), ls AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_dot_product(qv, cv) /
         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
  FROM cand
  JOIN fq ON fq.query_id = cand.query_id
  JOIN fc ON fc.neighbor_id = cand.neighbor_id
), lsh AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM ls) t WHERE rank <= 5
), es AS (
  SELECT fq.query_id, fc.neighbor_id,
         list_dot_product(qv, cv) /
         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
  FROM fq, fc WHERE fq.query_id <> fc.neighbor_id
), ex AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM es) t WHERE rank <= 5
), {_IVF_CHAIN}, ivf AS (
  SELECT query_id, neighbor_id FROM r WHERE rank <= 5
), base AS (
  SELECT query_id, count(*) AS total FROM ex GROUP BY query_id
), hits_lsh AS (
  SELECT query_id, count(*) AS hits
  FROM ex JOIN lsh USING (query_id, neighbor_id) GROUP BY query_id
), hits_ivf AS (
  SELECT query_id, count(*) AS hits
  FROM ex JOIN ivf USING (query_id, neighbor_id) GROUP BY query_id
)
SELECT base.query_id, 'lsh' AS method,
       (coalesce(hits, 0) * 100 / total)::BIGINT AS recall_pct
FROM base LEFT JOIN hits_lsh USING (query_id)
UNION ALL
SELECT base.query_id, 'ivf' AS method,
       (coalesce(hits, 0) * 100 / total)::BIGINT AS recall_pct
FROM base LEFT JOIN hits_ivf USING (query_id)
"""


def q_parse_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemanticIngestionPipeline variant (P11, reference ingest.py:95-136)
    with the deterministic hashing-embedding client."""
    # min_tokens is a constructor param in the reference too
    # (ingest.py:100-106); 16 keeps small synthetic docs visible
    return _doc_nodes(
        spark, sf_dir, "conv_id", "turn_idx", "node_idx", "text", "tokens",
        transforms=semantic_pipeline_transforms(min_tokens=16),
    )


def q_export_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 llama-index-style PREV/NEXT/PARENT relations over parsed nodes."""
    nodes = _doc_nodes(spark, sf_dir, "conv_id", "turn_idx", "node_idx", "text")
    return nodes_with_relations(nodes).select(
        "conv_id", "turn_idx", "node_idx", "node_id", "prev_id", "next_id", "parent_id"
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction via mapInPandas (decode stubbed).

    For the gate the feature vector is serialized to a comma-joined string of
    its 16-bit integer lattice values (feature[i] = k_i / 65536 exactly, so
    round(x * 65536) recovers k_i losslessly) — library users get the
    array<float> column from ``extract_media_features`` directly."""
    media = synthesize_media_from_documents(_tbl(spark, sf_dir, "documents"))
    feats = extract_media_features(media)
    return feats.where(F.col("decode_ok")).select(
        "media_id",
        "kind",
        "n_bytes",
        "sha",
        F.concat_ws(
            ",",
            F.transform(
                F.col("feature"),
                lambda x: F.round(x * F.lit(65536.0)).cast("int").cast("string"),
            ),
        ).alias("feature_str"),
    )


# feature[i] = int(sha256(data)[2i:2i+2]) / 65536 -> hex chars [4i+1, 4i+4]
_FEATURE_INT_SQL = ", ".join(
    f"(('0x' || substr(sha256(text), {4 * i + 1}, 4))::INT)::VARCHAR"
    for i in range(16)
)

SQL_MULTIMODAL_FEATURES = f"""
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS kind,
       octet_length(encode(text))::BIGINT AS n_bytes,
       sha256(text) AS sha,
       concat_ws(',', {_FEATURE_INT_SQL}) AS feature_str
FROM documents
"""


# ---------------------------------------------------------------------------
# operator analogs + training-data ops WITH DuckDB oracles
# ---------------------------------------------------------------------------


def q_op_remove_repeated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 RemoveRepeatedElements analog (basic_transforms.py:235-258):
    drop ALL copies of any text occurring more than threshold=2 times.
    NULL text is never a "repeated element" (the reference counts node
    texts, which can't be NULL) — the anti-join's NULL-key semantics keep
    NULL rows, and the oracle pins the same rule explicitly (a plain
    ``PARTITION BY text`` window would group NULLs together and silently
    drop them — caught by the randomized parity corpus)."""
    docs = _tbl(spark, sf_dir, "documents")
    counts = docs.groupBy("text").agg(F.count(F.lit(1)).alias("c"))
    return (
        docs.join(F.broadcast(counts.where(F.col("c") > 2)), "text", "left_anti")
        .select("doc_id")
    )


SQL_OP_REMOVE_REPEATED = """
SELECT doc_id FROM (
  SELECT doc_id, text, count(*) OVER (PARTITION BY text) AS c FROM documents
) t WHERE c <= 2 OR text IS NULL
"""


def q_op_remove_below_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 RemoveNodesBelowNTokens analog (basic_transforms.py:261-275) with
    a SQL-checkable token counter."""
    docs = _tbl(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", T.token_count(F.col("text")).alias("n_tokens"))
        .where(F.col("n_tokens") > 50)
    )


SQL_OP_REMOVE_BELOW_TOKENS = """
SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z0-9]+'))::BIGINT AS n_tokens
FROM documents
WHERE len(regexp_extract_all(text, '[A-Za-z0-9]+')) > 50
"""


def q_op_spatial_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 RemoveTextInsideTables analog (basic_transforms.py:122-171) as a
    genuine Spark spatial anti-join: text boxes derived from lineitem,
    table boxes from part (broadcast dim), strict-inequality intersection,
    equi-key on page + range filter."""
    li = _tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_orderkey") % 4).alias("page"),
        ((F.col("l_partkey") * 7) % 480).alias("x0"),
        ((F.col("l_suppkey") * 11) % 680).alias("y0"),
    ).withColumn("x1", F.col("x0") + 30).withColumn("y1", F.col("y0") + 12)
    pt = _tbl(spark, sf_dir, "part").select(
        (F.col("p_partkey") % 4).alias("tpage"),
        ((F.col("p_partkey") * 13) % 400).alias("tx0"),
        ((F.col("p_partkey") * 29) % 600).alias("ty0"),
    ).withColumn("tx1", F.col("tx0") + 150).withColumn("ty1", F.col("ty0") + 100)
    cond = (
        (li["page"] == pt["tpage"])
        & (li["x1"] > pt["tx0"])
        & (li["x0"] < pt["tx1"])
        & (li["y1"] > pt["ty0"])
        & (li["y0"] < pt["ty1"])
    )
    return li.join(F.broadcast(pt), cond, "left_anti").select(
        "l_orderkey", "l_linenumber"
    )


SQL_OP_SPATIAL_ANTI_JOIN = """
WITH l AS (
  SELECT l_orderkey, l_linenumber,
         l_orderkey % 4 AS page,
         (l_partkey * 7) % 480 AS x0,
         (l_suppkey * 11) % 680 AS y0,
         (l_partkey * 7) % 480 + 30 AS x1,
         (l_suppkey * 11) % 680 + 12 AS y1
  FROM lineitem
), p AS (
  SELECT p_partkey % 4 AS tpage,
         (p_partkey * 13) % 400 AS tx0,
         (p_partkey * 29) % 600 AS ty0,
         (p_partkey * 13) % 400 + 150 AS tx1,
         (p_partkey * 29) % 600 + 100 AS ty1
  FROM part
)
SELECT l_orderkey, l_linenumber FROM l
WHERE NOT EXISTS (
  SELECT 1 FROM p
  WHERE p.tpage = l.page
    AND l.x1 > p.tx0 AND l.x0 < p.tx1 AND l.y1 > p.ty0 AND l.y0 < p.ty1
)
"""


def q_op_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P0 reading-order sort analog (schemas.py:579-598): deterministic rank
    by a (-size, id) key WITHIN each source group — mirroring the real P0,
    which sorts nodes within one document, never across the corpus.  The
    window is partitioned by ``source`` so the exchange is a hash
    partition, not a single-partition global sort (VERDICT r4 ask #9; the
    corpus-wide ordinal the old form produced is exactly the shape the
    repo's plan discipline forbids)."""
    docs = _tbl(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc_nulls_last(),
        F.col("doc_id"),
    )
    return docs.select(
        "doc_id",
        F.col("source"),
        F.row_number().over(w).cast("long").alias("rord"),
    )


SQL_OP_READING_ORDER = """
SELECT doc_id, source,
       row_number() OVER (
         PARTITION BY source ORDER BY n_chars DESC NULLS LAST, doc_id
       ) AS rord
FROM documents
"""


def q_op_full_page_stubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 RemoveFullPageStubs analog (basic_transforms.py:174-201): keep rows
    whose derived area ratio is under 35% of the page OR that are not stubs.
    Box geometry derived deterministically from integer columns."""
    docs = _tbl(spark, sf_dir, "documents")
    w = (F.col("doc_id") * 13) % 500 + 20
    h = (F.col("doc_id") * 7) % 600 + 20
    area = w * h
    page_area = F.lit(612 * 792)
    return docs.where(
        (area * 100 < page_area * 35) | (F.col("n_chars") > 200)
    ).select("doc_id")


SQL_OP_FULL_PAGE_STUBS = """
SELECT doc_id FROM documents
WHERE (((doc_id * 13) % 500 + 20) * ((doc_id * 7) % 600 + 20)) * 100
        < (612 * 792) * 35
   OR n_chars > 200
"""


def q_op_remove_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 RemoveMetadataElements analog (basic_transforms.py:204-232): keep
    rows whose derived y-band lies within [10%, 90%] of the page height OR
    that are not stubs."""
    docs = _tbl(spark, sf_dir, "documents")
    y0 = (F.col("doc_id") * 37) % 792
    y1 = y0 + 12
    h = F.lit(792)
    within = (y0 * 10 >= h) & (y1 * 10 <= h * 9)
    return docs.where(within | (F.col("n_chars") > 200)).select("doc_id")


SQL_OP_REMOVE_METADATA = """
SELECT doc_id FROM documents
WHERE (((doc_id * 37) % 792) * 10 >= 792
       AND (((doc_id * 37) % 792) + 12) * 10 <= 792 * 9)
   OR n_chars > 200
"""


def q_op_lead_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P6 neighbor-merge analog (basic_transforms.py:330-377) as a window
    lead over reading order: each doc paired with the next doc in its source
    group; the merge predicate (stub followed by non-stub) flagged."""
    docs = _tbl(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return docs.select(
        "doc_id",
        "source",
        F.lead("doc_id").over(w).alias("next_doc_id"),
        F.coalesce(
            (F.col("n_chars") < 100) & (F.lead("n_chars").over(w) >= 100),
            F.lit(False),
        ).alias("would_merge"),
    )


SQL_OP_LEAD_NEIGHBOR = """
SELECT doc_id, source,
       lead(doc_id) OVER w AS next_doc_id,
       coalesce(n_chars < 100 AND lead(n_chars) OVER w >= 100, false) AS would_merge
FROM documents
WINDOW w AS (PARTITION BY source ORDER BY n_chars DESC, doc_id)
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) per user — the classic
    stateful-streaming analog expressed as lag + cumulative sum windows
    (identical formulation in the oracle so hashes match)."""
    ev = _tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ (parquet isAdjustedToUTC=false): use interval
    # arithmetic for the gap — timezone-independent, so the result cannot
    # depend on whatever session timezone the caller's SparkSession has
    gap = F.col("ts") - F.lag("ts").over(w)
    with_gap = ev.select(
        "user_id",
        "ts",
        "event_id",
        (
            F.coalesce(
                gap > F.expr("INTERVAL 1800 SECONDS"),
                F.lit(True),
            )
        ).cast("int").alias("new_session"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = with_gap.withColumn("session_no", F.sum("new_session").over(w2))
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
    )


SQL_EVENTS_SESSIONIZE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800 THEN 1
              WHEN lag(ts) OVER w IS NULL THEN 1
              ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_no
  FROM g
)
SELECT user_id, session_no::BIGINT AS session_no,
       count(*) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
FROM s GROUP BY user_id, session_no
"""


def q_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints: (doc_id, fp) — the classic
    substring-plagiarism/dedup primitive (shared >=k+w-1 substring =>
    shared fingerprint, guaranteed)."""
    return D.winnow_fingerprints(
        _tbl(spark, sf_dir, "documents"), k=8, window=16, hasher="md5"
    ).select(F.col("id").alias("doc_id"), "fp")


SQL_DEDUP_WINNOW = """
WITH kh AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(text) - 7),
                        i -> ('0x' || substr(md5(substr(text, i, 8)), 1, 15))::BIGINT) AS kh
  FROM documents WHERE len(text) >= 8
)
SELECT doc_id, unnest(list_distinct(
         list_transform(generate_series(1, len(kh) - 15),
                        i -> list_min(kh[i:i+15])))) AS fp
FROM kh WHERE len(kh) >= 16
"""


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event matched to the user's most recent
    click at or before it (union + one-shuffle window; see operators/joins).
    Timestamps exported as strings for hash stability; the matched click's
    event_id pins row identity exactly."""
    ev = _tbl(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        purchases, clicks, key="user_id", ts="ts", tie="event_id",
        right_cols=("ts", "event_id"), prefix="click_",
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts_s"),
        "click_event_id",
    )


SQL_EVENTS_ASOF_JOIN = """
WITH u AS (
  SELECT user_id, ts, event_id, 0 AS side, ts AS r_ts, event_id AS r_event_id
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, event_id, 1 AS side, NULL, NULL
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT *,
         last_value(r_ts IGNORE NULLS) OVER w AS click_ts,
         last_value(r_event_id IGNORE NULLS) OVER w AS click_event_id
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts_s,
       click_event_id
FROM c WHERE side = 1
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_duplicates(_tbl(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, count(*) AS dup_count, min(doc_id) AS keep_id
FROM documents GROUP BY md5(text)
"""


def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.fingerprint_duplicates(_tbl(spark, sf_dir, "documents"))


SQL_DEDUP_FINGERPRINT = """
SELECT md5(lower(trim(regexp_replace(text, '[^A-Za-z0-9]+', ' ', 'g')))) AS fp,
       count(*) AS dup_count, min(doc_id) AS keep_id
FROM documents
GROUP BY 1
"""


def q_neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialize=False: with the parallel gram expansion, recomputing the
    # explode per consumer beats round-tripping the exploded relation
    # through a local checkpoint (r6 A/B: 1.09 s vs 2.15 s at sf0.1/32c);
    # the operator default stays True for callers whose upstream is an
    # expensive non-scan pipeline
    return D.ngram_jaccard_pairs(
        _tbl(spark, sf_dir, "documents"), n=3, num=1, den=2, max_df=50,
        materialize=False,
    )


# CTE chain shared by the jaccard-pairs oracle and the connected-components
# oracle (which runs a recursive reachability walk over the same pairs)
_JACCARD_CTES = """w AS (
  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), w -> lower(w)) AS ws FROM documents
), g0 AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(ws) - 2),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS grams
  FROM w WHERE len(ws) >= 3
), g AS (
  SELECT doc_id, unnest(grams) AS gram FROM g0
), hot AS (
  SELECT gram FROM g GROUP BY gram HAVING count(*) > 50
), gg AS (
  SELECT doc_id, gram FROM g WHERE gram NOT IN (SELECT gram FROM hot)
), sizes AS (
  SELECT doc_id, count(*) AS n_grams FROM gg GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM gg a JOIN gg b USING (gram)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), jpairs AS (
  SELECT doc_a, doc_b, inter, sa.n_grams + sb.n_grams - inter AS uni
  FROM pairs
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE 2 * inter >= (sa.n_grams + sb.n_grams - inter)
)"""

SQL_NEARDUP_JACCARD = f"""
WITH {_JACCARD_CTES}
SELECT doc_a, doc_b, inter, uni FROM jpairs
"""

SQL_DEDUP_COMPONENTS = f"""
WITH RECURSIVE {_JACCARD_CTES}, edges AS (
  SELECT doc_a AS a, doc_b AS b FROM jpairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM jpairs
), reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
)
SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
"""

# MinHash-LSH oracle: reproduces the md5-hasher variant of
# minhash_neardup_pairs exactly — 60-bit md5 gram hashes, then 32 seeded
# min-hashes from the Carter-Wegman affine family over the base hash
# (one md5 per gram; the seeds are the _cw_params constants embedded below),
# 8 bands x 4 rows (bucket = base-31 polynomial fold of the signature
# slice), candidate pairs from the band-bucket self-join, then exact Jaccard
# verification over df-pruned gram-hash sets (2*inter >= union).
_CW_VALUES = ", ".join(
    "({}, {}, {})".format(j, *D._cw_params(j)) for j in range(32)
)

SQL_DEDUP_MINHASH = f"""
WITH w AS (
  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), w -> lower(w)) AS ws FROM documents
), g0 AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(ws) - 2),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS grams
  FROM w WHERE len(ws) >= 3
), ghd AS (
  SELECT DISTINCT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh
  FROM (SELECT doc_id, unnest(grams) AS gram FROM g0)
), params(j, a, b) AS (
  VALUES {_CW_VALUES}
), sig AS (
  SELECT doc_id, j, min((a * (gh & 1073741823) + b) % 2147483647) AS s
  FROM ghd CROSS JOIN params
  GROUP BY doc_id, j
), band AS (
  SELECT doc_id, j // 4 AS band,
         sum(s * CASE j % 4 WHEN 0 THEN 29791 WHEN 1 THEN 961
                            WHEN 2 THEN 31 ELSE 1 END)::BIGINT AS bucket
  FROM sig GROUP BY doc_id, j // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band a JOIN band b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
), hot AS (
  SELECT gh FROM ghd GROUP BY gh HAVING count(*) > 50
), gg AS (
  SELECT doc_id, gh FROM ghd WHERE gh NOT IN (SELECT gh FROM hot)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM gg GROUP BY doc_id
), ver AS (
  SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS inter
  FROM cand c
  JOIN gg ga ON ga.doc_id = c.doc_a
  JOIN gg gb ON gb.doc_id = c.doc_b AND gb.gh = ga.gh
  GROUP BY 1, 2
)
SELECT v.doc_a, v.doc_b, v.inter,
       (sa.n + sb.n - v.inter)::BIGINT AS uni
FROM ver v
JOIN sizes sa ON sa.doc_id = v.doc_a
JOIN sizes sb ON sb.doc_id = v.doc_b
WHERE 2 * v.inter >= sa.n + sb.n - v.inter
"""

# SimHash oracle: 60-bit md5 variant — per-word hash, sign-of-bit-sums,
# 4 bands x 15 bits, candidates = pairs equal in any band.
SQL_DEDUP_SIMHASH = """
WITH wd AS (
  SELECT doc_id, unnest(list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), w -> lower(w))) AS word
  FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS h FROM wd
), bits AS (
  SELECT doc_id, i,
         CASE WHEN sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) > 0
              THEN 1::BIGINT ELSE 0::BIGINT END AS bit
  FROM h CROSS JOIN range(60) r(i)
  GROUP BY doc_id, i
), sh AS (
  SELECT doc_id, sum(bit << i)::BIGINT AS simhash FROM bits GROUP BY doc_id
), band AS (
  SELECT doc_id, b.b AS band, (simhash >> (15 * b.b)::INT) & 32767 AS bucket
  FROM sh CROSS JOIN range(4) b(b)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM band a JOIN band b USING (band, bucket)
WHERE a.doc_id < b.doc_id
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus: emails/phones/IPv4s replaced with
    typed placeholders, with per-kind match counts.  Map-only scan — no
    shuffle at any scale."""
    docs = _tbl(spark, sf_dir, "documents")
    t = F.col("text")
    counts = T.pii_counts(t)
    return docs.select(
        "doc_id",
        T.scrub_pii(t).alias("clean_text"),
        counts["n_emails"].alias("n_emails"),
        counts["n_ips"].alias("n_ips"),
        counts["n_phones"].alias("n_phones"),
    )


SQL_PII_SCRUB = """
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
           '\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b', '<PHONE>', 'g'),
         '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'
       ) AS clean_text,
       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+'))::BIGINT AS n_emails,
       len(regexp_extract_all(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))::BIGINT AS n_ips,
       len(regexp_extract_all(text, '\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b'))::BIGINT AS n_phones
FROM documents
"""


def q_doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic reproducible train/val/test split by md5 hash bucket
    (content-independent, stable across runs/engines/cluster sizes)."""
    docs = _tbl(spark, sf_dir, "documents")
    b = T.hash_bucket(F.col("doc_id"), 100)
    return docs.select(
        "doc_id",
        b.alias("bucket"),
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
    )


SQL_DOC_SPLIT = """
WITH b AS (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by integer tf-idf score
    (tf * 1e6 div doc-frequency — integer arithmetic so the oracle is
    bit-exact; ties broken lexicographically).

    Scale shape: two shuffles (doc-term counts, term doc-frequencies) plus a
    per-doc window — all keys uniform; the term join is the classic
    map-side-combinable aggregation."""
    docs = _tbl(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.explode(T.words(F.col("text"))).alias("term"))
    tf = w.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # doc frequency as a window count over the tf relation, NOT a
    # groupBy+self-join: the join formulation re-computes the whole doc-term
    # aggregation subtree (two scans, 5 exchanges); this is one scan and 3
    # exchanges (doc-term agg, term window, per-doc top-k window)
    scored = tf.withColumn(
        "df_docs", F.count(F.lit(1)).over(Window.partitionBy("term"))
    ).withColumn("score", F.expr("(tf * 1000000L) DIV df_docs"))
    win = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("long"))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df_docs", "score", "rank")
    )


SQL_TFIDF_TOP_TERMS = """
WITH w AS (
  SELECT doc_id, unnest(list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), w -> lower(w))) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM w GROUP BY 1, 2
), dfq AS (
  SELECT term, count(*)::BIGINT AS df_docs FROM tf GROUP BY 1
), scored AS (
  SELECT doc_id, tf.term, tf, df_docs, ((tf * 1000000) // df_docs)::BIGINT AS score
  FROM tf JOIN dfq USING (term)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC)::BIGINT AS rank
  FROM scored
)
SELECT doc_id, term, tf, df_docs, score, rank FROM ranked WHERE rank <= 3
"""


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training prep: the corpus's top-200 words by frequency with
    rank and cumulative-coverage ppm (how much of the token stream the
    vocabulary prefix up to each rank covers — the curve vocab-size
    decisions are read off of).  Integer ppm so the oracle is bit-exact.

    Scale shape: one map-side-combined shuffle to word counts; the global
    top-K is TakeOrderedAndProject (no full sort — K rows cross the wire);
    the rank/cumsum window then runs over those K rows only, and the scalar
    total joins in as a broadcast single row."""
    docs = _tbl(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(T.words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    total = freq.agg(F.sum("freq").alias("total"))
    topk = freq.orderBy(F.desc("freq"), F.asc("word")).limit(200)
    w = Window.orderBy(F.desc("freq"), F.asc("word"))
    return (
        topk.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "cum_freq",
            F.sum("freq")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .withColumn("coverage_ppm", F.expr("(cum_freq * 1000000L) DIV total"))
        .select("word", "freq", "rank", "cum_freq", "coverage_ppm")
    )


SQL_VOCAB_COVERAGE = """
WITH w AS (
  SELECT unnest(list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), x -> lower(x))) AS word
  FROM documents
), f AS (
  SELECT word, count(*)::BIGINT AS freq FROM w GROUP BY 1
), t AS (
  SELECT sum(freq)::BIGINT AS total FROM f
), r AS (
  SELECT word, freq,
         row_number() OVER (ORDER BY freq DESC, word ASC)::BIGINT AS rank,
         sum(freq) OVER (ORDER BY freq DESC, word ASC
                         ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_freq
  FROM f
)
SELECT word, freq, rank, cum_freq,
       ((cum_freq * 1000000) // total)::BIGINT AS coverage_ppm
FROM r CROSS JOIN t
WHERE rank <= 200
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _tbl(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        T.word_count(t).alias("n_words"),
        T.token_count(t).alias("n_tokens"),
        T.punct_count(t).alias("n_punct"),
        T.stopword_count(t, "en").alias("n_stop_en"),
    )


SQL_TEXT_QUALITY = """
SELECT doc_id,
       len(list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), w -> lower(w)))::BIGINT AS n_words,
       len(regexp_extract_all(text, '[A-Za-z0-9]+'))::BIGINT AS n_tokens,
       len(regexp_extract_all(text, '[^A-Za-z0-9_ \\t\\n\\x0B\\f\\r]'))::BIGINT AS n_punct,
       len(regexp_extract_all(text, '(?i)\\b(the|a|and|of|to|is|in)\\b'))::BIGINT AS n_stop_en
FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _tbl(spark, sf_dir, "documents")
    return docs.select("doc_id", T.predict_lang(F.col("text")).alias("pred_lang"))


_STOP_SQL = {
    "de": "\\b(der|die|das|und|ist|nicht|ein)\\b",
    "en": "\\b(the|a|and|of|to|is|in)\\b",
    "es": "\\b(el|la|los|las|es|una|que)\\b",
    "fr": "\\b(le|la|et|les|des|est|une)\\b",
}

SQL_LANG_ID = (
    "WITH scores AS (\n"
    + "\nUNION ALL\n".join(
        f"  SELECT doc_id, '{lang}' AS lang, "
        f"len(regexp_extract_all(text, '(?i){pat}'))::BIGINT AS score FROM documents"
        for lang, pat in sorted(_STOP_SQL.items())
    )
    + "\n)\nSELECT doc_id, lang AS pred_lang FROM ("
    "SELECT doc_id, lang, row_number() OVER ("
    "PARTITION BY doc_id ORDER BY score DESC, lang) AS rn FROM scores) t "
    "WHERE rn = 1"
)


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication spans (word-gram suffix-dedup variant)."""
    return D.duplicate_spans(_tbl(spark, sf_dir, "documents"), n=6, min_df=2)


SQL_DUP_SPANS = """
WITH w AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), x -> lower(x)) AS ws
  FROM documents
), g AS (
  SELECT doc_id, unnest(generate_series(1, len(ws) - 5))::BIGINT AS i, ws
  FROM w WHERE len(ws) >= 6
), grams AS (
  SELECT doc_id, i - 1 AS pos,
         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]||' '||ws[i+5] AS gram
  FROM g
), flagged AS (
  SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
), dup AS (
  SELECT doc_id, pos FROM grams WHERE gram IN (SELECT gram FROM flagged)
), lagged AS (
  SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lag_pos
  FROM dup
), isl AS (
  SELECT doc_id, pos,
         sum(CASE WHEN pos - lag_pos <= 5 THEN 0 ELSE 1 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM lagged
)
SELECT doc_id, min(pos)::BIGINT AS span_start, (max(pos) + 5)::BIGINT AS span_end,
       count(*)::BIGINT AS n_dup_grams
FROM isl GROUP BY doc_id, grp
"""


# registry chunking config: window=24/overlap=8 so the sf corpus (10-99
# words/doc) genuinely multi-chunks.  ONE source of truth shared by
# q_doc_chunks, q_rag_index and both their oracles (review finding: the
# constants had been copy-pasted into four places).
CHUNK_W, CHUNK_OV = 24, 8
_CHUNK_STRIDE = CHUNK_W - CHUNK_OV


def _chunk_ctes(window: int = CHUNK_W, overlap: int = CHUNK_OV) -> str:
    """The DuckDB replay of ``chunk_documents`` as chained CTEs ending in
    ``chunks(doc_id, chunk_idx, n_words, cws, span_start, span_end)``.

    Span replay: with ``seps`` the separator split of the same word regex
    (``text = seps[1] w1 seps[2] ... wn seps[n+1]``),
    ``span_start = sum(len(seps[1..a+1])) + sum(len(ws[1..a]))`` for ``a``
    words before the chunk, and ``span_end`` is the same sum at the chunk's
    last word index ``e`` WITHOUT ``seps[e+1]`` — byte-for-byte the Spark
    arithmetic."""
    stride = window - overlap
    return f"""w AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), x -> lower(x)) AS ws,
         regexp_split_to_array(text, '[A-Za-z0-9]+') AS seps
  FROM documents
), sized AS (
  SELECT doc_id, ws, seps, len(ws) AS n,
         CASE WHEN len(ws) > {overlap}
              THEN (len(ws) - {overlap} + {stride - 1}) // {stride}
              ELSE 1 END AS n_chunks
  FROM w WHERE len(ws) > 0
), idx AS (
  SELECT doc_id, ws, seps, n, unnest(range(0, n_chunks))::BIGINT AS chunk_idx
  FROM sized
), spanned AS (
  SELECT doc_id, ws, seps, chunk_idx,
         (chunk_idx*{stride})::BIGINT AS a,
         least(chunk_idx*{stride} + {window}, n)::BIGINT AS e
  FROM idx
), chunks AS (
  SELECT doc_id, chunk_idx,
         len(list_slice(ws, a + 1, a + {window}))::BIGINT AS n_words,
         list_slice(ws, a + 1, a + {window}) AS cws,
         (coalesce(list_sum(list_transform(list_slice(seps, 1, a + 1), s -> length(s))), 0)
          + coalesce(list_sum(list_transform(list_slice(ws, 1, a), x -> length(x))), 0))::BIGINT AS span_start,
         (coalesce(list_sum(list_transform(list_slice(seps, 1, e), s -> length(s))), 0)
          + coalesce(list_sum(list_transform(list_slice(ws, 1, e), x -> length(x))), 0))::BIGINT AS span_end
  FROM spanned
)"""


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (the op the reference's node pipeline feeds)."""
    return chunk_documents(
        _tbl(spark, sf_dir, "documents"), window=CHUNK_W, overlap=CHUNK_OV
    )


SQL_DOC_CHUNKS = f"""
WITH {_chunk_ctes()}
SELECT doc_id, chunk_idx, n_words, array_to_string(cws, ' ') AS chunk_text,
       span_start, span_end
FROM chunks
"""


def q_rag_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed RAG-indexing pipeline, value-checked END TO END: chunk the
    corpus (token windows), embed each chunk (signed md5-bucket bag of
    words — the deploy shape of a hashing embedder), and LSH-bucket the
    embedding for ANN serving.  Everything is integer arithmetic: the word
    sign is a hash bit, the hyperplanes are the literal `plane_values`
    scaled to integers (x1000), so the dot products are exact int64 sums —
    no float-order caveat anywhere, and DuckDB replays the whole chain.

    At 100 TB this is the index-build job: chunk (map) -> explode words
    (map) -> one groupBy (doc_id, chunk_idx) with 4 integer sums ->
    write, partitioned by bucket.  One shuffle total."""
    return rag_index_table(
        _tbl(spark, sf_dir, "documents"), window=CHUNK_W, overlap=CHUNK_OV
    )


# chunk-merge tuning shared by the Spark query and its oracle (interpolated
# into SQL_CHUNK_MERGE — hardcoding them twice is the copy-paste failure
# mode the CHUNK_W note above documents)
MERGE_DIM, MERGE_NUM_SQ, MERGE_DEN_SQ = 64, 1, 4


def q_chunk_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level semantic chunk merge (the P11 analog over chunks):
    greedy integer-cosine fold per doc, tau^2=1/4, groups capped at 2
    windows.  The whole sequential fold is replayed by a DuckDB recursive
    CTE — same proof pattern as pack_sequences."""
    return merge_chunks_semantic(
        _tbl(spark, sf_dir, "documents"),
        window=CHUNK_W,
        overlap=CHUNK_OV,
        dim=MERGE_DIM,
        num_sq=MERGE_NUM_SQ,
        den_sq=MERGE_DEN_SQ,
        max_words=2 * CHUNK_W,
    )


SQL_CHUNK_MERGE = f"""
WITH RECURSIVE {_chunk_ctes()}, cw AS (
  SELECT doc_id, chunk_idx, n_words, unnest(cws) AS word FROM chunks
), wb AS (
  SELECT doc_id, chunk_idx, n_words,
         ('0x'||substr(md5(word),1,15))::BIGINT AS h
  FROM cw
), dense AS (
  SELECT doc_id, chunk_idx, n_words, list(cnt ORDER BY b)::BIGINT[] AS vec FROM (
    SELECT doc_id, chunk_idx, n_words, b.b AS b,
           coalesce(sum(CASE WHEN h % {MERGE_DIM} = b.b THEN ((h // {MERGE_DIM}) % 2) * 2 - 1 END), 0) AS cnt
    FROM wb, (SELECT unnest(range(0, {MERGE_DIM})) AS b) b
    GROUP BY doc_id, chunk_idx, n_words, b.b)
  GROUP BY doc_id, chunk_idx, n_words
), walk(doc_id, chunk_idx, group_idx, gvec, gwords, gchunks) AS (
  SELECT doc_id, chunk_idx, 0::BIGINT, vec, n_words, 1::BIGINT
  FROM dense WHERE chunk_idx = 0
  UNION ALL
  SELECT c.doc_id, c.chunk_idx,
         CASE WHEN m.ok THEN p.group_idx ELSE p.group_idx + 1 END,
         CASE WHEN m.ok
              THEN list_transform(range(1, {MERGE_DIM + 1}), i -> p.gvec[i] + c.vec[i])::BIGINT[]
              ELSE c.vec END,
         CASE WHEN m.ok THEN p.gwords + c.n_words ELSE c.n_words END,
         CASE WHEN m.ok THEN p.gchunks + 1 ELSE 1::BIGINT END
  FROM walk p
  JOIN dense c ON c.doc_id = p.doc_id AND c.chunk_idx = p.chunk_idx + 1
  CROSS JOIN LATERAL (
    SELECT (list_dot_product(p.gvec, c.vec) > 0
            AND {MERGE_DEN_SQ} * list_dot_product(p.gvec, c.vec)
                  * list_dot_product(p.gvec, c.vec)
                >= {MERGE_NUM_SQ} * list_dot_product(p.gvec, p.gvec)
                     * list_dot_product(c.vec, c.vec)
            AND p.gwords + c.n_words <= {2 * CHUNK_W}) AS ok) m
)
SELECT doc_id, group_idx, gchunks AS n_chunks, gwords AS n_words
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, group_idx
                                   ORDER BY chunk_idx DESC) AS rn FROM walk)
WHERE rn = 1
"""


def _rag_plane_sql(p: int, dim: int = 64) -> str:
    vals = ", ".join(
        str(int(round(v * 1000))) for v in S.plane_values(p, dim)
    )
    return f"[{vals}]"


SQL_RAG_INDEX = f"""
WITH {_chunk_ctes()}, cw AS (
  SELECT doc_id, chunk_idx, n_words, unnest(cws) AS word FROM chunks
), wh AS (
  SELECT doc_id, chunk_idx, n_words,
         ('0x'||substr(md5(word),1,15))::BIGINT AS h
  FROM cw
), dots AS (
  SELECT doc_id, chunk_idx, n_words,
         {", ".join(
             f"sum(((h // 64) % 2 * 2 - 1) * ({_rag_plane_sql(p)})[(h % 64 + 1)::INT]) AS dot{p}"
             for p in range(4)
         )}
  FROM wh GROUP BY doc_id, chunk_idx, n_words
)
SELECT doc_id, chunk_idx, n_words,
       ((CASE WHEN dot0 >= 0 THEN 8 ELSE 0 END) +
        (CASE WHEN dot1 >= 0 THEN 4 ELSE 0 END) +
        (CASE WHEN dot2 >= 0 THEN 2 ELSE 0 END) +
        (CASE WHEN dot3 >= 0 THEN 1 ELSE 0 END))::BIGINT AS bucket
FROM dots
"""


def q_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL stats — the crawl-side bookkeeping every web-scale
    pipeline needs (blocklists, per-domain quotas).  The synthetic corpus
    has no URLs, so the query INJECTS deterministic ones (mixed scheme and
    case) before extracting — the gate then checks extraction, domain
    parsing, lowering and the aggregation, not a no-op (same pattern as
    boilerplate_lines)."""
    docs = _tbl(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://Ex"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".com/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" and http://site"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".org/x?q=1&r=2 end"),
        ).alias("text"),
    )
    return T.url_domain_stats(injected)


SQL_URL_DOMAINS = """
WITH t AS (
  SELECT doc_id,
         text || ' see https://Ex' || (doc_id % 7)::VARCHAR || '.com/p/' ||
         doc_id::VARCHAR || ' and http://site' || (doc_id % 3)::VARCHAR ||
         '.org/x?q=1&r=2 end' AS text
  FROM documents
), u AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text,
           'https?://[A-Za-z0-9._~:/?#@!$&''()*+,;=%-]*[A-Za-z0-9_~/#=&%-]')) AS url
  FROM t
)
SELECT lower(regexp_extract(url, 'https?://(?:[^/@]*@)?([A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)*)', 1)) AS domain,
       count(*)::BIGINT AS n_urls,
       count(DISTINCT doc_id)::BIGINT AS n_docs
FROM u GROUP BY 1
"""


# PageRank registry constants — shared by the Spark query and the unrolled
# oracle below (exact integer fixed-point, so both replay bit-for-bit)
_PR_ITER, _PR_NUM, _PR_DEN, _PR_SCALE = 5, 85, 100, 10**12


def q_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph authority ranking: PageRank over the (source-domain ->
    linked-domain) graph mined from documents, for crawl-side seed/quota
    decisions.  The synthetic corpus has no URLs, so deterministic ones are
    injected (same pattern as `url_domains`); edge src is a deterministic
    per-doc site, dst is the EXTRACTED domain of each injected URL — the
    gate checks extraction, graph assembly and all 5 integer power-iteration
    rounds.  Dangling-mass-dropping variant (operators/graph.py).  Output
    is the top-100 domains via ``top_ranked`` (TakeOrderedAndProject — no
    global sort; the row_number runs over <= 100 rows).  The synthetic
    graph has 15 domains, so the top-100 IS the full relation here and the
    oracle replays the same cap."""
    docs = _tbl(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://Ex"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".com/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" and http://site"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".org/x?q=1&r=2 end"),
        ).alias("text"),
    )
    edges = injected.select(
        F.concat(F.lit("src"), (F.col("doc_id") % 5).cast("string"), F.lit(".net"))
        .alias("src"),
        F.explode(T.extract_urls(F.col("text"))).alias("url"),
    ).select("src", T.url_domain(F.col("url")).alias("dst")).where(F.col("dst") != "")
    ranks = pagerank(
        edges,
        iterations=_PR_ITER,
        damping_num=_PR_NUM,
        damping_den=_PR_DEN,
        scale=_PR_SCALE,
    )
    return top_ranked(ranks, k=100).select(
        F.col("node").alias("domain"), F.col("rank"), "rank_pos"
    )


def _pagerank_sql() -> str:
    """Unrolled power-iteration oracle (same pattern as the quantized-IVF
    Lloyd replay): pr0 = init, pr{k} = teleport + damped incoming of
    pr{k-1}; every step exact integer arithmetic."""
    num, den, scale = _PR_NUM, _PR_DEN, _PR_SCALE
    step_ctes = []
    for k in range(1, _PR_ITER + 1):
        step_ctes.append(
            f"""pr{k} AS (
  SELECT n.node,
         (({den - num} * {scale}) // ({den} * nn.n)
          + ({num} * coalesce(s.c, 0)) // {den})::BIGINT AS rank
  FROM nodes n CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node, sum(p.rank // d.outdeg)::BIGINT AS c
    FROM pr{k - 1} p JOIN e ON e.src = p.node JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) s ON s.node = n.node
)"""
        )
    steps = ",\n".join(step_ctes)
    return f"""
WITH t AS (
  SELECT doc_id,
         text || ' see https://Ex' || (doc_id % 7)::VARCHAR || '.com/p/' ||
         doc_id::VARCHAR || ' and http://site' || (doc_id % 3)::VARCHAR ||
         '.org/x?q=1&r=2 end' AS text
  FROM documents
), u AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text,
           'https?://[A-Za-z0-9._~:/?#@!$&''()*+,;=%-]*[A-Za-z0-9_~/#=&%-]')) AS url
  FROM t
), e0 AS (
  SELECT 'src' || (doc_id % 5)::VARCHAR || '.net' AS src,
         lower(regexp_extract(url, 'https?://(?:[^/@]*@)?([A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)*)', 1)) AS dst
  FROM u
), e AS (
  SELECT DISTINCT src, dst FROM e0 WHERE dst <> ''
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), deg AS (
  SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY 1
), nn AS (
  SELECT count(*)::BIGINT AS n FROM nodes
), pr0 AS (
  SELECT node, ({scale} // nn.n)::BIGINT AS rank FROM nodes CROSS JOIN nn
),
{steps}
SELECT domain, rank, rank_pos FROM (
  SELECT node AS domain, rank,
         row_number() OVER (ORDER BY rank DESC, node ASC)::BIGINT AS rank_pos
  FROM pr{_PR_ITER}
) WHERE rank_pos <= 100
"""


SQL_DOMAIN_PAGERANK = _pagerank_sql()


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _tbl(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


SQL_ANN_COSINE_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
), s AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv) /
         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
  FROM q, c WHERE query_id <> neighbor_id
), r AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM s
)
SELECT query_id, neighbor_id, rank, round(sim, 4) AS sim4 FROM r WHERE rank <= 5
"""


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over binary media columns (sha/byte-length JVM-side)."""
    media = synthesize_media_from_documents(_tbl(spark, sf_dir, "documents"))
    return media.select(
        "media_id",
        "kind",
        F.octet_length(F.col("data").cast("string")).cast("long").alias("n_bytes"),
        F.sha2(F.col("data").cast("string"), 256).alias("sha"),
    )


SQL_MULTIMODAL_META = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS kind,
       octet_length(encode(text))::BIGINT AS n_bytes,
       sha256(text) AS sha
FROM documents
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (sequence+explode, JVM-side)."""
    media = synthesize_media_from_documents(_tbl(spark, sf_dir, "documents"))
    return sample_video_frames(media, every_ms=1000).select(
        "media_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms")
    )


SQL_MULTIMODAL_FRAMES = """
SELECT doc_id AS media_id,
       unnest(generate_series(0, (doc_id % 10000 + 1000)::BIGINT, 1000)) AS frame_ts_ms
FROM documents
WHERE doc_id % 3 = 2
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (the batch twin of the Structured
    Streaming job in streaming/)."""
    ev = _tbl(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
            "hour"
        ),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


SQL_EVENTS_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value
FROM events
GROUP BY 1, 2
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over exact-Jaccard pairs
    (min-label propagation, O(log n) shuffles)."""
    docs = _tbl(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs)
    return D.connected_components(pairs)


def q_training_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus cleaning: keep docs that are (a) the
    canonical copy under exact dedup, (b) above the token floor, (c)
    predicted English — the composed filter chain a data pipeline runs
    before tokenization.  Fully SQL-checkable."""
    docs = _tbl(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.col("text")))
    return (
        docs.withColumn("canonical", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("canonical"))
        .where(T.token_count(F.col("text")) > 50)
        .where(T.predict_lang(F.col("text")) == "en")
        .select("doc_id")
    )


_LANG_SCORE_SQL = "\nUNION ALL\n".join(
    f"  SELECT doc_id, '{lang}' AS lang, "
    f"len(regexp_extract_all(text, '(?i){pat}'))::BIGINT AS score FROM documents"
    for lang, pat in sorted(_STOP_SQL.items())
)

SQL_TRAINING_CORPUS_CLEAN = f"""
WITH scores AS (
{_LANG_SCORE_SQL}
), pred AS (
  SELECT doc_id, lang AS pred_lang FROM (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
    FROM scores) t WHERE rn = 1
), canon AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical,
         len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens
  FROM documents
)
SELECT c.doc_id
FROM canon c JOIN pred p USING (doc_id)
WHERE c.doc_id = c.canonical AND c.n_tokens > 50 AND p.pred_lang = 'en'
"""


def q_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus extraction-quality summary (K3 replacement: metrics instead of
    bbox-annotated PDFs)."""
    nodes = _doc_nodes(spark, sf_dir, "conv_id", "turn_idx", "node_idx", "tokens")
    return extraction_metrics(nodes)


_CONV_SQL_BASE = """
  SELECT 'conv-' || lpad((doc_id % 64)::VARCHAR, 6, '0') AS conv_id,
         (doc_id // 64)::INT AS turn_idx,
         CASE ((doc_id // 64) % 3) WHEN 0 THEN 'user'
                                   WHEN 1 THEN 'assistant'
                                   ELSE 'tool' END AS role,
         text
  FROM documents
"""


def q_parse_metrics_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant twin for ``parse_metrics`` (VERDICT r3 item 6): per-conv
    consistency between two INDEPENDENTLY-SHAPED aggregations of the parse
    output — ``parse_quality_metrics`` (flat groupBy) vs
    ``conversation_assembly`` (collect_list assembly) — plus a bound from
    the SQL-derivable transcript base.  The oracle states the invariant per
    conversation; any bookkeeping regression (lost error rows, token drift,
    double-counted turns) flips a flag and hash-mismatches."""
    transcripts = documents_as_transcripts(_tbl(spark, sf_dir, "documents"))
    nodes = _doc_nodes(
        spark, sf_dir, "conv_id", "turn_idx", "node_idx", "text", "tokens"
    )
    m = parse_quality_metrics(nodes).select(
        "conv_id",
        F.col("turns").alias("m_turns"),
        F.col("nodes").alias("m_nodes"),
        F.col("parse_errors").alias("m_errors"),
        F.col("tokens").alias("m_tokens"),
    )
    a = conversation_assembly(nodes).select(
        "conv_id",
        F.col("n_turns").alias("a_turns"),
        F.col("n_nodes").alias("a_rows"),
        F.col("tokens").alias("a_tokens"),
    )
    base = transcripts.groupBy("conv_id").agg(
        F.count_distinct("turn_idx").alias("t_turns")
    )
    checked = m.join(a, "conv_id").join(base, "conv_id").select(
        "conv_id",
        # assembly keeps error rows too: content + error rows == all rows
        (F.col("m_nodes") + F.col("m_errors") == F.col("a_rows")).alias(
            "counts_consistent"
        ),
        (F.col("m_tokens").eqNullSafe(F.col("a_tokens"))).alias(
            "tokens_consistent"
        ),
        (F.col("m_turns") == F.col("a_turns")).alias("turns_match"),
        # no conv can emit more parsed turns than the transcript base holds
        (F.col("m_turns") <= F.col("t_turns")).alias("turns_bounded"),
    )
    flags = ["counts_consistent", "tokens_consistent", "turns_match", "turns_bounded"]
    convs = transcripts.select("conv_id").distinct()
    # all-zero-node conversations satisfy the invariants vacuously
    return convs.join(checked, "conv_id", "left").select(
        "conv_id", *[F.coalesce(F.col(c), F.lit(True)).alias(c) for c in flags]
    )


SQL_PARSE_METRICS_CHECK = f"""
WITH t AS (
{_CONV_SQL_BASE}
)
SELECT DISTINCT conv_id,
       true AS counts_consistent, true AS tokens_consistent,
       true AS turns_match, true AS turns_bounded
FROM t
"""


def q_eval_metrics_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant twin for ``eval_metrics``: the corpus-level extraction
    summary must agree with the per-conversation metrics rolled up — same
    parse output, two independent aggregation paths (per-(conv,turn) wide
    agg vs per-conv flat agg).  One row of booleans; the oracle states the
    expected constants."""
    nodes = _doc_nodes(spark, sf_dir, "conv_id", "turn_idx", "node_idx", "tokens")
    e = extraction_metrics(nodes)
    rollup = parse_quality_metrics(nodes).agg(
        F.sum("turns").alias("m_turns"),
        F.sum("nodes").alias("m_nodes"),
        F.sum("parse_errors").alias("m_errors"),
        F.sum("tokens").alias("m_tokens"),
    )
    return e.join(F.broadcast(rollup)).select(
        (F.col("turns") == F.col("m_turns")).alias("turns_match"),
        (F.col("nodes") == F.col("m_nodes")).alias("nodes_match"),
        (F.col("parse_errors") == F.col("m_errors")).alias("errors_match"),
        (F.col("tokens").eqNullSafe(F.col("m_tokens"))).alias("tokens_match"),
        (F.col("p50_nodes_per_turn") <= F.col("p99_nodes_per_turn")).alias(
            "percentiles_ordered"
        ),
        # every only-error turn contributes >= 1 error row
        (F.col("turns_with_only_errors") <= F.col("parse_errors")).alias(
            "only_error_turns_bounded"
        ),
    )


SQL_EVAL_METRICS_CHECK = """
SELECT true AS turns_match, true AS nodes_match, true AS errors_match,
       true AS tokens_match, true AS percentiles_ordered,
       true AS only_error_turns_bounded
"""


def q_eval_variant_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = _doc_nodes(
        spark, sf_dir, "conv_id", "turn_idx", "node_idx", "variant", "tokens"
    )
    return variant_mix(nodes)


def q_conversation_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-granularity document assembly from parsed nodes."""
    nodes = _doc_nodes(
        spark, sf_dir, "conv_id", "turn_idx", "node_idx", "text", "tokens"
    )
    return conversation_assembly(nodes)


# SQL-checked conversation ops over the deterministic documents->transcripts
# derivation (conv_id = 'conv-' || lpad(doc_id % 64), turn_idx = doc_id/64)

def q_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    transcripts = documents_as_transcripts(_tbl(spark, sf_dir, "documents"))
    return conversation_stats(transcripts).select(
        "conv_id",
        "n_turns",
        "total_chars",
        "max_turn_chars",
        "n_roles",
        F.col("first_turn").cast("long").alias("first_turn"),
        F.col("last_turn").cast("long").alias("last_turn"),
    )


SQL_CONV_STATS = f"""
WITH t AS (
{_CONV_SQL_BASE}
)
SELECT conv_id,
       count(*) AS n_turns,
       sum(length(text))::BIGINT AS total_chars,
       max(length(text)) AS max_turn_chars,
       count(DISTINCT role) AS n_roles,
       min(turn_idx)::BIGINT AS first_turn,
       max(turn_idx)::BIGINT AS last_turn
FROM t GROUP BY conv_id
"""


def q_conv_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    transcripts = documents_as_transcripts(_tbl(spark, sf_dir, "documents"))
    return turn_context_windows(transcripts, context_turns=3).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "role",
        "context_n_turns",
        "context_chars",
    )


def q_conv_transcript_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-transcript conversation assembly (the parse-independent half of
    conversation_assembly, so it is fully SQL-checkable): all of a
    conversation's raw turn texts joined in turn order."""
    transcripts = documents_as_transcripts(_tbl(spark, sf_dir, "documents"))
    return (
        transcripts.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sort_array(
                F.collect_list(F.struct(F.col("turn_idx"), F.col("text")))
            ).alias("_t"),
        )
        .select(
            "conv_id",
            "n_turns",
            F.array_join(F.col("_t.text"), "\n\n").alias("conversation_text"),
        )
    )


SQL_CONV_TRANSCRIPT_ASSEMBLY = f"""
WITH t AS (
{_CONV_SQL_BASE}
)
SELECT conv_id,
       count(*) AS n_turns,
       coalesce(string_agg(text, chr(10) || chr(10) ORDER BY turn_idx), '')
         AS conversation_text
FROM t GROUP BY conv_id
"""


def q_export_relations_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 relation invariants, verified per conversation: every parsed
    document (turn) must have exactly one head (null prev) and one tail
    (null next), one parent id, unique node ids, and contiguous node_idx
    starting at 0.  The oracle states the expected invariant per conv — a
    genuine contract check (any window/hashing regression flips a flag)."""
    transcripts = documents_as_transcripts(_tbl(spark, sf_dir, "documents"))
    nodes = _doc_nodes(spark, sf_dir, "conv_id", "turn_idx", "node_idx", "text")
    rel = nodes_with_relations(nodes)
    per_doc = rel.groupBy("conv_id", "turn_idx").agg(
        (F.sum(F.col("prev_id").isNull().cast("int")) == 1).alias("one_head"),
        (F.sum(F.col("next_id").isNull().cast("int")) == 1).alias("one_tail"),
        (F.count_distinct("node_id") == F.count(F.lit(1))).alias("ids_unique"),
        (F.count_distinct("parent_id") == 1).alias("one_parent"),
        (
            (F.min("node_idx") == 0)
            & (F.max("node_idx") + 1 == F.count(F.lit(1)))
        ).alias("contiguous"),
    )
    per_conv = per_doc.groupBy("conv_id").agg(
        F.bool_and("one_head").alias("one_head"),
        F.bool_and("one_tail").alias("one_tail"),
        F.bool_and("ids_unique").alias("ids_unique"),
        F.bool_and("one_parent").alias("one_parent"),
        F.bool_and("contiguous").alias("contiguous"),
    )
    # conversations whose turns all parse to zero nodes (empty/whitespace
    # payloads) satisfy every invariant vacuously — keep them in the report
    convs = transcripts.select("conv_id").distinct()
    flags = ["one_head", "one_tail", "ids_unique", "one_parent", "contiguous"]
    return convs.join(per_conv, "conv_id", "left").select(
        "conv_id",
        *[F.coalesce(F.col(c), F.lit(True)).alias(c) for c in flags],
    )


SQL_EXPORT_RELATIONS_CHECK = f"""
WITH t AS (
{_CONV_SQL_BASE}
)
SELECT DISTINCT conv_id,
       true AS one_head, true AS one_tail, true AS ids_unique,
       true AS one_parent, true AS contiguous
FROM t
"""


SQL_CONV_CONTEXT = f"""
WITH t AS (
{_CONV_SQL_BASE}
)
SELECT conv_id, turn_idx::BIGINT AS turn_idx, role,
       count(*) OVER w AS context_n_turns,
       (sum(length(text)) OVER w)::BIGINT AS context_chars
FROM t
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def q_conv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-granularity fingerprint dedup (the corpus unit is the
    conversation; a re-logged conversation is invisible to turn-level dedup)."""
    transcripts = documents_as_transcripts(_tbl(spark, sf_dir, "documents"))
    return conversation_fingerprint_dedup(transcripts)


SQL_CONV_DEDUP = f"""
WITH t AS (
{_CONV_SQL_BASE}
), assembled AS (
  SELECT conv_id,
         coalesce(string_agg(text, chr(10) ORDER BY turn_idx), '') AS conv_text
  FROM t GROUP BY conv_id
)
SELECT md5(CASE WHEN trim(regexp_replace(lower(conv_text), '[^a-z0-9]+', ' ', 'g')) = ''
            THEN conv_text
            ELSE trim(regexp_replace(lower(conv_text), '[^a-z0-9]+', ' ', 'g')) END)
         AS conv_fp,
       count(*) AS dup_count,
       min(conv_id) AS keep_conv_id
FROM assembled GROUP BY 1
"""


def q_conv_role_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialogue-shape metrics per conversation (role mix, stitching checks)."""
    transcripts = documents_as_transcripts(_tbl(spark, sf_dir, "documents"))
    return role_sequence_stats(transcripts)


SQL_CONV_ROLE_STATS = f"""
WITH t AS (
{_CONV_SQL_BASE}
), w AS (
  SELECT conv_id, role, turn_idx,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
  FROM t
)
SELECT conv_id,
       sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END)::BIGINT AS user_turns,
       sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)::BIGINT AS assistant_turns,
       sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END)::BIGINT AS tool_turns,
       max(CASE WHEN rn = 1 THEN role = 'user' END) AS starts_with_user,
       sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END)::BIGINT AS repeated_role_runs
FROM w GROUP BY conv_id
"""


def q_neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (LSH-bucketed scale path; candidates
    only, never all-pairs).  The oracle embeds the same literal planes, so
    the bucketing, candidate join, and rounded-threshold filter are all
    value-checked."""
    return S.cosine_neardup_pairs(_tbl(spark, sf_dir, "embeddings"))


# dedup buckets: 8 planes/table (selectivity — see cosine_neardup_pairs)
_EB = "\nUNION ALL\n".join(
    f"  SELECT id, v, {t} AS tbl, {_lsh_bucket_sql('v', t, num_planes=8)} AS bucket FROM e"
    for t in range(_LSH_TABLES)
)

SQL_NEARDUP_COSINE = f"""
WITH e AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
), eb AS (
{_EB}
), cand AS (
  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
  FROM eb a JOIN eb b USING (tbl, bucket)
  WHERE a.id < b.id
), s AS (
  SELECT doc_a, doc_b,
         round(list_dot_product(ea.v, eb2.v) /
               (sqrt(list_dot_product(ea.v, ea.v)) *
                sqrt(list_dot_product(eb2.v, eb2.v))), 4) AS sim4
  FROM cand
  JOIN e ea ON ea.id = doc_a
  JOIN e eb2 ON eb2.id = doc_b
)
SELECT doc_a, doc_b, sim4 FROM s WHERE sim4 >= 0.35
"""


def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gate (Rae et al. 2021 §A1.1 rules, integer
    arithmetic so the oracle matches exactly): word-count bounds, mean word
    length in [3, 10] (via cross-multiplication), symbol-to-word ratio
    < 10%, and >=2 English stopwords.  Emits the per-rule flags so a
    pipeline can audit WHY a document was dropped."""
    docs = ensure_parallelism(_tbl(spark, sf_dir, "documents"), "doc_id")
    t = F.coalesce(F.col("text"), F.lit(""))  # NULL text audits as empty
    n_words = T.word_count(t)
    # strip on RAW text (Java lower('İ') adds a combining char, changing
    # length vs DuckDB's lower — dialect note in functions/text.py)
    word_chars = F.length(F.regexp_replace(t, "[^A-Za-z0-9]+", ""))
    n_symbols = F.regexp_count(t, F.lit(r"[#$%^~]"))
    n_stop = T.stopword_count(t, "en")
    out = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        word_chars.cast("long").alias("word_chars"),
        n_symbols.cast("long").alias("n_symbols"),
        n_stop.alias("n_stop"),
    )
    return out.select(
        "doc_id",
        ((F.col("n_words") >= 50) & (F.col("n_words") <= 100000)).alias("wc_ok"),
        (
            (F.col("word_chars") >= 3 * F.col("n_words"))
            & (F.col("word_chars") <= 10 * F.col("n_words"))
        ).alias("mwl_ok"),
        (10 * F.col("n_symbols") < F.col("n_words")).alias("sym_ok"),
        (F.col("n_stop") >= 2).alias("stop_ok"),
        (
            (F.col("n_words") >= 50)
            & (F.col("n_words") <= 100000)
            & (F.col("word_chars") >= 3 * F.col("n_words"))
            & (F.col("word_chars") <= 10 * F.col("n_words"))
            & (10 * F.col("n_symbols") < F.col("n_words"))
            & (F.col("n_stop") >= 2)
        ).alias("keep"),
    )


SQL_QUALITY_GOPHER = """
WITH m AS (
  SELECT doc_id,
         len(list_transform(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'), w -> lower(w)))::BIGINT AS n_words,
         length(regexp_replace(coalesce(text, ''), '[^A-Za-z0-9]+', '', 'g'))::BIGINT AS word_chars,
         len(regexp_extract_all(coalesce(text, ''), '[#$%^~]'))::BIGINT AS n_symbols,
         len(regexp_extract_all(coalesce(text, ''), '(?i)\\b(the|a|and|of|to|is|in)\\b'))::BIGINT AS n_stop
  FROM documents
)
SELECT doc_id,
       (n_words >= 50 AND n_words <= 100000) AS wc_ok,
       (word_chars >= 3 * n_words AND word_chars <= 10 * n_words) AS mwl_ok,
       (10 * n_symbols < n_words) AS sym_ok,
       (n_stop >= 2) AS stop_ok,
       (n_words >= 50 AND n_words <= 100000
        AND word_chars >= 3 * n_words AND word_chars <= 10 * n_words
        AND 10 * n_symbols < n_words AND n_stop >= 2) AS keep
FROM m
"""


def q_training_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cut (prompt, completion) training samples from transcripts: one
    sample per assistant turn, prompt = up to 3 preceding turns rendered as
    "role: text" lines — the sample-cutting shape for agent-transcript
    training data, fully SQL-checkable."""
    transcripts = documents_as_transcripts(_tbl(spark, sf_dir, "documents"))
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-3, -1)
    )
    rendered = F.concat_ws(": ", F.col("role"), F.col("text"))
    with_ctx = transcripts.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "role",
        "text",
        F.array_join(F.collect_list(rendered).over(w), "\n").alias("prompt"),
    )
    return with_ctx.where(F.col("role") == "assistant").select(
        "conv_id",
        "turn_idx",
        "prompt",
        F.col("text").alias("completion"),
        F.length("prompt").cast("long").alias("prompt_chars"),
    )


SQL_TRAINING_SAMPLES = f"""
WITH t AS (
{_CONV_SQL_BASE}
), ctx AS (
  SELECT conv_id, turn_idx::BIGINT AS turn_idx, role, text,
         coalesce(
           array_to_string(
             list(role || ': ' || text) OVER (
               PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
             chr(10)),
           '') AS prompt
  FROM t
)
SELECT conv_id, turn_idx, prompt, text AS completion,
       length(prompt)::BIGINT AS prompt_chars
FROM ctx WHERE role = 'assistant'
"""


# ---------------------------------------------------------------------------
# training-data curation: decontamination, cluster reps, packing, sampling,
# repetition quality
# ---------------------------------------------------------------------------


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (doc_id % 17 != 0) flagged by
    shared word 4-grams with the held-out benchmark slice (doc_id % 17 == 0).
    Benchmark grams broadcast; corpus scanned once."""
    docs = _tbl(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 17 == 0)
    train = docs.where(F.col("doc_id") % 17 != 0)
    return D.ngram_contamination(train, bench, n=4)


SQL_DECONTAMINATE = """
WITH w AS (
  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), x -> lower(x)) AS ws
  FROM documents
), g0 AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(ws) - 3),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS grams
  FROM w WHERE len(ws) >= 4
), g AS (
  SELECT doc_id, unnest(grams) AS gram FROM g0
), bench AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 0
), shared AS (
  SELECT g.doc_id, count(*)::BIGINT AS shared_grams
  FROM g JOIN bench USING (gram)
  WHERE g.doc_id % 17 <> 0
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       coalesce(s.shared_grams, 0)::BIGINT AS shared_grams,
       coalesce(s.shared_grams, 0) > 0 AS contaminated
FROM documents d LEFT JOIN shared s USING (doc_id)
WHERE d.doc_id % 17 <> 0
"""


# Registry bloom parameters: m sized so false positives actually occur at
# sf scale WITHOUT saturating every doc (sf benchmark slice ~1.7k distinct
# grams -> ~6.7k probes -> ~19% load at 2^15 bits -> per-gram FP ~0.1%),
# proving the oracle replays the APPROXIMATE answer bit-for-bit, not just
# the exact-membership subset.
_BLOOM_M, _BLOOM_K = 1 << 15, 4


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant-memory variant of `decontaminate`: the benchmark slice is
    compressed to a Bloom filter (only distinct set-bit positions broadcast,
    bounded by m regardless of benchmark text size); every truly-shared
    gram still flags (no false negatives), position collisions add a
    deterministic, oracle-replayed false-positive rate."""
    docs = _tbl(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 17 == 0)
    train = docs.where(F.col("doc_id") % 17 != 0)
    return D.bloom_decontaminate(train, bench, m=_BLOOM_M, k=_BLOOM_K, n=4)


SQL_DECONTAMINATE_BLOOM = f"""
WITH w AS (
  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), x -> lower(x)) AS ws
  FROM documents
), g0 AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(ws) - 3),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS grams
  FROM w WHERE len(ws) >= 4
), g AS (
  SELECT doc_id, unnest(grams) AS gram FROM g0
), hp AS (
  SELECT doc_id, gram,
         h & {_BLOOM_M - 1} AS h1,
         ((h >> {_BLOOM_M.bit_length() - 1}) & {_BLOOM_M - 1}) | 1 AS h2
  FROM (SELECT doc_id, gram, ('0x'||substr(md5(gram),1,15))::BIGINT AS h FROM g)
), pos AS (
  SELECT doc_id, gram, (h1 + i.i * h2) & {_BLOOM_M - 1} AS pos
  FROM hp CROSS JOIN (SELECT unnest(range(0, {_BLOOM_K})) AS i) i
), bits AS (
  SELECT DISTINCT pos FROM pos WHERE doc_id % 17 = 0
), flag AS (
  SELECT doc_id, gram FROM (SELECT * FROM pos WHERE doc_id % 17 <> 0) tp
  JOIN bits USING (pos)
  GROUP BY doc_id, gram HAVING count(*) = {_BLOOM_K}
), hits AS (
  SELECT doc_id, count(*)::BIGINT AS bloom_hits FROM flag GROUP BY doc_id
), totals AS (
  SELECT doc_id, count(*)::BIGINT AS n_grams FROM g WHERE doc_id % 17 <> 0 GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(t.n_grams, 0)::BIGINT AS n_grams,
       coalesce(h.bloom_hits, 0)::BIGINT AS bloom_hits,
       coalesce(h.bloom_hits, 0) > 0 AS bloom_contaminated
FROM documents d
LEFT JOIN totals t USING (doc_id)
LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 17 <> 0
"""


def q_dedup_cluster_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One representative per near-dup cluster (max n_chars, tie lowest id)
    over the exact-Jaccard pair graph; singletons represent themselves."""
    docs = _tbl(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs)
    return D.cluster_representatives(docs, pairs, quality_col="n_chars")


SQL_DEDUP_CLUSTER_REP = f"""
WITH RECURSIVE {_JACCARD_CTES}, edges AS (
  SELECT doc_a AS a, doc_b AS b FROM jpairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM jpairs
), reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
), comps AS (
  SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
), labeled AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component, d.n_chars
  FROM documents d LEFT JOIN comps c USING (doc_id)
)
SELECT doc_id, component,
       row_number() OVER (PARTITION BY component
                          ORDER BY n_chars DESC, doc_id ASC) = 1 AS is_rep
FROM labeled
"""


def q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final dedup decision for every doc: keep unless it sits in a near-dup
    component and is not the component's min id (the keep-list a pipeline
    actually applies downstream of pair generation)."""
    docs = _tbl(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs)
    return D.dedup_keep_list(docs, pairs)


SQL_DEDUP_KEEP = f"""
WITH RECURSIVE {_JACCARD_CTES}, edges AS (
  SELECT doc_a AS a, doc_b AS b FROM jpairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM jpairs
), reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
), comps AS (
  SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
)
SELECT d.doc_id,
       (c.component IS NULL OR c.component = d.doc_id) AS keep
FROM documents d LEFT JOIN comps c USING (doc_id)
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy first-fit sequence packing (512-word bins, per-source shards,
    docs ordered by id) — sequential fold per shard inside applyInPandas,
    replayed exactly by the oracle's recursive CTE."""
    return pack_sequences(_tbl(spark, sf_dir, "documents"), capacity=512)


SQL_PACK_SEQUENCES = """
WITH RECURSIVE sized AS (
  SELECT doc_id::BIGINT AS doc_id, source AS shard,
         coalesce(len(regexp_extract_all(text, '[A-Za-z0-9]+')), 0)::BIGINT AS n_words,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
), st(shard, rn, doc_id, n_words, bin_id, bin_fill) AS (
  SELECT shard, rn, doc_id, n_words, 0::BIGINT, n_words FROM sized WHERE rn = 1
  UNION ALL
  SELECT s.shard, s.rn, s.doc_id, s.n_words,
         CASE WHEN st.bin_fill + s.n_words <= 512 THEN st.bin_id
              ELSE st.bin_id + 1 END,
         CASE WHEN st.bin_fill + s.n_words <= 512 THEN st.bin_fill + s.n_words
              ELSE s.n_words END
  FROM st JOIN sized s ON s.shard IS NOT DISTINCT FROM st.shard AND s.rn = st.rn + 1
)
SELECT doc_id, shard, n_words, bin_id, bin_fill FROM st
"""


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: exactly ceil(n/5) docs per lang,
    selected by smallest md5(id ':' text)."""
    return stratified_sample(
        _tbl(spark, sf_dir, "documents"), num=1, den=5, stratum_col="lang"
    )


SQL_SAMPLE_STRATIFIED = """
WITH ranked AS (
  SELECT doc_id, lang AS stratum,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(concat_ws(':', doc_id::VARCHAR, text)) ASC, doc_id ASC
         )::BIGINT AS sample_rank,
         count(*) OVER (PARTITION BY lang)::BIGINT AS stratum_n
  FROM documents
)
SELECT doc_id, stratum, sample_rank, stratum_n
FROM ranked
WHERE 5 * sample_rank <= stratum_n + 4
"""


# language-mixture weights for q_mix_corpus, parts-per-million; the budget
# is sized so en/de/zh need multiple epochs (quota > corpus: the scarce-
# domain up-sampling path), fr crosses 1 epoch, and es stays a partial
# single-epoch prefix — every branch of the operator exercised at sf0.01
MIX_WEIGHTS_PPM = {
    "en": 500_000,
    "de": 200_000,
    "zh": 150_000,
    "fr": 100_000,
    "es": 50_000,
}
MIX_BUDGET_TOKENS = 60_000


def q_mix_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture construction (Pile/DoReMi-style): cover each
    language's token quota (weight x budget) by md5-ordered greedy
    selection, repeating scarce domains for extra epochs.  One broadcast
    join + one domain-keyed shuffle + a bounded explode."""
    return mix_by_budget(
        _tbl(spark, sf_dir, "documents"),
        MIX_WEIGHTS_PPM,
        MIX_BUDGET_TOKENS,
        domain_col="lang",
    )


SQL_MIX_CORPUS = f"""
WITH w(domain, weight_ppm) AS (VALUES {", ".join(
    f"('{d}', {p}::BIGINT)" for d, p in sorted(MIX_WEIGHTS_PPM.items())
)}),
sized AS (
  SELECT d.doc_id::BIGINT AS doc_id, d.lang AS domain,
         coalesce(len(regexp_extract_all(coalesce(d.text,''),
                                         '[A-Za-z0-9]+')), 0)::BIGINT AS tokens,
         w.weight_ppm * {MIX_BUDGET_TOKENS // 1_000_000}::BIGINT
           + (w.weight_ppm * {MIX_BUDGET_TOKENS % 1_000_000}::BIGINT) // 1000000 AS quota,
         md5(concat_ws(':', d.doc_id::VARCHAR, d.text)) AS h
  FROM documents d JOIN w ON w.domain = d.lang
), staged AS (
  SELECT doc_id, domain, tokens, quota,
         sum(tokens) OVER (PARTITION BY domain ORDER BY h ASC, doc_id ASC
                           ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
         sum(tokens) OVER (PARTITION BY domain)::BIGINT AS domain_tokens
  FROM sized
), epochs AS (
  SELECT doc_id, domain, tokens,
         (quota // domain_tokens
          + CASE WHEN cum - tokens < quota - (quota // domain_tokens)
                                             * domain_tokens
                 THEN 1 ELSE 0 END)::BIGINT AS n_epochs
  FROM staged WHERE domain_tokens > 0
)
SELECT doc_id, domain, unnest(generate_series(1, n_epochs))::BIGINT AS epoch,
       tokens, n_epochs
FROM epochs WHERE n_epochs >= 1
"""


def q_mix_corpus_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window-free 100 TB shape of `mix_corpus` (hash-threshold
    remainder instead of the per-domain running-sum window) under the SAME
    weights/budget — oracle-checkable because every step is deterministic:
    the 60-bit md5 fraction and the remainder fraction are identical IEEE
    double arithmetic in both engines (md5 hex-parse equivalence
    established repo-wide)."""
    return mix_by_budget_threshold(
        _tbl(spark, sf_dir, "documents"),
        MIX_WEIGHTS_PPM,
        MIX_BUDGET_TOKENS,
        domain_col="lang",
    )


SQL_MIX_CORPUS_THRESHOLD = f"""
WITH w(domain, weight_ppm) AS (VALUES {", ".join(
    f"('{d}', {p}::BIGINT)" for d, p in sorted(MIX_WEIGHTS_PPM.items())
)}),
sized AS (
  SELECT d.doc_id::BIGINT AS doc_id, d.lang AS domain,
         coalesce(len(regexp_extract_all(coalesce(d.text,''),
                                         '[A-Za-z0-9]+')), 0)::BIGINT AS tokens,
         w.weight_ppm * {MIX_BUDGET_TOKENS // 1_000_000}::BIGINT
           + (w.weight_ppm * {MIX_BUDGET_TOKENS % 1_000_000}::BIGINT) // 1000000 AS quota,
         (('0x' || substr(md5(concat_ws(':', d.doc_id::VARCHAR, d.text)),
                          1, 15))::BIGINT)::DOUBLE
           / 1152921504606846976.0 AS h60
  FROM documents d JOIN w ON w.domain = d.lang
), tot AS (
  SELECT domain, sum(tokens)::BIGINT AS domain_tokens
  FROM sized GROUP BY domain HAVING sum(tokens) > 0
), epochs AS (
  SELECT s.doc_id, s.domain, s.tokens,
         (s.quota // t.domain_tokens
          + CASE WHEN s.h60 <
                   (s.quota - (s.quota // t.domain_tokens)
                              * t.domain_tokens)::DOUBLE
                   / t.domain_tokens::DOUBLE
                 THEN 1 ELSE 0 END)::BIGINT AS n_epochs
  FROM sized s JOIN tot t USING (domain)
)
SELECT doc_id, domain, unnest(generate_series(1, n_epochs))::BIGINT AS epoch,
       tokens, n_epochs
FROM epochs WHERE n_epochs >= 1
"""


def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate (Rae et al. 2021 §A1.1): fraction of all
    2-gram occurrences taken by the single most frequent 2-gram, and fraction
    of 3-gram occurrences belonging to grams that repeat.  Integer flag
    arithmetic (5*top2 <= n2: top-2-gram <= 20%; 2*dup3 <= n3: duplicated
    3-grams <= 50%) so the oracle matches bit-exactly.

    One explode + two groupBy stages per n, all keyed (doc_id[, gram]) with
    map-side partial aggregation — scales linearly in corpus size."""
    docs = ensure_parallelism(_tbl(spark, sf_dir, "documents"), "doc_id")

    def gram_stats(n: int, top: bool) -> DataFrame:
        grams = docs.select(
            "doc_id",
            F.explode(T.word_ngrams_all(F.col("text"), n)).alias("gram"),
        )
        per_gram = grams.groupBy("doc_id", "gram").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        if top:
            return per_gram.groupBy("doc_id").agg(
                F.max("cnt").alias(f"top{n}"),
                F.sum("cnt").alias(f"n{n}"),
            )
        return per_gram.groupBy("doc_id").agg(
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias(
                f"dup{n}"
            ),
            F.sum("cnt").alias(f"n{n}"),
        )

    two = gram_stats(2, top=True)
    three = gram_stats(3, top=False)
    base = docs.select("doc_id")
    joined = (
        base.join(two, "doc_id", "left")
        .join(three, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("top2"), F.lit(0)).alias("top2"),
            F.coalesce(F.col("n2"), F.lit(0)).alias("n2"),
            F.coalesce(F.col("dup3"), F.lit(0)).alias("dup3"),
            F.coalesce(F.col("n3"), F.lit(0)).alias("n3"),
        )
    )
    return (
        joined
        .select(
            "doc_id",
            F.col("top2").cast("long").alias("top2"),
            F.col("n2").cast("long").alias("n2"),
            F.col("dup3").cast("long").alias("dup3"),
            F.col("n3").cast("long").alias("n3"),
            (5 * F.col("top2") <= F.col("n2")).alias("top2_ok"),
            (2 * F.col("dup3") <= F.col("n3")).alias("dup3_ok"),
            (
                (5 * F.col("top2") <= F.col("n2"))
                & (2 * F.col("dup3") <= F.col("n3"))
            ).alias("keep"),
        )
    )


SQL_QUALITY_REPETITION = """
-- every doc is audited: docs too short for grams get zero counts (and thus
-- pass the repetition rules vacuously) instead of vanishing from the output
WITH w AS (
  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), x -> lower(x)) AS ws
  FROM documents
), g2 AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
                        i -> ws[i] || ' ' || ws[i+1])) AS gram
  FROM w WHERE len(ws) >= 2
), g3 AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 2),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
  FROM w WHERE len(ws) >= 3
), s2 AS (
  SELECT doc_id, max(cnt)::BIGINT AS top2, sum(cnt)::BIGINT AS n2
  FROM (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY 1, 2)
  GROUP BY doc_id
), s3 AS (
  SELECT doc_id,
         sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::BIGINT AS dup3,
         sum(cnt)::BIGINT AS n3
  FROM (SELECT doc_id, gram, count(*) AS cnt FROM g3 GROUP BY 1, 2)
  GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(top2, 0)::BIGINT AS top2, coalesce(n2, 0)::BIGINT AS n2,
       coalesce(dup3, 0)::BIGINT AS dup3, coalesce(n3, 0)::BIGINT AS n3,
       (5 * coalesce(top2, 0) <= coalesce(n2, 0)) AS top2_ok,
       (2 * coalesce(dup3, 0) <= coalesce(n3, 0)) AS dup3_ok,
       (5 * coalesce(top2, 0) <= coalesce(n2, 0)
        AND 2 * coalesce(dup3, 0) <= coalesce(n3, 0)) AS keep
FROM documents d LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id)
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics with EXACT discrete percentiles
    (value at rank ceil(q*n), integer rank arithmetic — engine-portable,
    unlike interpolated percentile_cont/approx variants).  One shuffle on
    the stratum key; the rank window rides the same partitioning."""
    sized = _tbl(spark, sf_dir, "documents").select(
        "lang",
        F.coalesce(T.word_count(F.col("text")), F.lit(0)).alias("wc"),
    )
    w = Window.partitionBy("lang").orderBy("wc")
    ranked = sized.select(
        "lang",
        "wc",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    return ranked.groupBy("lang").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.sum("wc").cast("long").alias("total_words"),
        F.max(
            F.when(F.col("rn") == F.floor((F.col("n") + 1) / 2), F.col("wc"))
        ).cast("long").alias("p50_words"),
        F.max(
            F.when(F.col("rn") == F.floor((9 * F.col("n") + 9) / 10), F.col("wc"))
        ).cast("long").alias("p90_words"),
        F.max("wc").cast("long").alias("max_words"),
    )


SQL_CORPUS_STATS = """
WITH sized AS (
  SELECT lang,
         coalesce(len(regexp_extract_all(text, '[A-Za-z0-9]+')), 0)::BIGINT AS wc
  FROM documents
), ranked AS (
  SELECT lang, wc,
         row_number() OVER (PARTITION BY lang ORDER BY wc) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM sized
)
SELECT lang,
       max(n)::BIGINT AS n_docs,
       sum(wc)::BIGINT AS total_words,
       max(CASE WHEN rn = (n + 1) // 2 THEN wc END)::BIGINT AS p50_words,
       max(CASE WHEN rn = (9 * n + 9) // 10 THEN wc END)::BIGINT AS p90_words,
       max(wc)::BIGINT AS max_words
FROM ranked GROUP BY lang
"""


def q_training_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE query — what actually runs before
    tokenization at 100 TB: hold out the benchmark slice, then per training
    doc audit every gate (exact-dedup canonical, language, Gopher quality,
    repetition, benchmark decontamination) and the final keep decision.

    Composes the already-oracle-checked operators; each stage is one shuffle
    (or map-only for the broadcast contamination join), all joined back on
    doc_id.  Emitting per-gate flags (not just survivors) is deliberate:
    curation pipelines need drop-reason audits."""
    docs = _tbl(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 17 != 0)
    base = train.select(
        "doc_id",
        (
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy(F.md5("text")))
        ).alias("canon_ok"),
        (T.predict_lang(F.col("text")) == "en").alias("lang_ok"),
    )
    gopher = q_quality_gopher(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("gopher_ok")
    )
    rep = q_quality_repetition(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("rep_ok")
    )
    decon = q_decontaminate(spark, sf_dir).select(
        "doc_id", (~F.col("contaminated")).alias("decon_ok")
    )
    out = (
        base.join(gopher, "doc_id")
        .join(rep, "doc_id")
        .join(decon, "doc_id")
    )
    return out.select(
        "doc_id",
        "canon_ok",
        "lang_ok",
        "gopher_ok",
        "rep_ok",
        "decon_ok",
        (
            F.col("canon_ok")
            & F.col("lang_ok")
            & F.col("gopher_ok")
            & F.col("rep_ok")
            & F.col("decon_ok")
        ).alias("keep"),
    )


SQL_TRAINING_PIPELINE_FULL = f"""
WITH train AS (
  SELECT * FROM documents WHERE doc_id % 17 <> 0
), canon AS (
  SELECT doc_id,
         doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS canon_ok
  FROM train
), lscores AS (
{_LANG_SCORE_SQL}
), lpred AS (
  SELECT doc_id, lang = 'en' AS lang_ok FROM (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
    FROM lscores) t WHERE rn = 1
), gm AS (
  SELECT doc_id,
         len(list_transform(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'), w -> lower(w)))::BIGINT AS n_words,
         length(regexp_replace(coalesce(text, ''), '[^A-Za-z0-9]+', '', 'g'))::BIGINT AS word_chars,
         len(regexp_extract_all(coalesce(text, ''), '[#$%^~]'))::BIGINT AS n_symbols,
         len(regexp_extract_all(coalesce(text, ''), '(?i)\\b(the|a|and|of|to|is|in)\\b'))::BIGINT AS n_stop
  FROM train
), gopher AS (
  SELECT doc_id,
         (n_words >= 50 AND n_words <= 100000
          AND word_chars >= 3 * n_words AND word_chars <= 10 * n_words
          AND 10 * n_symbols < n_words AND n_stop >= 2) AS gopher_ok
  FROM gm
), rw AS (
  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), x -> lower(x)) AS ws
  FROM train
), rg2 AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
                        i -> ws[i] || ' ' || ws[i+1])) AS gram
  FROM rw WHERE len(ws) >= 2
), rg3 AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 2),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
  FROM rw WHERE len(ws) >= 3
), rs2 AS (
  SELECT doc_id, max(cnt)::BIGINT AS top2, sum(cnt)::BIGINT AS n2
  FROM (SELECT doc_id, gram, count(*) AS cnt FROM rg2 GROUP BY 1, 2)
  GROUP BY doc_id
), rs3 AS (
  SELECT doc_id,
         sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::BIGINT AS dup3,
         sum(cnt)::BIGINT AS n3
  FROM (SELECT doc_id, gram, count(*) AS cnt FROM rg3 GROUP BY 1, 2)
  GROUP BY doc_id
), rep AS (
  SELECT t.doc_id,
         (5 * coalesce(top2, 0) <= coalesce(n2, 0)
          AND 2 * coalesce(dup3, 0) <= coalesce(n3, 0)) AS rep_ok
  FROM train t LEFT JOIN rs2 USING (doc_id) LEFT JOIN rs3 USING (doc_id)
), dw AS (
  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), x -> lower(x)) AS ws
  FROM documents
), dg0 AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(ws) - 3),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS grams
  FROM dw WHERE len(ws) >= 4
), dg AS (
  SELECT doc_id, unnest(grams) AS gram FROM dg0
), dbench AS (
  SELECT DISTINCT gram FROM dg WHERE doc_id % 17 = 0
), dshared AS (
  SELECT dg.doc_id, count(*)::BIGINT AS shared_grams
  FROM dg JOIN dbench USING (gram)
  WHERE dg.doc_id % 17 <> 0
  GROUP BY dg.doc_id
), decon AS (
  SELECT t.doc_id, coalesce(s.shared_grams, 0) = 0 AS decon_ok
  FROM train t LEFT JOIN dshared s USING (doc_id)
)
SELECT c.doc_id, c.canon_ok, l.lang_ok, g.gopher_ok, r.rep_ok, d.decon_ok,
       (c.canon_ok AND l.lang_ok AND g.gopher_ok AND r.rep_ok AND d.decon_ok) AS keep
FROM canon c
JOIN lpred l USING (doc_id)
JOIN gopher g USING (doc_id)
JOIN rep r USING (doc_id)
JOIN decon d USING (doc_id)
"""


# ---------------------------------------------------------------------------
# HTML main-content extraction (north-star "HTML boilerplate strip / DOM
# heuristics" — core/html.py)
# ---------------------------------------------------------------------------

# Deterministic chrome template wrapped around each document's text.  Every
# piece is boilerplate the extractor must drop — <head> (title/style/script),
# <nav> and <footer> by tag, the sidebar by class token, the sidebar's link
# list redundantly by link density — while the <article> content (heading +
# escaped body) must round-trip exactly.  The SAME literal fragments are
# formatted into both the Spark expression and the DuckDB oracle, so the
# gate checks the Python DOM extractor against an independent SQL derivation
# of the expected output.
_HTML_PRE1 = "<html><head><title>Doc "
_HTML_PRE2 = (
    '</title><style>body{margin:0}</style><script>var n=1;</script></head>'
    '<body><nav class="top-nav"><a href="/">Home</a><a href="/about">About'
    '</a><a href="/contact">Contact</a></nav><div class="sidebar widget">'
    '<ul><li><a href="/p1">Related one</a></li><li><a href="/p2">Related '
    'two</a></li></ul></div><article><h1>Doc '
)
_HTML_PRE3 = "</h1><p>"
_HTML_POST = (
    '</p></article><footer class="site-footer">Copyright 2026 Example Corp '
    '<a href="/privacy">Privacy policy</a></footer></body></html>'
)
# shared Spark-SQL / DuckDB expression: both engines accept concat(),
# replace(), and the cast spelled per dialect
_HTML_ESC = (
    "replace(replace(replace(coalesce(text, ''),"
    " '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
)


def _html_doc_expr(id_cast: str) -> str:
    return (
        f"concat('{_HTML_PRE1}', {id_cast}, '{_HTML_PRE2}', {id_cast}, "
        f"'{_HTML_PRE3}', {_HTML_ESC}, '{_HTML_POST}')"
    )


def _html_pages(docs: DataFrame) -> DataFrame:
    """(doc_id long, html): each document's text in the chrome template."""
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(_html_doc_expr("cast(doc_id as string)")).alias("html"),
    )


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip gate for the DOM boilerplate stripper: wrap each
    document's text in the chrome template (JVM-side concat), extract main
    content in the Arrow batch stage, and emit (heading, body_text,
    n_blocks).  The oracle derives the expected output straight from the
    raw text — so every dropped nav/sidebar/footer/head fragment and the
    exact whitespace-normalized round-trip are value-checked."""
    docs = ensure_parallelism(_tbl(spark, sf_dir, "documents"), "doc_id")
    return extract_main_content(_html_pages(docs))


SQL_HTML_EXTRACT = r"""
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(coalesce(text, ''), '[ \t\n\r\f]+', ' ', 'g'), ' ') AS body
  FROM documents
)
SELECT doc_id::BIGINT AS doc_id,
       'Doc ' || doc_id::VARCHAR AS heading,
       body AS body_text,
       (CASE WHEN body = '' THEN 1 ELSE 2 END)::BIGINT AS n_blocks
FROM n
"""


def q_html_boilerplate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side HTML link/tag metrics over the same constructed pages — the
    cheap codegen pre-filter a 100 TB pipeline runs BEFORE the Python DOM
    stage (route link-dense or text-empty pages away from the expensive
    extractor).  Pure pyspark.sql.functions; the oracle runs the identical
    regexes in DuckDB."""
    m = _html_pages(_tbl(spark, sf_dir, "documents")).select(
        "doc_id",
        F.expr(
            "cast(size(regexp_extract_all(html, '<a [^>]*>', 0)) as long)"
        ).alias("n_links"),
        F.expr(
            "cast(length(array_join("
            "regexp_extract_all(html, '<a [^>]*>([^<]*)</a>', 1), '')) as long)"
        ).alias("link_text_chars"),
        F.expr(
            "cast(length(regexp_replace(html, '<[^>]+>', '')) as long)"
        ).alias("text_chars"),
    )
    return m.withColumn(
        "link_density_pm",
        F.expr(
            "cast(link_text_chars * 1000 div greatest(text_chars, 1) as long)"
        ),
    )


SQL_HTML_BOILERPLATE_STATS = f"""
WITH h AS (
  SELECT doc_id, {_html_doc_expr("doc_id::VARCHAR")} AS html FROM documents
), m AS (
  SELECT doc_id::BIGINT AS doc_id,
         len(regexp_extract_all(html, '<a [^>]*>'))::BIGINT AS n_links,
         length(array_to_string(
           regexp_extract_all(html, '<a [^>]*>([^<]*)</a>', 1), ''))::BIGINT
           AS link_text_chars,
         length(regexp_replace(html, '<[^>]+>', '', 'g'))::BIGINT AS text_chars
  FROM h
)
SELECT doc_id, n_links, link_text_chars, text_chars,
       (link_text_chars * 1000 // greatest(text_chars, 1))::BIGINT
         AS link_density_pm
FROM m
"""


# corpus-level boilerplate lines: the synthetic documents are single-line,
# so the registry query injects two deterministic chrome lines around every
# text (same honest pattern as the HTML template) — the op must drop exactly
# the corpus-repeated lines and reassemble the rest in order.
_BOILER_LINE_TOP = "Subscribe to our newsletter today"
_BOILER_LINE_BOT = "Copyright 2026 Example Corp All rights reserved"


def q_parse_html_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full node pipeline over HTML turns (rows-only, like the other
    parse-pipeline queries: the greedy per-turn transforms are not
    SQL-expressible — semantics are pinned by tests/test_html_extract.py).
    Documents are wrapped in the chrome template and mapped into the
    transcript shape, so the driver exercises HTML dispatch -> DOM strip ->
    synthetic-page layout -> P* transforms end-to-end on its own data."""
    docs = _tbl(spark, sf_dir, "documents")
    wrapped = docs.select(
        "doc_id",
        F.expr(_html_doc_expr("cast(doc_id as string)")).alias("text"),
    )
    return parse_transcripts(
        documents_as_transcripts(wrapped),
        output_columns=["conv_id", "turn_idx", "node_idx", "text", "tokens"],
    )


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style line-level boilerplate removal, gate form:
    every document gets the same two injected chrome lines (corpus df =
    n_docs >= min_df -> dropped) around its own content line (df usually 1
    -> kept; exact-duplicate documents share their content line's df, and
    the oracle computes the same df, so they agree either way)."""
    docs = _tbl(spark, sf_dir, "documents")
    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.lit(_BOILER_LINE_TOP + "\n"),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("\n" + _BOILER_LINE_BOT),
        ).alias("text"),
    )
    return D.remove_boilerplate_lines(wrapped, min_df=3, min_chars=5).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "clean_text",
        "n_lines_kept",
        "n_lines_dropped",
    )


SQL_BOILERPLATE_LINES = f"""
WITH src AS (
  SELECT doc_id,
         '{_BOILER_LINE_TOP}' || chr(10) || coalesce(text, '') || chr(10) ||
         '{_BOILER_LINE_BOT}' AS mtext
  FROM documents
), p AS (
  SELECT doc_id, string_split(mtext, chr(10)) AS parts FROM src
), l AS (
  SELECT doc_id, u.i AS pos, p.parts[u.i] AS line,
         trim(p.parts[u.i], ' ') AS nline
  FROM p, unnest(generate_series(1, len(p.parts))) AS u(i)
), flagged AS (
  SELECT nline FROM l WHERE length(nline) >= 5
  GROUP BY nline HAVING count(DISTINCT doc_id) >= 3
), kept AS (
  SELECT doc_id, pos, line FROM l
  WHERE trim(line, ' ') NOT IN (SELECT nline FROM flagged)
), rebuilt AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
), totals AS (
  SELECT doc_id, count(*) AS n_total FROM l GROUP BY doc_id
)
SELECT t.doc_id::BIGINT AS doc_id,
       coalesce(r.clean_text, '') AS clean_text,
       coalesce(r.n_kept, 0)::BIGINT AS n_lines_kept,
       (t.n_total - coalesce(r.n_kept, 0))::BIGINT AS n_lines_dropped
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
"""


def q_html_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block variant of the round-trip gate: one row per kept content
    block in document order — the chunking-granularity surface.  The oracle
    predicts the exact block sequence from the raw text (heading always at
    block 0, body paragraph at block 1 iff non-empty)."""
    return extract_blocks(_html_pages(_tbl(spark, sf_dir, "documents")))


SQL_HTML_BLOCKS = r"""
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(coalesce(text, ''), '[ \t\n\r\f]+', ' ', 'g'), ' ') AS body
  FROM documents
)
SELECT doc_id::BIGINT AS doc_id, 0::BIGINT AS block_idx,
       'heading' AS kind, 'Doc ' || doc_id::VARCHAR AS text, 1::BIGINT AS level
FROM n
UNION ALL
SELECT doc_id::BIGINT, 1::BIGINT, 'text', body, 0::BIGINT
FROM n WHERE body <> ''
"""


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear quality classifier (the fastText/logistic
    shape web-scale curation pipelines deploy): one JVM pass summing
    integer weights over md5-bucketed words — no shuffle, no Python, and
    the weights are embedded in the oracle so every score is value-checked
    (same pattern as the LSH planes)."""
    docs = _tbl(spark, sf_dir, "documents")
    score = T.linear_quality_score(F.coalesce(F.col("text"), F.lit("")))
    return docs.select(
        "doc_id",
        score.alias("quality_score"),
        (score >= 0).alias("keep"),
    )


_CLF_W = ", ".join(str(v) for v in T.classifier_weights())

SQL_QUALITY_CLASSIFIER = f"""
WITH wt AS (SELECT [{_CLF_W}]::BIGINT[] AS w)
SELECT doc_id,
       coalesce(list_sum(list_transform(
         list_transform(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'),
                        x -> lower(x)),
         t -> w[1 + (('0x' || substr(md5(t), 1, 15))::BIGINT % 64)::INT]
       )), 0)::BIGINT AS quality_score,
       coalesce(list_sum(list_transform(
         list_transform(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'),
                        x -> lower(x)),
         t -> w[1 + (('0x' || substr(md5(t), 1, 15))::BIGINT % 64)::INT]
       )), 0) >= 0 AS keep
FROM documents, wt
"""


def q_quality_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram LM quality score (Wenzek et al. 2019): train an
    integer stupid-backoff bigram model on the deterministic half-split
    ``doc_id % 2 = 0`` and score EVERY document's mean next-word probability
    in ppm — the perplexity-filter shape, kept in exact integer arithmetic
    so the oracle replays train + score end to end (the held-out half
    genuinely exercises the backoff branch), then bucket into CCNet's
    head/middle/tail score terciles (tail dropped).  See operators/lm.py
    for the 100 TB plan-shape notes (Zipf-key skew handled by AQE; model
    side one row per key).  ``cutoffs="window"`` is pinned HERE because the
    DuckDB oracle replays exact row_number rank-tercile semantics; the
    operator's default is the scale path (``"histogram"`` — broadcast
    cutoffs, no global sort)."""
    return lm_score(_tbl(spark, sf_dir, "documents"), cutoffs="window")


SQL_QUALITY_LM = """
WITH w AS (
  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), x -> lower(x)) AS ws
  FROM documents
), idx AS (
  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
  FROM w WHERE len(ws) >= 2
), pairs AS (
  SELECT doc_id, ws[i] AS prev, ws[i + 1] AS cur FROM idx
), uni AS (
  SELECT word, count(*)::BIGINT AS uni_cnt
  FROM (SELECT unnest(ws) AS word FROM w WHERE doc_id % 2 = 0)
  GROUP BY 1
), bi AS (
  SELECT prev, cur, count(*)::BIGINT AS bi_cnt
  FROM pairs WHERE doc_id % 2 = 0 GROUP BY 1, 2
), tot AS (
  SELECT coalesce(sum(uni_cnt), 0)::BIGINT AS total FROM uni
), occ AS (
  SELECT doc_id, prev, cur, count(*)::BIGINT AS occ FROM pairs GROUP BY 1, 2, 3
), sc AS (
  SELECT occ.doc_id, occ.occ, bi.bi_cnt,
         CASE WHEN bi.bi_cnt IS NOT NULL
              THEN (bi.bi_cnt * 1000000) // up.uni_cnt
              ELSE CASE WHEN total = 0 THEN NULL
                   ELSE (4 * ((coalesce(uc.uni_cnt, 0) * 1000000) // total)) // 10 END
         END AS p_ppm
  FROM occ
  LEFT JOIN bi ON occ.prev = bi.prev AND occ.cur = bi.cur
  LEFT JOIN uni up ON occ.prev = up.word
  LEFT JOIN uni uc ON occ.cur = uc.word
  CROSS JOIN tot
), pd AS (
  SELECT doc_id, sum(occ)::BIGINT AS n_bigrams,
         sum(CASE WHEN bi_cnt IS NULL THEN occ ELSE 0 END)::BIGINT AS oov_bigrams,
         sum(p_ppm * occ)::BIGINT AS p_sum
  FROM sc GROUP BY 1
)
, scored AS (
  SELECT d.doc_id,
         coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
         coalesce(oov_bigrams, 0)::BIGINT AS oov_bigrams,
         coalesce(p_sum // n_bigrams, 0)::BIGINT AS lm_score_ppm
  FROM documents d LEFT JOIN pd USING (doc_id)
), ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY lm_score_ppm DESC, doc_id ASC) AS rank,
         count(*) OVER () AS n_docs
  FROM scored
)
SELECT doc_id, n_bigrams, oov_bigrams, lm_score_ppm,
       CASE WHEN 3 * rank <= n_docs THEN 'head'
            WHEN 3 * rank <= 2 * n_docs THEN 'middle'
            ELSE 'tail' END AS bucket,
       (3 * rank <= 2 * n_docs) AS keep
FROM ranked
"""


def q_quality_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cleaning (Raffel et al. 2020 §2.2), line gates + page gates,
    all JVM regex so the oracle replays it exactly:

    - a line is KEPT iff it ends in terminal punctuation (``. ! ? "`` with
      optional trailing spaces), has >= 3 ASCII words, and does not mention
      javascript (the published line rules);
    - the page is KEPT iff it retains >= 5 lines (the paper's "fewer than 5
      sentences" gate, counted on retained lines), contains no "lorem ipsum"
      and no ``{`` (both case-insensitive page rules).

    Emits the cleaned text (kept lines rejoined) plus per-gate flags so the
    value hash pins the whole line filter, not just the counts.  Map-only:
    one JVM pass per document, no shuffle, no Python."""
    docs = _tbl(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    lines = F.split(t, "\n")
    kept = F.filter(
        lines,
        # \z (absolute end) not $: Java's $ also matches before a trailing
        # \r, RE2's does not — \z is end-of-input in both engines
        lambda l: l.rlike('[.!?"] *\\z')
        & (F.regexp_count(l, F.lit("[A-Za-z0-9]+")) >= F.lit(3))
        & ~l.rlike("(?i)javascript"),
    )
    has_lorem = t.rlike("(?i)lorem ipsum")
    has_brace = t.contains("{")
    return docs.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        F.array_join(kept, "\n").alias("cleaned_text"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        ((F.size(kept) >= 5) & ~has_lorem & ~has_brace).alias("keep"),
    )


SQL_QUALITY_C4 = r"""
WITH k AS (
  SELECT doc_id,
         coalesce(text, '') AS t,
         string_split(coalesce(text, ''), chr(10)) AS lines,
         list_filter(string_split(coalesce(text, ''), chr(10)), l ->
           regexp_matches(l, '[.!?"] *\z')
           AND len(regexp_extract_all(l, '[A-Za-z0-9]+')) >= 3
           AND NOT regexp_matches(l, '(?i)javascript')) AS kept
  FROM documents
)
SELECT doc_id,
       len(lines)::BIGINT AS n_lines,
       len(kept)::BIGINT AS n_kept_lines,
       coalesce(array_to_string(kept, chr(10)), '') AS cleaned_text,
       regexp_matches(t, '(?i)lorem ipsum') AS has_lorem,
       contains(t, '{') AS has_brace,
       (len(kept) >= 5
        AND NOT regexp_matches(t, '(?i)lorem ipsum')
        AND NOT contains(t, '{')) AS keep
FROM k
"""


def q_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval leg for RAG serving: integer BM25 top-5 per mined
    two-term query (see operators/search.py for the exact-rational k1/b
    derivation, the log-free idf proxy, and the 100 TB plan shape —
    broadcast query terms + per-query-partition window, no global sort).
    Queries are mined deterministically from the corpus (terms with df
    closest to n_docs/2), so the gate bites on any corpus."""
    return bm25_topk(_tbl(spark, sf_dir, "documents"))


SQL_SEARCH_BM25 = """
WITH w AS (
  SELECT doc_id, list_transform(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'), x -> lower(x)) AS ws
  FROM documents
), dl AS (
  SELECT doc_id, len(ws)::BIGINT AS dl FROM w
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(ws) AS term FROM w) GROUP BY 1, 2
), dft AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
), stats AS (
  SELECT count(*)::BIGINT AS n_docs, coalesce(sum(dl), 0)::BIGINT AS total_words FROM dl
), picked AS (
  SELECT term, df,
         (row_number() OVER (ORDER BY abs(2 * df - n_docs) ASC, term ASC) - 1) // 2 AS query_id
  FROM dft, stats
  ORDER BY abs(2 * df - n_docs) ASC, term ASC
  LIMIT 10
), qterms AS (
  SELECT query_id, term,
         least(((n_docs - df) * 1000000) // (df + 1), 1000000000) AS idf_ppm
  FROM picked, stats
), qnames AS (
  SELECT query_id, array_to_string(list_sort(list(term)), ' ') AS terms
  FROM qterms GROUP BY 1
), sc AS (
  SELECT q.query_id, tf.doc_id,
         sum((q.idf_ppm * ((1000000 * 44 * a.avgdl * tf.tf)
             // (20 * a.avgdl * tf.tf + 6 * a.avgdl + 18 * dl.dl))) // 1000000)::BIGINT AS score
  FROM tf
  JOIN qterms q USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN (SELECT total_words // n_docs AS avgdl FROM stats) a
  GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT query_id, terms, doc_id, score, rank
FROM ranked JOIN qnames USING (query_id)
WHERE rank <= 5
"""


def q_search_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF hybrid retrieval: the BM25 lexical leg fused with an embedding
    leg seeded by pseudo-relevance feedback (each query's rank-1 BM25 doc's
    embedding), rrf_ppm = sum(1e6 DIV (60 + rank)).  See
    operators/search.py:hybrid_rrf."""
    return hybrid_rrf(
        _tbl(spark, sf_dir, "documents"), _tbl(spark, sf_dir, "embeddings")
    )


SQL_SEARCH_HYBRID = """
WITH w AS (
  SELECT doc_id, list_transform(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'), x -> lower(x)) AS ws
  FROM documents
), dl AS (
  SELECT doc_id, len(ws)::BIGINT AS dl FROM w
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(ws) AS term FROM w) GROUP BY 1, 2
), dft AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
), stats AS (
  SELECT count(*)::BIGINT AS n_docs, coalesce(sum(dl), 0)::BIGINT AS total_words FROM dl
), picked AS (
  SELECT term, df,
         (row_number() OVER (ORDER BY abs(2 * df - n_docs) ASC, term ASC) - 1) // 2 AS query_id
  FROM dft, stats
  ORDER BY abs(2 * df - n_docs) ASC, term ASC
  LIMIT 10
), qterms AS (
  SELECT query_id, term,
         least(((n_docs - df) * 1000000) // (df + 1), 1000000000) AS idf_ppm
  FROM picked, stats
), sc AS (
  SELECT q.query_id, tf.doc_id,
         sum((q.idf_ppm * ((1000000 * 44 * a.avgdl * tf.tf)
             // (20 * a.avgdl * tf.tf + 6 * a.avgdl + 18 * dl.dl))) // 1000000)::BIGINT AS score
  FROM tf
  JOIN qterms q USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN (SELECT total_words // n_docs AS avgdl FROM stats) a
  GROUP BY 1, 2
), lex AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank_lex
  FROM sc
  QUALIFY rank_lex <= 20
), seeds AS (
  SELECT query_id, doc_id AS seed_id FROM lex WHERE rank_lex = 1
), pseudo AS (
  -- zero-norm seeds have no cosine direction: such a query fuses from the
  -- lexical leg alone (mirrors the operator's norm(qv) > 0 / norm(cv) > 0)
  SELECT s.query_id, s.seed_id, e.embedding::DOUBLE[] AS qv
  FROM seeds s JOIN embeddings e ON e.vec_id = s.seed_id
  WHERE list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0
), vecsim AS (
  SELECT p.query_id, c.vec_id AS doc_id,
         list_dot_product(p.qv, c.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(p.qv, p.qv)) *
          sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS sim
  FROM pseudo p, embeddings c
  WHERE c.vec_id <> p.seed_id
    AND list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) > 0
), vec AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id ASC) AS rank_vec
  FROM vecsim
  QUALIFY rank_vec <= 20
), fused AS (
  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         coalesce(l.doc_id, v.doc_id) AS doc_id,
         coalesce(l.rank_lex, 0)::BIGINT AS rank_lex,
         coalesce(v.rank_vec, 0)::BIGINT AS rank_vec,
         (coalesce(1000000 // (60 + l.rank_lex), 0)
          + coalesce(1000000 // (60 + v.rank_vec), 0))::BIGINT AS rrf_ppm
  FROM lex l FULL OUTER JOIN vec v
    ON l.query_id = v.query_id AND l.doc_id = v.doc_id
)
SELECT query_id, doc_id, rank_lex, rank_vec, rrf_ppm,
       rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_ppm DESC, doc_id ASC) AS rank
  FROM fused
) WHERE rank <= 5
"""


# User-supplied retrieval queries (r4 VERDICT "What's missing" #6): fixed
# deterministic strings over the synthetic corpus's closed vocabulary, ONE
# source of truth for both engines — the Spark query passes the list to
# ``bm25_topk(queries=...)`` and the oracle's VALUES rows are generated from
# the same list with the same tokenizer.  The set exercises multi-term
# matches, a repeated token (collapses: term sets are distinct), a partially
# OOV query (the OOV term scores nothing) and a fully OOV query (no rows).
_USER_QUERIES = [
    "fast hash join",
    "slow table scan",
    "vector window",
    "spark query zzzunknownterm",
    "zzznope qqqabsent",
]


def q_search_bm25_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 with USER query strings (bypassing the df-midpoint mining):
    the serving shape a retrieval user actually calls —
    ``bm25_topk(docs, queries=[...])``.  Same integer chain as
    ``search_bm25``; query terms come from the fixed ``_USER_QUERIES``
    list, idf for corpus-absent terms degrades to the capped df=0 form and
    such terms simply match nothing."""
    return bm25_topk(_tbl(spark, sf_dir, "documents"), queries=_USER_QUERIES)


def _user_queries_sql() -> str:
    """The ``search_bm25_user`` oracle: the BM25 chain with qterms built
    from the SAME ``_USER_QUERIES`` list (tokenized identically — distinct
    lowercased [A-Za-z0-9]+ runs per query)."""
    rows = []
    for qid, q in enumerate(_USER_QUERIES):
        for term in sorted({w.lower() for w in re.findall(r"[A-Za-z0-9]+", q)}):
            rows.append(f"({qid}, '{term}')")
    values = ",\n        ".join(rows)
    return f"""
WITH w AS (
  SELECT doc_id, list_transform(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'), x -> lower(x)) AS ws
  FROM documents
), dl AS (
  SELECT doc_id, len(ws)::BIGINT AS dl FROM w
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(ws) AS term FROM w) GROUP BY 1, 2
), dft AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
), stats AS (
  SELECT count(*)::BIGINT AS n_docs, coalesce(sum(dl), 0)::BIGINT AS total_words FROM dl
), uq(query_id, term) AS (
  VALUES {values}
), qterms AS (
  SELECT query_id::BIGINT AS query_id, uq.term,
         least(((n_docs - coalesce(df, 0)) * 1000000) // (coalesce(df, 0) + 1),
               1000000000) AS idf_ppm
  FROM uq LEFT JOIN dft ON dft.term = uq.term, stats
), qnames AS (
  SELECT query_id, array_to_string(list_sort(list(term)), ' ') AS terms
  FROM qterms GROUP BY 1
), sc AS (
  SELECT q.query_id, tf.doc_id,
         sum((q.idf_ppm * ((1000000 * 44 * a.avgdl * tf.tf)
             // (20 * a.avgdl * tf.tf + 6 * a.avgdl + 18 * dl.dl))) // 1000000)::BIGINT AS score
  FROM tf
  JOIN qterms q ON q.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN (SELECT total_words // n_docs AS avgdl FROM stats) a
  GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT query_id, terms, doc_id, score, rank
FROM ranked JOIN qnames USING (query_id)
WHERE rank <= 5
"""


SQL_SEARCH_BM25_USER = _user_queries_sql()


# ---------------------------------------------------------------------------
# registry: every q_<name> above, in definition order, with SQL_<NAME> as
# its oracle when that constant exists (else rows-only)
# ---------------------------------------------------------------------------

REGISTRY: Dict[str, Tuple[QueryFn, Optional[str]]] = {
    name[2:]: (fn, globals().get("SQL_" + name[2:].upper()))
    for name, fn in list(globals().items())
    if name.startswith("q_")
}


# ---------------------------------------------------------------------------
# Correctness window.
#
# The CORRECTNESS_r{N}.json snapshot records at most 50 queries, in
# ``queries()`` iteration order, so which 50 is a decision that
# ``CORRECTNESS_WINDOW`` pins.  Policy (COVERAGE.md "Correctness-window
# policy"):
#
# - every operator family keeps >= 1 hash-checked representative in-window;
# - rows-only entries whose content is hash-checked elsewhere leave the
#   window first (parse_metrics -> parse_metrics_check, export_relations ->
#   export_relations_check, conversation_assembly ->
#   conv_transcript_assembly, ...), keeping ``parse_flagship`` as the one
#   rows-only flagship the snapshot smoke-checks;
# - P-step op_* micro-analogs leave next (their real implementations are
#   pinned by byte goldens + the independent reference differential;
#   op_spatial_anti_join and op_lead_neighbor stay as the two SQL-checked
#   transform representatives);
# - redundant same-family stats variants leave last;
# - rotations are staggered: a pinned query leaves only one round after its
#   replacement was admitted, so every replacement pair coexists in at
#   least one pinned snapshot.
#
# Out-of-window queries remain fully registered and green: the local gate
# (`tools/check_oracles.py`) covers them; only the snapshot omits them.
CORRECTNESS_WINDOW = [
    # flagship (rows-only by design: greedy parse)
    "parse_flagship",
    # metrics invariant twins
    "parse_metrics_check",
    "eval_metrics_check",
    # transform analogs (2 representatives per policy)
    "op_spatial_anti_join",
    "op_lead_neighbor",
    # dedup
    "dedup_exact",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_components",
    "dedup_cluster_rep",
    "dup_spans",
    "neardup_jaccard",
    "decontaminate",
    "decontaminate_bloom",
    "boilerplate_lines",
    # graph
    "domain_pagerank",
    # similarity / ANN
    "ann_cosine_topk",
    "ann_lsh",
    "ann_ivf",
    "ann_recall",
    "ann_pq",
    "neardup_cosine",
    # chunking / RAG
    "doc_chunks",
    "chunk_merge",
    "rag_index",
    # text analysis / curation
    "quality_lm",
    "lang_id",
    "pii_scrub",
    "tfidf_top_terms",
    "url_domains",
    "quality_gopher",
    "quality_repetition",
    "quality_classifier",
    "training_samples",
    "training_corpus_clean",
    "training_pipeline_full",
    "doc_split",
    "pack_sequences",
    "sample_stratified",
    # events
    "events_hourly",
    "events_sessionize",
    "events_asof_join",
    # conversations
    "conv_transcript_assembly",
    "conv_dedup",
    "export_relations_check",
    # search / retrieval
    "search_bm25",
    # multimodal
    "multimodal_features",
    "multimodal_meta",
    # html
    "html_extract",
    "html_blocks",
]
assert len(CORRECTNESS_WINDOW) == 50, len(CORRECTNESS_WINDOW)


def _window_ordered(names):
    in_window = [n for n in CORRECTNESS_WINDOW if n in names]
    rest = [n for n in names if n not in set(CORRECTNESS_WINDOW)]
    return in_window + rest


def queries() -> Dict[str, QueryFn]:
    return {name: REGISTRY[name][0] for name in _window_ordered(list(REGISTRY))}


def oracle_sql() -> Dict[str, str]:
    return {
        name: REGISTRY[name][1]
        for name in _window_ordered(list(REGISTRY))
        if REGISTRY[name][1] is not None
    }
