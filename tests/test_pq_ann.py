"""Product-quantization ANN: independent numpy replay of the declared
train/encode/score chain, structural invariants, and validation.  The
sf0.01 oracle gate covers the registry query (`ann_pq`)."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from open_parse_spark.operators.pq import pq_codebooks_quantized, pq_topk_quantized

SCALE = 1_000_000


def _md5_long(i):
    return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)


def _replay(vecs, qids, k, n_sub, n_codes, iters):
    """Plain-numpy replay of the documented fixed-point PQ recurrence."""
    ids = sorted(vecs)
    dim = len(next(iter(vecs.values())))
    sub = dim // n_sub
    vq = {i: [int(np.floor(x * SCALE + 0.5)) for x in vecs[i]] for i in ids}

    def sl(v, s):
        return v[s * sub : (s + 1) * sub]

    seed = sorted(ids, key=_md5_long)[:n_codes]
    books = {
        s: {c + 1: sl(vq[seed[c]], s) for c in range(n_codes)}
        for s in range(n_sub)
    }
    for _ in range(iters):
        assign = {}
        for i in ids:
            for s in range(n_sub):
                best = min(
                    books[s].items(),
                    key=lambda kv: (
                        sum((a - b) ** 2 for a, b in zip(sl(vq[i], s), kv[1])),
                        kv[0],
                    ),
                )[0]
                assign.setdefault((s, best), []).append(sl(vq[i], s))
        books = {
            s: {
                c: [
                    int(np.floor(sum(col) / len(members) + 0.5))
                    for col in zip(*members)
                ]
                for (ss, c), members in assign.items()
                if ss == s
            }
            for s in range(n_sub)
        }
    codes = {
        i: [
            min(
                books[s].items(),
                key=lambda kv: (
                    sum((a - b) ** 2 for a, b in zip(sl(vq[i], s), kv[1])),
                    kv[0],
                ),
            )[0]
            for s in range(n_sub)
        ]
        for i in ids
    }
    out = []
    for q in qids:
        scored = []
        for i in ids:
            if i == q:
                continue
            adist = sum(
                sum((a - b) ** 2 for a, b in zip(sl(vq[q], s), books[s][codes[i][s]]))
                for s in range(n_sub)
            )
            scored.append((adist, i))
        for rank, (adist, i) in enumerate(sorted(scored)[:k], 1):
            out.append((q, i, rank, adist))
    return sorted(out)


def _emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )


def test_pq_matches_independent_replay(spark):
    rng = np.random.default_rng(7)
    vecs = {i: rng.normal(0, 0.2, 8).round(3) for i in range(30)}
    df = _emb_df(spark, vecs)
    got = sorted(
        tuple(r)
        for r in pq_topk_quantized(
            df, df.where(F.col("vec_id") < 3), k=4, n_sub=2, n_codes=4, iters=2
        ).collect()
    )
    want = _replay(vecs, qids=[0, 1, 2], k=4, n_sub=2, n_codes=4, iters=2)
    assert got == want


def test_pq_partitioning_invariant(spark):
    rng = np.random.default_rng(11)
    vecs = {i: rng.normal(0, 0.2, 8).round(3) for i in range(40)}
    a = _emb_df(spark, vecs).repartition(1)
    b = _emb_df(spark, vecs).repartition(7)
    ra = sorted(tuple(r) for r in pq_topk_quantized(a, a.where("vec_id < 3"), k=3, n_sub=2, n_codes=4).collect())
    rb = sorted(tuple(r) for r in pq_topk_quantized(b, b.where("vec_id < 3"), k=3, n_sub=2, n_codes=4).collect())
    assert ra == rb


def test_pq_codebook_shape_and_validation(spark):
    rng = np.random.default_rng(3)
    vecs = {i: rng.normal(0, 0.2, 8) for i in range(20)}
    df = _emb_df(spark, vecs)
    cb = pq_codebooks_quantized(df, n_sub=4, n_codes=4, iters=1).collect()
    assert {(r["s"]) for r in cb} == {1, 2, 3, 4}
    assert all(len(r["cq"]) == 2 for r in cb)
    assert len(cb) <= 16  # empty clusters may drop, never grow
    with pytest.raises(ValueError):
        pq_codebooks_quantized(df, n_sub=3)  # 8 % 3 != 0


def test_pq_rejects_query_dim_mismatch(spark):
    rng = np.random.default_rng(5)
    emb = _emb_df(spark, {i: rng.normal(0, 0.2, 8) for i in range(10)})
    q32 = _emb_df(spark, {0: rng.normal(0, 0.2, 4)})
    with pytest.raises(ValueError, match="query dim"):
        pq_topk_quantized(emb, q32, n_sub=2)


def test_pq_topk_rejects_dim_not_divisible_by_n_sub(spark):
    # with sub = dim // n_sub the trailing components would be ignored
    rng = np.random.default_rng(9)
    emb = _emb_df(spark, {i: rng.normal(0, 0.2, 8) for i in range(10)})
    with pytest.raises(ValueError, match="not divisible"):
        pq_topk_quantized(emb, emb.where("vec_id < 2"), n_sub=3, n_codes=4)
