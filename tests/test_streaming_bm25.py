"""Streaming twin for the lexical index: incrementally maintained postings
must serve the IDENTICAL BM25 ranking as the batch operator over the same
accumulated corpus — the stream-vs-batch equality contract every other
streaming twin in this repo pins.
"""

import os

import duckdb

from open_parse_spark.operators.search import bm25_topk
from open_parse_spark.streaming.jobs import (
    serve_bm25_from_dir,
    streaming_bm25_postings,
)


def test_stream_built_index_equals_batch(spark, tmp_path):
    src = str(tmp_path / "docs")
    out = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    # three arrival waves -> three micro-batches (maxFilesPerTrigger=1)
    os.makedirs(src, exist_ok=True)
    con = duckdb.connect()
    for i in range(3):
        con.sql(
            f"""
            COPY (SELECT doc_id, text, lang, source, n_chars
                  FROM '/root/testdata/sf0.001/documents.parquet'
                  WHERE doc_id % 3 = {i})
            TO '{src}/wave{i}.parquet' (FORMAT PARQUET)
            """
        )

    q = streaming_bm25_postings(spark, src, out, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)

    served = sorted(map(tuple, serve_bm25_from_dir(spark, out).collect()))
    batch = sorted(
        map(
            tuple,
            bm25_topk(
                spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            ).collect(),
        )
    )
    assert served == batch
    assert len(served) == 25  # 5 queries x top-5


def test_restarted_stream_is_idempotent(spark, tmp_path):
    """Re-running the stream from a FRESH checkpoint over the same input
    (the worst replay: every epoch re-fires) must overwrite, not duplicate."""
    src = str(tmp_path / "docs")
    out = str(tmp_path / "index")

    os.makedirs(src, exist_ok=True)
    con = duckdb.connect()
    con.sql(
        f"""
        COPY (SELECT doc_id, text, lang, source, n_chars
              FROM '/root/testdata/sf0.001/documents.parquet' WHERE doc_id < 100)
        TO '{src}/all.parquet' (FORMAT PARQUET)
        """
    )
    for attempt in range(2):
        q = streaming_bm25_postings(spark, src, out, str(tmp_path / f"ckpt{attempt}"))
        q.awaitTermination(120)

    tf = spark.read.parquet(f"{out}/postings")
    assert tf.count() == tf.select("doc_id", "term").distinct().count()
    served = serve_bm25_from_dir(spark, out).collect()
    assert served and all(r["rank"] <= 5 for r in served)


def test_recrawled_doc_serves_latest_version_only(spark, tmp_path):
    """A doc_id re-arriving (update/re-crawl) in a later micro-batch must
    not double-count its postings/doc-length: serving keeps max-epoch rows
    per doc, so the served ranking equals batch BM25 over the LATEST
    version of every doc (r4 ADVICE)."""
    src = str(tmp_path / "docs")
    out = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    os.makedirs(src, exist_ok=True)
    con = duckdb.connect()
    base = "SELECT doc_id, text, lang, source, n_chars FROM '/root/testdata/sf0.001/documents.parquet' WHERE doc_id < 60"
    con.sql(f"COPY ({base}) TO '{src}/wave0.parquet' (FORMAT PARQUET)")
    # wave 1: docs 0-9 re-crawled with CHANGED text (longer, new terms)
    con.sql(
        f"""
        COPY (SELECT doc_id, text || ' recrawled fresh content added' AS text,
                     lang, source, n_chars
              FROM '/root/testdata/sf0.001/documents.parquet' WHERE doc_id < 10)
        TO '{src}/wave1.parquet' (FORMAT PARQUET)
        """
    )

    q = streaming_bm25_postings(spark, src, out, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)

    # the raw index really does hold both versions (the hazard is present)
    dl_raw = spark.read.parquet(f"{out}/doclen")
    assert dl_raw.count() > dl_raw.select("doc_id").distinct().count()

    served = sorted(map(tuple, serve_bm25_from_dir(spark, out).collect()))

    latest = spark.createDataFrame(
        con.sql(
            f"""
            SELECT doc_id,
                   CASE WHEN doc_id < 10
                        THEN text || ' recrawled fresh content added'
                        ELSE text END AS text
            FROM ({base})
            """
        ).fetchall(),
        "doc_id long, text string",
    )
    batch = sorted(map(tuple, bm25_topk(latest).collect()))
    assert served == batch
