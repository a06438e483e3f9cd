"""Structured Streaming variants of the pipeline.

The reference has no streaming (SURVEY §2.6); these exist because a
transcript corpus at 10^12 turns is typically fed incrementally.  Both jobs
are the streaming twins of batch operators in this repo, sharing the same
parse/aggregation code:

- ``streaming_parse``: file-source ``readStream`` over the transcripts table
  -> ``parse_transcripts``, the batch parse itself (mapInPandas is supported
  on streaming DataFrames, and the under-split rule passes a stream through
  untouched; the job is stateless, so exactly-once comes from the source
  offsets + sink commit log, complementing the batch checkpoint table).
- ``streaming_events_hourly``: watermarked tumbling-window aggregation over
  the events table — the streaming twin of ``q_events_hourly``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from open_parse_spark.spark.pipeline import parse_transcripts

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)
EVENT_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
DOCUMENT_DDL = "doc_id long, text string, lang string, source string, n_chars long"


def _read_stream(
    spark: SparkSession,
    ddl: str,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The file-source stream of every job: parquet files under ``ddl``,
    at most ``max_files_per_trigger`` files per micro-batch when set (the
    late-data tests run per-file micro-batches)."""
    reader = spark.readStream.schema(ddl)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def streaming_parse(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """readStream(parquet transcripts) -> content nodes (unbounded)."""
    return parse_transcripts(
        _read_stream(spark, TRANSCRIPT_DDL, input_dir, max_files_per_trigger)
    )


def streaming_events_hourly(
    spark: SparkSession,
    input_dir: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling 1h window per event_type; late rows beyond the
    watermark are dropped, state is bounded (the 100 TB requirement for any
    unbounded aggregation)."""
    ev = _read_stream(spark, EVENT_DDL, input_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n",
            "min_value",
            "max_value",
        )
    )


def streaming_sessionize(
    spark: SparkSession,
    input_dir: str,
    gap_seconds: int = 1800,
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom STATEFUL streaming operator via ``applyInPandasWithState``:
    gap-based sessionization per user — the streaming twin of
    ``q_events_sessionize`` (lag + cumulative-sum windows in batch).

    State per user = (session_no, last_ts, n_events, session_start) of the
    open session.  Each micro-batch appends rows for every session it can
    CLOSE; the still-open session stays in state.  The event-time timeout
    (watermark-driven) closes idle sessions, so state is bounded — the
    100 TB requirement for any keyed streaming state."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _read_stream(
        spark, EVENT_DDL, input_dir, max_files_per_trigger
    ).withWatermark("ts", watermark)

    out_schema = (
        "user_id long, session_no long, n_events long, session_start string"
    )
    state_schema = (
        "session_no long, last_ts_us long, n_events long, "
        "session_start string, start_us long"
    )

    def close_sessions(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            session_no, _last, n_events, start, _start_us = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_no": [session_no],
                    "n_events": [n_events],
                    "session_start": [start],
                }
            )
            return
        if state.exists:
            session_no, last_ts_us, n_events, start, start_us = state.get
        else:
            session_no, last_ts_us, n_events, start, start_us = (
                0, None, 0, None, None,
            )
        closed = {"session_no": [], "n_events": [], "session_start": []}
        # Spark does NOT pre-filter late rows for arbitrary stateful ops:
        # a beyond-watermark straggler reaches this function, and letting it
        # rewind last_ts would both corrupt the open session and make the
        # timeout registration below crash (timeout earlier than watermark
        # is rejected by the engine — caught by the late-data fuzz test).
        # Enforce the watermark contract ourselves: drop rows at or below it.
        wm_us = state.getCurrentWatermarkMs() * 1000
        # concat BEFORE sorting: the iterator chunks a key's micro-batch at
        # the Arrow batch size, and per-chunk sorting would process rows out
        # of global (ts, event_id) order for keys with >1 chunk, computing
        # gaps against the wrong predecessor (review finding)
        chunks = [c for c in pdf_iter if len(c)]
        for pdf in (
            [pd.concat(chunks).sort_values(["ts", "event_id"])]
            if chunks
            else []
        ):
            for ts in pdf["ts"]:
                ts_us = int(ts.value // 1000)  # pandas ns -> us
                if wm_us and ts_us < wm_us:
                    continue  # late straggler: dropped, like windowed aggs
                new = (
                    last_ts_us is None
                    or ts_us - last_ts_us > gap_seconds * 1_000_000
                )
                if new:
                    if n_events:
                        closed["session_no"].append(session_no)
                        closed["n_events"].append(n_events)
                        closed["session_start"].append(start)
                    session_no += 1
                    n_events = 0
                    start = ts.strftime("%Y-%m-%d %H:%M:%S")
                    start_us = ts_us
                    last_ts_us = ts_us
                elif ts_us >= last_ts_us:
                    last_ts_us = ts_us
                else:
                    # within-watermark row OLDER than the open session's max
                    # (cross-batch disorder): absorb WITHOUT rewinding
                    # last_ts_us — a rewind would inflate the next on-time
                    # row's gap and open a phantom session.  Absorb ONLY
                    # rows within gap of the session start: batch order
                    # would extend the session backward exactly then; a row
                    # more than gap older belongs to a DIFFERENT batch
                    # session, and merging it emitted a tuple batch never
                    # produces (review finding) — such extreme stragglers
                    # are dropped like beyond-watermark rows.
                    if (
                        start_us is not None
                        and start_us - ts_us > gap_seconds * 1_000_000
                    ):
                        continue
                    if start_us is None or ts_us < start_us:
                        start_us = ts_us
                        start = ts.strftime("%Y-%m-%d %H:%M:%S")
                n_events += 1
        # a new key whose micro-batch held only empty chunks has no rows and
        # last_ts_us stays None — registering state (or a timeout on None)
        # would crash the query; skip until real rows arrive
        if last_ts_us is not None:
            state.update((session_no, last_ts_us, n_events, start, start_us))
            # close idle sessions via event-time timeout at last_ts + gap;
            # when only late-filtered rows arrived this batch the natural
            # timeout can already lie behind the advanced watermark — the
            # engine rejects that, so clamp to just above it (the session
            # then closes at the next watermark advance, which is when it
            # would fire anyway)
            state.setTimeoutTimestamp(
                max(
                    last_ts_us // 1000 + gap_seconds * 1000,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(closed["session_no"]),
                "session_no": closed["session_no"],
                "n_events": closed["n_events"],
                "session_start": closed["session_start"],
            }
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        close_sessions,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_dedup_exact(
    spark: SparkSession,
    input_dir: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of ``operators/dedup.py:exact_duplicates``'s keep-one
    side: emit the first turn seen for each distinct text hash, with state
    BOUNDED by the watermark via ``dropDuplicatesWithinWatermark`` — the
    dedup-state entry for a hash is dropped once the watermark passes it, so
    state size tracks the duplication window, not corpus cardinality (an
    unbounded ``dropDuplicates`` would OOM at 10^12 turns).

    At 100 TB this assumes duplicates arrive within the watermark of each
    other (true for crawl/ingest bursts); cross-window dups are left to the
    batch dedup pass — the standard lambda split."""
    stream = (
        _read_stream(spark, TRANSCRIPT_DDL, input_dir, max_files_per_trigger)
        # NULL text would md5 to NULL, and dropDuplicatesWithinWatermark
        # treats NULL keys as equal — distinct no-text turns would silently
        # drop (review finding); key them uniquely instead
        .select(
            "conv_id",
            "turn_idx",
            "ts",
            F.coalesce(
                F.md5("text"),
                F.concat(F.lit("null:"), "conv_id", F.lit(":"), "turn_idx"),
            ).alias("text_hash"),
        )
    )
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["text_hash"]
    )


def streaming_decontaminate(
    spark: SparkSession,
    input_dir: str,
    benchmark: DataFrame,
    n: int = 4,
) -> DataFrame:
    """Streaming twin of ``dedup.ngram_contamination``: each incoming turn is
    checked against a STATIC benchmark gram set inside a stateless
    ``mapInPandas`` (same shape as the streaming parse) — per-row verdicts
    need no streaming state, no watermark, and run in append mode.

    An explode→join→re-aggregate formulation (the batch plan) is NOT legal on
    a stream (aggregation then join); the membership set is small (eval
    suites), so it ships as a task broadcast instead.  Gram construction
    replicates ``functions/text.py:words``'s extract-then-lower semantics."""
    import re as _re

    import pandas as pd

    from open_parse_spark.functions.text import WORD_RE, word_ngrams

    # membership set keyed by word TUPLES: the per-row " ".join of every
    # gram was ~40% of the check loop; tuples hash straight off the token
    # list (words contain no spaces, so split/join round-trips exactly)
    bench_grams = frozenset(
        tuple(r["gram"].split(" "))
        for r in benchmark.select(
            F.explode(word_ngrams(F.col("text"), n)).alias("gram")
        )
        .distinct()
        .collect()
    )
    bc = spark.sparkContext.broadcast(bench_grams)
    word_re = _re.compile(WORD_RE)  # the one tokenization contract

    def check(batches):
        bench = bc.value
        for pdf in batches:
            # vectorized tokenization (r5 VERDICT ask #4): one C-driven
            # findall pass over the whole batch, then per-row gram-tuple
            # sets.  lower() stays per-WORD — lowering the full text first
            # can create new word characters (e.g. 'İ' -> 'i' + combining
            # mark) and change token boundaries.
            toks = pdf["text"].fillna("").str.findall(word_re)
            shared = []
            for ws in toks.values:
                if len(ws) < n:
                    shared.append(0)
                    continue
                ws = list(map(str.lower, ws))
                grams = set(zip(*(ws[i:] for i in range(n))))
                shared.append(sum(1 for g in grams if g in bench))
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"],
                    "turn_idx": pdf["turn_idx"],
                    "shared_grams": pd.Series(shared, dtype="int64"),
                    "contaminated": pd.Series(
                        [s > 0 for s in shared], dtype="bool"
                    ),
                }
            )

    stream = _read_stream(spark, TRANSCRIPT_DDL, input_dir).select(
        "conv_id", "turn_idx", "text"
    )
    return stream.mapInPandas(
        check,
        "conv_id string, turn_idx int, shared_grams long, contaminated boolean",
    )


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, mode: str = "append"
):
    """Test helper: drain a stream into an in-memory table."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )


def streaming_chunk(
    spark: SparkSession,
    input_dir: str,
    window: int = 128,
    overlap: int = 32,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of ``chunk_documents``: the batch operator is a pure
    stateless projection (split -> sequence/explode -> slice), so it is
    applied to the stream UNCHANGED — one code path, the same guarantee the
    parse twin relies on.  Append-mode legal, no watermark needed."""
    from open_parse_spark.operators.chunking import chunk_documents

    docs = _read_stream(spark, DOCUMENT_DDL, input_dir, max_files_per_trigger)
    return chunk_documents(docs, window=window, overlap=overlap)


def streaming_extract_urls(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of the URL extraction half of ``url_domain_stats``:
    per-document (doc_id, url, domain) rows, stateless append.  The
    per-domain AGGREGATION stays batch (or becomes a watermarked windowed
    agg downstream) — an unbounded global groupBy is not streaming-legal."""
    docs = _read_stream(spark, DOCUMENT_DDL, input_dir, max_files_per_trigger)
    return _url_rows(docs, "doc_id")


def _url_rows(df: DataFrame, *key_cols: str) -> DataFrame:
    """THE shared (keys..., url, domain) projection for every URL job —
    both streaming variants route through it so an extraction or
    domain-lowering fix cannot silently diverge them (review finding)."""
    from open_parse_spark.functions.text import extract_urls, url_domain

    return df.select(
        *key_cols, F.explode(extract_urls(F.col("text"))).alias("url")
    ).select(*key_cols, "url", url_domain(F.col("url")).alias("domain"))


def streaming_url_domains_hourly(
    spark: SparkSession,
    input_dir: str,
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Watermarked per-domain URL counts over a TRANSCRIPT stream: extract
    URLs from each turn's text, then a tumbling 1h window x domain count —
    the streaming-legal form of ``url_domain_stats`` (an unbounded global
    groupBy is not; windowing + watermark bounds the state, late rows
    beyond the watermark are dropped).  Append mode: a window's counts
    emit once, when the watermark passes its end."""
    turns = _read_stream(
        spark, TRANSCRIPT_DDL, input_dir, max_files_per_trigger
    ).withWatermark("ts", watermark)
    urls = _url_rows(turns, "ts").select("ts", "domain")
    return (
        urls.groupBy(F.window("ts", "1 hour").alias("w"), "domain")
        .agg(F.count(F.lit(1)).alias("n_urls"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "domain",
            "n_urls",
        )
    )


def streaming_rag_index(
    spark: SparkSession,
    input_dir: str,
    output_path: str,
    checkpoint_path: str,
    window: int = 128,
    overlap: int = 32,
    max_files_per_trigger: int | None = None,
):
    """Incremental RAG index build: each micro-batch of documents runs the
    SAME chunk->embed->LSH-bucket body as the batch query (``foreachBatch``
    hands a plain batch DataFrame, so the groupBy inside ``rag_index_table``
    is legal) and writes an (epoch, bucket)-partitioned parquet table —
    bucket is the layout ANN serving prunes on; epoch makes the write
    IDEMPOTENT: a replayed micro-batch dynamically overwrites only its own
    epoch partitions instead of appending duplicates (a plain append
    double-wrote every row of a batch replayed after a post-commit crash —
    review finding).  At cluster scale point this at an Iceberg table for
    one atomic commit instead.  NOTE: on read-back, partition-column type
    inference yields int32 for epoch/bucket (the data wrote them as long);
    cast or read with an explicit schema where parity matters.
    Returns the started ``availableNow`` StreamingQuery."""
    from open_parse_spark.operators.chunking import rag_index_table

    docs = _read_stream(spark, DOCUMENT_DDL, input_dir, max_files_per_trigger)

    def write_batch(batch_df, epoch_id):
        (
            rag_index_table(batch_df, window=window, overlap=overlap)
            .withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch", "bucket")
            .parquet(output_path)
        )

    return (
        docs.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def streaming_bloom_decontaminate(
    spark: SparkSession,
    input_dir: str,
    benchmark: DataFrame,
    m: int = 1 << 15,
    k: int = 4,
    n: int = 4,
) -> DataFrame:
    """Streaming twin of ``dedup.bloom_decontaminate``: incoming turns are
    probed against a STATIC Bloom bit set in a stateless ``mapInPandas``
    (same shape as ``streaming_decontaminate``) — but the broadcast is the
    integer set-bit table, bounded by ``m`` regardless of benchmark text
    size, instead of the gram strings.

    The stream side computes positions with ``dedup.bloom_positions_py``,
    the exact Python twin of the batch/oracle arithmetic (dialect-parity
    pytest pins them together), so stream and batch verdicts are identical
    on identical rows — false positives included."""
    import re as _re

    import pandas as pd

    from open_parse_spark.functions.text import WORD_RE, word_ngrams
    from open_parse_spark.operators.dedup import (
        bloom_positions,
        bloom_positions_py,
    )

    bits = frozenset(
        r["pos"]
        for r in bloom_positions(
            benchmark.select(
                F.explode(word_ngrams(F.col("text"), n)).alias("gram")
            ).distinct(),
            m,
            k,
        )
        .select("pos")
        .distinct()
        .collect()
    )
    bc = spark.sparkContext.broadcast(bits)
    word_re = _re.compile(WORD_RE)

    def check(batches):
        bset = bc.value
        for pdf in batches:
            n_grams, hits = [], []
            # vectorized tokenization (r5 VERDICT ask #4); the md5 bloom
            # probes need the joined-string gram form, so the gram set
            # stays strings here
            toks = pdf["text"].fillna("").str.findall(word_re)
            for ws in toks.values:
                ws = list(map(str.lower, ws))
                grams = {
                    " ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)
                }
                n_grams.append(len(grams))
                hits.append(
                    sum(
                        1
                        for g in grams
                        if all(p in bset for p in bloom_positions_py(g, m, k))
                    )
                )
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"],
                    "turn_idx": pdf["turn_idx"],
                    "n_grams": pd.Series(n_grams, dtype="int64"),
                    "bloom_hits": pd.Series(hits, dtype="int64"),
                    "bloom_contaminated": pd.Series(
                        [h > 0 for h in hits], dtype="bool"
                    ),
                }
            )

    stream = _read_stream(spark, TRANSCRIPT_DDL, input_dir).select(
        "conv_id", "turn_idx", "text"
    )
    return stream.mapInPandas(
        check,
        "conv_id string, turn_idx int, n_grams long, bloom_hits long, "
        "bloom_contaminated boolean",
    )


def streaming_bm25_postings(
    spark: SparkSession,
    input_dir: str,
    output_path: str,
    checkpoint_path: str,
    max_files_per_trigger: int | None = None,
):
    """Incremental lexical-index maintenance: each micro-batch of documents
    emits its own docs' (doc_id, term, tf) postings and (doc_id, dl) doc
    lengths — the DOC-LOCAL building blocks of BM25 (``operators/search.py:
    doc_postings``), which is exactly what makes the index streamable with
    no cross-batch state: every corpus-GLOBAL statistic (df, n_docs, avgdl)
    derives from the accumulated postings at serving time
    (``serve_bm25_from_dir``), so documents never need re-scoring when new
    ones arrive.  Both tables are (epoch)-partitioned with dynamic
    overwrite, the ``streaming_rag_index`` idempotence pattern: a replayed
    micro-batch overwrites its own epoch instead of appending duplicates.
    (As with rag_index, that guards checkpoint-resume replays, which keep
    epoch numbering; a FRESH-checkpoint rebuild restarts epochs and can
    batch differently, so point rebuilds at a fresh output dir.)
    Returns the started ``availableNow`` StreamingQuery."""
    from open_parse_spark.operators.search import doc_postings

    docs = _read_stream(spark, DOCUMENT_DDL, input_dir, max_files_per_trigger)

    def write_batch(batch_df, epoch_id):
        tf, dl = doc_postings(batch_df)
        for frame, sub in ((tf, "postings"), (dl, "doclen")):
            (
                frame.withColumn("epoch", F.lit(int(epoch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch")
                .parquet(f"{output_path}/{sub}")
            )

    return (
        docs.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def serve_bm25_from_dir(spark: SparkSession, index_path: str, k: int = 5) -> DataFrame:
    """Query the incrementally built postings: identical output contract to
    the batch ``bm25_topk`` over the same accumulated corpus (equality
    pinned in tests/test_streaming_bm25.py).

    Re-crawled documents: a doc_id re-arriving in a later micro-batch lands
    in a later epoch, so the raw index holds BOTH versions' postings.
    Serving keeps only each doc's max-epoch rows (last-write-wins, one
    shuffle-side aggregate on doc_id + two co-keyed joins), so df, n_docs
    and total_words count each doc exactly once (r4 ADVICE — the previous
    read double-counted updates).  Assumed: a doc_id appears at most once
    per micro-batch (within one epoch, ``doc_postings`` would sum duplicate
    rows' tf into one inflated posting)."""
    from open_parse_spark.operators.search import bm25_from_postings

    tf_raw = spark.read.parquet(f"{index_path}/postings").select(
        "doc_id", "term", "tf", "epoch"
    )
    dl_raw = spark.read.parquet(f"{index_path}/doclen").select(
        "doc_id", "dl", "epoch"
    )
    latest = dl_raw.groupBy("doc_id").agg(F.max("epoch").alias("epoch"))
    tf = tf_raw.join(latest, ["doc_id", "epoch"]).select("doc_id", "term", "tf")
    dl = dl_raw.join(latest, ["doc_id", "epoch"]).select("doc_id", "dl")
    return bm25_from_postings(tf, dl, k=k)
