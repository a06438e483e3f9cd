"""The driver's CORRECTNESS snapshot caps at 50 queries taken in
``queries()`` order; CORRECTNESS_WINDOW pins WHICH 50 (VERDICT r3 item 2).
These guards keep the window a decision: a new registry entry that should be
snapshot-checked must be added to the window explicitly."""

from open_parse_spark.plans.queries import (
    CORRECTNESS_WINDOW,
    REGISTRY,
    oracle_sql,
    queries,
)


def test_window_is_exactly_50_known_queries():
    assert len(CORRECTNESS_WINDOW) == 50
    assert len(set(CORRECTNESS_WINDOW)) == 50
    unknown = [n for n in CORRECTNESS_WINDOW if n not in REGISTRY]
    assert not unknown, unknown


def test_queries_iterate_window_first():
    names = list(queries())
    assert names[:50] == CORRECTNESS_WINDOW
    assert set(names) == set(REGISTRY), "window reorder must not drop queries"


def test_window_at_most_one_rows_only():
    sqls = oracle_sql()
    rows_only = [n for n in CORRECTNESS_WINDOW if n not in sqls]
    assert rows_only == ["parse_flagship"], rows_only


def test_every_family_represented_in_window():
    families = {
        "parse": ["parse_flagship"],
        "metrics_checks": ["parse_metrics_check", "eval_metrics_check"],
        "transforms": ["op_spatial_anti_join", "op_lead_neighbor"],
        "search": ["search_bm25"],
        "dedup": ["dedup_exact", "dedup_minhash", "dedup_simhash",
                  "dedup_components", "dup_spans", "decontaminate",
                  "decontaminate_bloom"],
        "graph": ["domain_pagerank"],
        "ann": ["ann_cosine_topk", "ann_lsh", "ann_ivf", "ann_pq",
                "neardup_cosine"],
        "chunking": ["doc_chunks", "chunk_merge", "rag_index"],
        "text": ["quality_lm", "lang_id", "quality_gopher",
                 "quality_classifier", "url_domains"],
        "events": ["events_hourly", "events_sessionize", "events_asof_join"],
        "conversations": ["conv_transcript_assembly", "conv_dedup",
                          "export_relations_check"],
        "multimodal": ["multimodal_features", "multimodal_meta"],
        "html": ["html_extract", "html_blocks"],
        "packing_sampling": ["pack_sequences", "sample_stratified"],
    }
    w = set(CORRECTNESS_WINDOW)
    for fam, members in families.items():
        missing = [m for m in members if m not in w]
        assert not missing, (fam, missing)
