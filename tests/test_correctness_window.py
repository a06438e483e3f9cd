"""The driver's CORRECTNESS snapshot caps at 50 queries taken in
``queries()`` order; CORRECTNESS_WINDOW pins WHICH 50 (VERDICT r3 item 2).
These guards keep the window a decision: a new registry entry that should be
snapshot-checked must be added to the window explicitly."""

import hashlib

import open_parse_spark.plans.queries as Q
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


# The entry-point contract (``__spark_entry__.py``): these names and oracle
# strings are what the correctness gate compares against, so a refactor of
# plans/queries.py must leave both as they are.
REGISTERED_NAMES = [
    "ann_cosine_topk",
    "ann_ivf",
    "ann_lsh",
    "ann_pq",
    "ann_recall",
    "ann_recall_lsh",
    "ann_recall_pq",
    "boilerplate_lines",
    "chunk_merge",
    "conv_context",
    "conv_dedup",
    "conv_role_stats",
    "conv_stats",
    "conv_transcript_assembly",
    "conversation_assembly",
    "corpus_stats",
    "decontaminate",
    "decontaminate_bloom",
    "dedup_cluster_rep",
    "dedup_components",
    "dedup_exact",
    "dedup_fingerprint",
    "dedup_keep",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_winnow",
    "doc_chunks",
    "doc_split",
    "domain_pagerank",
    "dup_spans",
    "eval_metrics",
    "eval_metrics_check",
    "eval_variant_mix",
    "events_asof_join",
    "events_hourly",
    "events_sessionize",
    "export_relations",
    "export_relations_check",
    "html_blocks",
    "html_boilerplate_stats",
    "html_extract",
    "lang_id",
    "mix_corpus",
    "mix_corpus_threshold",
    "multimodal_features",
    "multimodal_frames",
    "multimodal_meta",
    "neardup_cosine",
    "neardup_jaccard",
    "op_full_page_stubs",
    "op_lead_neighbor",
    "op_reading_order",
    "op_remove_below_tokens",
    "op_remove_metadata",
    "op_remove_repeated",
    "op_spatial_anti_join",
    "pack_sequences",
    "parse_bbox_debug",
    "parse_flagship",
    "parse_html_flagship",
    "parse_metrics",
    "parse_metrics_check",
    "parse_semantic",
    "pii_scrub",
    "quality_c4",
    "quality_classifier",
    "quality_gopher",
    "quality_lm",
    "quality_repetition",
    "rag_index",
    "sample_stratified",
    "search_bm25",
    "search_bm25_user",
    "search_hybrid",
    "text_quality",
    "tfidf_top_terms",
    "training_corpus_clean",
    "training_pipeline_full",
    "training_samples",
    "url_domains",
    "vocab_coverage",
]

# sha256 of each oracle_sql() string
ORACLE_SHA256 = {
    "ann_cosine_topk": "a80a18a9ef86f427968c77f74ee95cf899050f796de051499e4c7429023f9686",
    "ann_ivf": "6a78f74f9f8c50cb7ac705b025f943222bd796d2bdc3f70a8093d35aea764334",
    "ann_lsh": "2ec718f61aa3821dfa4ec306c1bf9144f1f6a04dcc38c0d7d32ad7a73c76bb8b",
    "ann_pq": "bade2315eb187abb9d53e4dcc861e8db3dc3d1858b8cb0829fce562041b4c7de",
    "ann_recall": "0236ab83f6d598f4f9eadae6e8ed097d2ab93f9ef9a0fa26f8b5b5d9f19cbad7",
    "ann_recall_lsh": "f61597e695b118159edfc263f0567dd1f54aca8ecceaa42c063c62f23e2f5b36",
    "ann_recall_pq": "c293ab391efd9fa89075a9ebd081c53b19da1354530eb83913dd46b77826599f",
    "boilerplate_lines": "fa3945712dd03ea338c59a9bbdb694836c563dcae88e3713a9e917a51e186d3c",
    "chunk_merge": "c193bb43a679bc51f0ccf61493ed3f0b1f7c603fb2a3207409a33796eeeb314e",
    "conv_context": "f0bc975db1f008652b4e1237dae86a02d83e76a335034a7ba1cb3b479a022ec4",
    "conv_dedup": "75e96d002c0b0b2636d5e597b4f2e9093d806ec78082adfc5966bd775027a748",
    "conv_role_stats": "a8701a0fd55071a053d79ff024d2e3ade169d9bf837282de8a2ab2143e903fdc",
    "conv_stats": "c1554ec76af56b5177c4c798221226351aaf2a33ec74ec2756529fcfb5fbf947",
    "conv_transcript_assembly": "b26dbaf1144417cf4dfebc54c5746326fee07a65d7fbd23c1933b0bfe6e7057a",
    "corpus_stats": "447d882e6aa1def31e1cee9335f9d07cadb3e9494d1a4f5822d0419e2249a97e",
    "decontaminate": "d139564c23963d32583a0c63597f7169872f5598eee4425f16c4902996392f62",
    "decontaminate_bloom": "c4274ab6d6f00eb82390e9c9d3555054d551e99bf3bfdc56a2dd1be17ef65ad6",
    "dedup_cluster_rep": "7f9d3ea15d6833dcbe769276e7447e7f85cf88703ce3c25a9819469797817bf9",
    "dedup_components": "4669dc080879144e49d1689971a9363d6c590d60d7e682fda890a3868ce56b86",
    "dedup_exact": "6867ba641f2caa5505c19e5be51f4f5a74980580cf83f508451bdfa3d5e446e8",
    "dedup_fingerprint": "c30a2b9adc09c4268d48ddd39d38040c544869a2e0e1335eb9aae2c8ebcb5e61",
    "dedup_keep": "0d077e205e9329e90d6aae44c5a8fb345e30a94bd0033083a0910b4b0ca24a9c",
    "dedup_minhash": "fac1494f0d6be4451957b6537694ef65ad6d5c009ec957a25243abf67a01cbf6",
    "dedup_simhash": "61eb6da01f7175d52039787890b115ee4940aa8ce2cdbe0a88806658a44e0fe4",
    "dedup_winnow": "090d7012d15a5c08768dde77ca2a79c9da1cba1c2d96b0f974326da10b396fe3",
    "doc_chunks": "f9748285c86eb65555cec8147953c909534b41d64733b26bb29b0105e79fdfc8",
    "doc_split": "36a9f02e544f0ac5001b3b3b8211d182281aa590b20b7d29f25fd8377617dfdf",
    "domain_pagerank": "d4c056e3b92cee653756c0dd5dc4f90d32fd648e96fdbbc754e0732e4ccbc3bb",
    "dup_spans": "86c5f4cdcf4f6498a2000754fdae7030899d2d7cfd0cffe984fbdf608b792b2b",
    "eval_metrics_check": "87ce47a793bfd336f71e779d6673d6851d5a1f1cea4f86b36433fd80a70bf7ad",
    "events_asof_join": "b7081327d4f291c28953da291e2d33f51e5298a86b227d8e92ccd9801b18cb0d",
    "events_hourly": "94d3920bc1a0dd414253e36b3d79b06f8d604f0104f7a8684374da59191eee42",
    "events_sessionize": "d4af95eb70ca5c4da1670c1b64f2a32f303b02425b4ee9612bfc279dbdccef21",
    "export_relations_check": "bd1d63db9301d7d76b00eeb916be1fd4d0da1fe90931feb5c2f5ac86fa7c6cc3",
    "html_blocks": "2c7e46f63b1e08768f4ecd264614db334549fd974983f8b2f2d11924e5b1e811",
    "html_boilerplate_stats": "c2991c4ffd875479d91e09a25abc23a455793ba6849d153c54e400a61d80b6f3",
    "html_extract": "36ff74bb30c566d511abd8afe2d9799fafaec27ab546099890092739263be544",
    "lang_id": "6d7db30218881212a2c8cdcc9bb6bc236a0a1268033ee31d77ceea72da70ddef",
    "mix_corpus": "495c9387aba5f49194c5e4ec01ef4022b3c846e17eecca3fcc3badfa92004eae",
    "mix_corpus_threshold": "76b0910651fe1763d13c1accad91fe8c4a9384fc32320c1ab282ffd3fe7298ec",
    "multimodal_features": "69a01e0f951100071be4a386f20d20a8393a6c73f4213dcbe08992a871313d60",
    "multimodal_frames": "4aac3bca596774b4f58929471b5f3e0faa065aaed9fe196fb3cfcc49ff99bd69",
    "multimodal_meta": "d1b445f4da652bfe975f8e6e3d27e7de77a495d2a8c2a6208f8deee92f934068",
    "neardup_cosine": "25e57252a38ee8ca5f7a7161ee7e63b570e8d120079060dccd79065487cede18",
    "neardup_jaccard": "e6f3fb25140e9d4537bdd3e3b71384d4cf92eda71f0725ce1d645a85283efd2c",
    "op_full_page_stubs": "6adb2a6bb2538c3cbc2ddcdb409b9d23ce27838f2b011970818f7d26bac751e3",
    "op_lead_neighbor": "d1379622d04bf19322e040f5b46792da8614bb7d6c74404b1d4307b139bdc459",
    "op_reading_order": "4c348dc70076c5c2031e365bc7c8bb7b542bdf27468b0f15089008c5f3149f3c",
    "op_remove_below_tokens": "f88435c91a06902bb3168e170b662c742358a7efbe56381ba6c91985217302cf",
    "op_remove_metadata": "b160729612cc619c02922222f97e4cfd6e5470e0c938543b4b1555cce5e7891d",
    "op_remove_repeated": "e5505b40fea0d34adeee669ac6c09e69cb899f54fe98da8312e57c0650dbb250",
    "op_spatial_anti_join": "00979f0eafc315d9c8040cbf0649478607116c0227da1b4c95ad3b18e6d89f14",
    "pack_sequences": "9625452b7ec13cefede131d7012fc1f11d0273f7f4258a44cfbafad95e26a15c",
    "parse_metrics_check": "0da2e2d040f148fefe2b6bd0517d78f1dcef7a09ff45972dd7627fa7de4e9884",
    "pii_scrub": "dfa900e3a62dd28772b1b611659465706f995516df5ece0b9ddd26eb7fd833a9",
    "quality_c4": "5cec4773c131a7f4361a91c2ef0a76b7e142e1226118ab0460e0077a68890794",
    "quality_classifier": "9baf9d187c072203f8615e801c7fc9e331214177abc536f52f3d7c25e19e53c2",
    "quality_gopher": "be24bbe43a8dd4ae6054785be76f5c12385f41a361466ae4d7c030cd1ff4faac",
    "quality_lm": "1638cfd444823b3c2204f1d361d671f591ef160273ec017b487829d378dd0de0",
    "quality_repetition": "561a8d814dc423cc94f164bb1b305e656b11a14f31bbf14ad17aa9af9c5fa722",
    "rag_index": "38071996536aeaf5dd15c8465d856392cd9055b3d8fce2ac69c81edd809621c7",
    "sample_stratified": "b7ab406a6d7335c47dec6330cd1974a080c932fd43145b95145e7a50eb4948ec",
    "search_bm25": "0ce09aaef41ea82477993fa99cfc99dfe8f8133647c00d4431b564d97ef9351d",
    "search_bm25_user": "3bd4fe2960e87b12542e9c1d38b382e96a74238008a4425b0d727a3064edbb26",
    "search_hybrid": "e35aa34cee12b914e3ed873c763eaeace78259606dc2ef731739efbcc3ab68b4",
    "text_quality": "f6082e10170a61f00a19bc4a3100bbb9da41a851f5b371231f0b35c7c58434a8",
    "tfidf_top_terms": "bce629bc1d27458d5dfa36b698eac57d59e328eafd7991f03c63c9da36fa8432",
    "training_corpus_clean": "46a04eb729e07afb60830ef5c690acfb288d6e0260aca8ec9d6341d3e6d87f56",
    "training_pipeline_full": "398ddbeab6c9bad1b8313a243afdd0b91532e7cc87ca91300ccc300cf1824d2c",
    "training_samples": "026d3b2e7b9e6b2166eaedb574e74219e8e57d14669f6439aaa3de97f471fb37",
    "url_domains": "a0f962507ab98cd1da3497f73b460fe26a4b08ee9d79aad00b1883eee8c075f3",
    "vocab_coverage": "493b6192017e38320adef58c0fbef39a4bd6da107d9e66cd55feb53bff0b3ead",
}


def test_registry_names_pinned():
    assert sorted(REGISTRY) == REGISTERED_NAMES


def test_oracle_sql_strings_pinned():
    got = {n: hashlib.sha256(s.encode()).hexdigest() for n, s in oracle_sql().items()}
    assert got == ORACLE_SHA256


def test_every_oracle_constant_names_a_query():
    """REGISTRY pairs ``q_<name>`` with ``SQL_<NAME>`` by name, so a
    misspelled constant would leave its query silently rows-only."""
    consts = [k for k in vars(Q) if k.startswith("SQL_")]
    orphans = [k for k in consts if k[len("SQL_"):].lower() not in REGISTRY]
    assert not orphans, orphans
