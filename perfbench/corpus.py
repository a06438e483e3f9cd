"""Seeded inputs for the workloads and their properties.

Transcript corpora come from ``open_parse_spark.data.synth``
(``write_transcripts_parquet``: log-normal payloads, 2% of conversations at
20x size).  The ``documents`` table the registry queries read is generated
here in the shape of the sf tables' one: a bag of words over a small fixed
vocabulary, a weighted language, a round-robin source and the length, with
a share of exact duplicates for the dedup queries."""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 5
DUP_FRAC = 0.05


def write_documents(sf_dir: str, seed: int, n_docs: int) -> pd.DataFrame:
    """``sf_dir/documents.parquet`` with ``n_docs`` seeded rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(seed)
    texts = [" ".join(rng.choice(VOCAB, n)) for n in rng.randint(10, 101, n_docs)]
    for i in rng.choice(n_docs, int(DUP_FRAC * n_docs), replace=False):
        texts[i] = texts[rng.randint(n_docs)]
    df = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        }
    )
    df["n_chars"] = df["text"].str.len().astype(np.int64)
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        os.path.join(sf_dir, "documents.parquet"),
    )
    return df


def corpus_props(df: pd.DataFrame, path: str) -> dict:
    """Input properties a later claim may cite: size, file layout, payload
    length quantiles and the weight of the heaviest 2% of conversations."""
    import pyarrow.parquet as pq

    files = sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
    payload = df["text"].fillna("").str.len() + df["tool"].fillna("").str.len()
    conv_bytes = payload.groupby(df["conv_id"]).sum().sort_values(ascending=False)
    heavy = conv_bytes.index[: max(1, math.ceil(0.02 * len(conv_bytes)))]
    return {
        "turns": int(len(df)),
        "conversations": int(len(conv_bytes)),
        "payload_bytes": int(payload.sum()),
        "file_bytes": sum(os.path.getsize(f) for f in files),
        "files": len(files),
        "row_groups": sum(pq.ParquetFile(f).metadata.num_row_groups for f in files),
        "payload_len_p50": float(payload.quantile(0.5)),
        "payload_len_p99": float(payload.quantile(0.99)),
        "top2pct_conv_turn_share": float(df["conv_id"].isin(heavy).mean()),
        "top2pct_conv_byte_share": float(conv_bytes[heavy].sum() / conv_bytes.sum()),
    }
