"""Vendored BPE engine (core/bpe.py): the merge loop must agree with an
independent apply-merges-in-order reference on BPE-consistent vocabularies,
the cl100k split pattern must behave like the published pre-tokenizer, and
the loader + tokens.py integration must light up from a file drop alone
(VERDICT r2 item 3 — exact parity off-sandbox is then just the real
cl100k_base.tiktoken file)."""

import base64
import importlib
import os
import random

import pytest
import regex

from open_parse_spark.core.bpe import (
    CL100K_SPLIT_PATTERN,
    BpeCounter,
    bpe_token_count,
    load_ranks,
)

SPLIT = regex.compile(CL100K_SPLIT_PATTERN)


# -- split pattern behavior (published cl100k pre-tokenizer) ----------------


def test_split_pattern_words_and_leading_space():
    assert SPLIT.findall("Hello world") == ["Hello", " world"]


def test_split_pattern_digit_triples():
    assert SPLIT.findall("1234567") == ["123", "456", "7"]


def test_split_pattern_contractions():
    assert SPLIT.findall("don't we'll") == ["don", "'t", " we", "'ll"]


def test_split_pattern_punct_and_newlines():
    # " ?[^\s\p{L}\p{N}]++[\r\n]*" glues trailing newlines onto punct runs
    assert SPLIT.findall("a...\nb") == ["a", "...\n", "b"]
    assert SPLIT.findall("a\n\nb") == ["a", "\n\n", "b"]


def test_split_pattern_trailing_space_not_glued():
    # "\s+(?!\S)" keeps trailing whitespace separate from the next token
    assert SPLIT.findall("hi  there ") == ["hi", " ", " there", " "]


# -- merge loop --------------------------------------------------------------


def _byte_vocab():
    return {bytes([i]): i for i in range(256)}


def test_single_byte_and_known_token():
    ranks = _byte_vocab()
    ranks[b"ab"] = 256
    assert bpe_token_count(ranks, b"a") == 1
    assert bpe_token_count(ranks, b"ab") == 1
    assert bpe_token_count(ranks, b"ba") == 2
    assert bpe_token_count(ranks, b"abab") == 2


def test_merge_order_lowest_rank_first():
    # "abc": with ab(256) and bc(257), ab merges first -> [ab, c] -> 2
    ranks = _byte_vocab()
    ranks[b"ab"] = 256
    ranks[b"bc"] = 257
    assert bpe_token_count(ranks, b"abc") == 2
    # flip the ranks: bc merges first -> [a, bc] -> 2 but abc never forms
    ranks2 = _byte_vocab()
    ranks2[b"ab"] = 257
    ranks2[b"bc"] = 256
    ranks2[b"abc"] = 258
    # bc first -> [a, bc]; a+bc == abc has rank 258 -> merges -> 1
    assert bpe_token_count(ranks2, b"abc") == 1


def _reference_apply_in_order(ranks, piece):
    """Independent implementation: apply each merge rule in rank order,
    left-to-right, everywhere — the classic sentencepiece/BPE formulation."""
    parts = [piece[i : i + 1] for i in range(len(piece))]
    merges = sorted(
        ((r, t) for t, r in ranks.items() if len(t) > 1), key=lambda x: x[0]
    )
    for _, tok in merges:
        i = 0
        while i < len(parts) - 1:
            if parts[i] + parts[i + 1] == tok:
                parts[i : i + 2] = [tok]
                if i:
                    i -= 1  # the merge may enable one to its left
            else:
                i += 1
    return len(parts)


def test_differential_random_consistent_vocabs():
    rng = random.Random(42)
    for trial in range(30):
        ranks = _byte_vocab()
        alphabet = [b"a", b"b", b"c", b"d"]
        tokens = list(alphabet)
        for r in range(256, 256 + rng.randint(3, 12)):
            t = rng.choice(tokens) + rng.choice(tokens)
            if t not in ranks and len(t) <= 8:
                ranks[t] = r
                tokens.append(t)
        for _ in range(20):
            piece = b"".join(
                rng.choice(alphabet) for _ in range(rng.randint(1, 12))
            )
            got = bpe_token_count(ranks, piece)
            want = _reference_apply_in_order(ranks, piece)
            assert got == want, (trial, piece, got, want, sorted(ranks.items())[-5:])


def test_counter_over_text():
    ranks = _byte_vocab()
    # merge-consistent chains (every multi-byte token is a pair of existing
    # tokens): hello = he+llo, llo = ll+o; " worl" = " wor"+"l" etc.
    for i, tok in enumerate(
        [b"he", b"ll", b"llo", b"hello", b" w", b" wo", b" wor", b" worl"]
    ):
        ranks[tok] = 256 + i
    c = BpeCounter(ranks)
    # "hello" -> 1 token; " world" -> [" worl", "d"] -> 2
    assert c.count("hello world") == 3
    assert c.count("") == 0
    # bare "world" has no leading space so none of the " w*" merges apply
    assert c.count_batch(["hello", None, "world"]) == [1, 0, 5]


def test_utf8_multibyte_pieces():
    ranks = _byte_vocab()
    c = BpeCounter(ranks)
    # é = 2 bytes, no merges -> 2 tokens; 漢 = 3 bytes -> 3
    assert c.count("é") == 2
    assert c.count("漢") == 3


# -- loader + integration ----------------------------------------------------


def _write_vocab(path, ranks):
    with open(path, "wb") as f:
        for tok, rank in ranks.items():
            f.write(base64.b64encode(tok) + b" " + str(rank).encode() + b"\n")


def test_loader_roundtrip(tmp_path):
    ranks = _byte_vocab()
    ranks[b"ab"] = 256
    ranks[b" \n"] = 257
    p = str(tmp_path / "toy.tiktoken")
    _write_vocab(p, ranks)
    assert load_ranks(p) == ranks


def test_tokens_module_prefers_vendored_vocab(tmp_path, monkeypatch):
    """Dropping a vocab file + env var flips core/tokens.py onto the exact
    BPE engine with no code change; removing it restores the approximation."""
    ranks = _byte_vocab()
    ranks[b"aa"] = 256
    ranks[b"aaaa"] = 257
    ranks[b"aaaaaaaa"] = 258
    p = str(tmp_path / "toy.tiktoken")
    _write_vocab(p, ranks)
    import open_parse_spark.core.bpe as bpe_mod
    import open_parse_spark.core.tokens as tokens_mod

    monkeypatch.setenv(bpe_mod.ENV_VAR, p)
    try:
        importlib.reload(tokens_mod)
        # lazy: the vocab is parsed on the FIRST count, not at import
        assert tokens_mod._BPE is None and not tokens_mod._BPE_RESOLVED
        # 'aaaaaaaa' is one vocab token under BPE; the approximation says 2
        assert tokens_mod.num_tokens("aaaaaaaa") == 1
        assert tokens_mod._BPE is not None
        assert tokens_mod.num_tokens_batch(["aaaa", None]) == [1, 0]
    finally:
        monkeypatch.delenv(bpe_mod.ENV_VAR)
        importlib.reload(tokens_mod)
        assert tokens_mod.num_tokens("aaaaaaaa") == 2
        assert tokens_mod._BPE is None


@pytest.mark.parametrize("content", [None, "not-a-vocab-line\n"])
def test_configured_vocab_that_cannot_load_raises(tmp_path, monkeypatch, content):
    """A missing or malformed $OPEN_PARSE_BPE_PATH file raises on the first
    count, naming the path, instead of falling back to the approximation."""
    p = str(tmp_path / "bad.tiktoken")
    if content is not None:
        with open(p, "w") as f:
            f.write(content)
    import open_parse_spark.core.bpe as bpe_mod
    import open_parse_spark.core.tokens as tokens_mod

    monkeypatch.setenv(bpe_mod.ENV_VAR, p)
    try:
        importlib.reload(tokens_mod)
        with pytest.raises(ValueError, match="bad.tiktoken"):
            tokens_mod.num_tokens("aaaaaaaa")
    finally:
        monkeypatch.delenv(bpe_mod.ENV_VAR)
        importlib.reload(tokens_mod)
        assert tokens_mod.num_tokens("aaaaaaaa") == 2
        assert tokens_mod._BPE is None
