"""Vendorable byte-pair-encoding token counter (cl100k-compatible).

The reference counts tokens with tiktoken's ``cl100k_base``
(``/root/reference/src/openparse/utils.py:6-10``) and the counts gate
control flow (stub/small/large thresholds, ``schemas.py:555-565``).  This
sandbox has neither tiktoken nor its vocabulary file, so exact parity is
impossible *here* — but the algorithm and the file format are public, so
everything except the 1.7 MB rank table can be real:

- :func:`load_ranks` reads the standard tiktoken vocabulary format
  (``<base64-token> <rank>`` per line, optionally gzipped) — drop the real
  ``cl100k_base.tiktoken`` file at ``$OPEN_PARSE_BPE_PATH`` (or the vendor
  dir below) and counts become bit-exact cl100k with no code change;
- :data:`CL100K_SPLIT_PATTERN` is the published cl100k pre-tokenizer regex
  (possessive quantifiers + ``\\p`` classes via the ``regex`` module);
- :class:`BpeCounter` implements the standard BPE merge loop (repeatedly
  merge the adjacent pair whose merged token has the lowest rank) over the
  UTF-8 bytes of each pre-token — ``encode_ordinary`` semantics: special
  tokens get no special treatment, exactly what the pipeline needs for
  scraped text containing ``<|endoftext|>``.

Correctness here is pinned by a differential test against a brute-force
reference merge on randomized consistent vocabularies plus hand-built toy
vocabularies (``tests/test_bpe.py``); parity-off-sandbox needs only the
file drop.
"""

from __future__ import annotations

import base64
import gzip
import os
from functools import lru_cache
from typing import Dict, List, Optional

# Published cl100k_base pre-tokenizer (tiktoken_ext/openai_public.py, MIT).
# Requires the third-party `regex` module: `re` has no possessive
# quantifiers and no \p{L}/\p{N} classes.
CL100K_SPLIT_PATTERN = (
    r"""'(?i:[sdmt]|ll|ve|re)|[^\r\n\p{L}\p{N}]?+\p{L}+|\p{N}{1,3}"""
    r"""| ?[^\s\p{L}\p{N}]++[\r\n]*|\s*[\r\n]|\s+(?!\S)|\s+"""
)

# where a vendored vocabulary is looked for when the env var is unset
VENDOR_DIR = os.path.join(os.path.dirname(__file__), "..", "data", "bpe")
ENV_VAR = "OPEN_PARSE_BPE_PATH"


def load_ranks(path: str) -> Dict[bytes, int]:
    """Parse a tiktoken-format vocabulary: one ``<base64> <rank>`` per line,
    blank lines ignored; ``.gz`` transparently decompressed."""
    opener = gzip.open if path.endswith(".gz") else open
    ranks: Dict[bytes, int] = {}
    with opener(path, "rb") as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            token_b64, rank = line.split()
            ranks[base64.b64decode(token_b64)] = int(rank)
    return ranks


def bpe_token_count(ranks: Dict[bytes, int], piece: bytes) -> int:
    """Number of BPE tokens for one pre-token, by the standard merge loop:
    start from single bytes, repeatedly merge the adjacent pair whose
    concatenation has the lowest rank, stop when no pair merges.  (The
    token *ids* are irrelevant for counting, so no rank lookup table for
    output is needed.)  Bytes absent from the vocabulary stay unmerged and
    count 1 each — with a complete 256-byte base vocab (cl100k has one)
    this never happens."""
    if not piece:
        return 0  # defensive: the split pattern can't yield empty matches
    if piece in ranks or len(piece) == 1:
        return 1
    parts: List[bytes] = [piece[i : i + 1] for i in range(len(piece))]
    while len(parts) > 1:
        best_rank: Optional[int] = None
        best_i = -1
        for i in range(len(parts) - 1):
            r = ranks.get(parts[i] + parts[i + 1])
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        parts[best_i : best_i + 2] = [parts[best_i] + parts[best_i + 1]]
    return len(parts)


class BpeCounter:
    """Token counter over (split regex, rank table) — the shape of
    ``tiktoken.Encoding.encode_ordinary`` restricted to counting."""

    def __init__(
        self, ranks: Dict[bytes, int], pattern: str = CL100K_SPLIT_PATTERN
    ):
        import regex

        self._ranks = ranks
        self._split = regex.compile(pattern)
        # per-pre-token memo: natural text repeats pieces heavily and the
        # piece universe is tiny relative to the corpus
        self._count_piece = lru_cache(maxsize=65536)(
            lambda piece: bpe_token_count(self._ranks, piece)
        )

    def count(self, text: str) -> int:
        n = 0
        for m in self._split.finditer(text):
            n += self._count_piece(m.group().encode("utf-8"))
        return n

    def count_batch(self, texts) -> List[int]:
        return [self.count(t or "") for t in texts]


def find_default_vocab() -> Optional[str]:
    """$OPEN_PARSE_BPE_PATH if set, else the first ``*.tiktoken``/``*.gz``
    file in the vendor dir.  A configured path that does not exist raises:
    falling back would silently change every token count."""
    p = os.environ.get(ENV_VAR)
    if p:
        if not os.path.exists(p):
            raise ValueError(f"${ENV_VAR} names a missing BPE vocabulary: {p}")
        return p
    if os.path.isdir(VENDOR_DIR):
        for name in sorted(os.listdir(VENDOR_DIR)):
            if name.endswith((".tiktoken", ".tiktoken.gz")):
                return os.path.join(VENDOR_DIR, name)
    return None


def load_default() -> Optional[BpeCounter]:
    """The vendored counter when a vocabulary file is present, else None
    (the regex approximation).  A vocabulary that is present but cannot be
    read raises ``ValueError`` naming the file.  ``core/tokens.py`` calls
    this on the first count, not at import."""
    path = find_default_vocab()
    if path is None:
        return None
    try:
        return BpeCounter(load_ranks(path))
    except (OSError, ValueError) as e:
        raise ValueError(f"cannot load BPE vocabulary {path}: {e}") from e
