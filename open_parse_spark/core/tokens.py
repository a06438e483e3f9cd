"""Deterministic token counting.

The reference counts tokens with tiktoken's ``cl100k_base`` encoding
(``/root/reference/src/openparse/utils.py:6-10``) and those counts gate
control flow: ``Node.is_stub = tokens < 50``, ``is_small = tokens < 256``,
``is_large = tokens > 1024`` (``/root/reference/src/openparse/schemas.py:555-565``,
``consts.py:3-4``) and the ``RemoveNodesBelowNTokens(min_tokens=50)`` filter
(``processing/basic_transforms.py:261-275``).

tiktoken is not installed in this environment, so we use a deterministic,
pure-regex approximation of the cl100k_base pre-tokenizer.  What matters for
per-turn text equality is that the *same* counter is used by the
single-threaded oracle and the distributed Spark pipeline — both import this
module.  If tiktoken is available it is preferred (and then oracle and
pipeline both use it, so equality still holds).

The approximation: split on a cl100k-style pre-tokenizer regex (contractions,
letter runs, number runs of <=3 digits, punctuation runs, whitespace), then
charge ``ceil(len(piece)/4)`` tokens for letter runs longer than 4 chars
(BPE merges roughly 4 chars/token for English) and 1 token per other piece.
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import Iterable, List, Optional

try:
    import tiktoken  # type: ignore
except ImportError:
    _ENCODER = None
else:  # pragma: no cover - exercised only when tiktoken is installed
    if getattr(tiktoken, "__open_parse_shim__", False):
        # tests/ref_loader.py shims tiktoken so the REFERENCE routes its
        # counts through this module; adopting the shim as our own encoder
        # would recurse the dependency and shadow the vendored-BPE tier
        # after a module reload (found as 50 cascading test failures)
        _ENCODER = None
    else:
        # an installed tiktoken that cannot load cl100k_base (no cached
        # file, no network) raises here rather than falling back silently
        _ENCODER = tiktoken.get_encoding("cl100k_base")

# middle preference tier: the vendored BPE engine (core/bpe.py) — exact
# cl100k counts when a vocabulary file is dropped at $OPEN_PARSE_BPE_PATH
# (or open_parse_spark/data/bpe/), no tiktoken install needed.  Resolved
# LAZILY on the first count: parsing a ~100k-line vocab at module import
# would tax every process that imports the package, including CLI commands
# that never count a token (review finding).
_BPE = None
_BPE_RESOLVED = _ENCODER is not None  # tiktoken present: BPE tier never used


def _get_bpe():
    global _BPE, _BPE_RESOLVED
    if not _BPE_RESOLVED:
        from open_parse_spark.core import bpe as _bpe_mod

        _BPE = _bpe_mod.load_default()
        _BPE_RESOLVED = True
    return _BPE

# cl100k_base-style pre-tokenizer where EVERY match counts as exactly one
# token (letter runs are chunked to <=4 chars by the regex engine itself, so
# counting = one C-level findall pass, no per-piece Python):
#  - contractions: 1 token
#  - letter runs: ceil(len/4) tokens (BPE ~4 chars/token for English)
#  - digit runs: <=3 digits per token (like cl100k)
#  - punctuation runs: <=3 chars per token
#  - whitespace: a single space merges into the next word (0 tokens);
#    longer runs cost 1 per run
#  Branch order/quantifiers tuned r6 (counts PROVABLY identical: every
#  branch is a quantified class with nothing after it, so possessive ==
#  greedy, and the letter/contraction branches are disjoint on the first
#  character — the contraction still precedes the punctuation class that
#  could also consume a lone apostrophe): letter runs first (the most
#  common token) + possessive quantifiers measured ~10% faster than the
#  original alternation on node-sized texts, equality asserted in
#  tests/test_tokens.py.
_PRETOKEN_RE = re.compile(
    r"[A-Za-zÀ-￿]{1,4}+"
    r"|'(?:[sdmt]|ll|ve|re)"
    r"|[0-9]{1,3}+"
    r"|[^\sA-Za-z0-9À-￿]{1,3}+"
    r"|\s{2,}+"
)

# counting via subn("") avoids materializing every matched substring the
# way findall does — ~20% faster on node-sized texts, identical counts
# (asserted in tests/test_tokens.py)
_subn = _PRETOKEN_RE.subn


# Cache sized by worst-case pinned bytes, not just entry count: 8192 entries
# x 2048 chars caps resident strings at ~16-64 MB per Python worker even on
# diverse corpora where every entry is unique (one worker per core per
# executor means this multiplies by the core count).
_CACHE_MAX_LEN = 2_048


def _count(string: str) -> int:
    """The counter dispatch: tiktoken, else the vendored BPE, else the
    regex approximation."""
    if _ENCODER is not None:  # pragma: no cover
        # encode_ordinary: plain encode() RAISES on text containing special
        # tokens like '<|endoftext|>' (common in scraped ML content), and
        # the batch path already uses the ordinary variant
        return len(_ENCODER.encode_ordinary(string))
    bpe = _get_bpe()
    if bpe is not None:
        return bpe.count(string)
    return _subn("", string)[1]


_num_tokens_cached = lru_cache(maxsize=8192)(_count)


def num_tokens(string: Optional[str]) -> int:
    """Deterministic token count; mirrors reference ``utils.num_tokens``
    (``/root/reference/src/openparse/utils.py:6-10``) with a pure-regex
    fallback when tiktoken is unavailable.  Short strings are memoized
    (node texts repeat across pipeline steps); long strings are counted
    directly so the per-worker cache never pins large payloads."""
    if not string:
        return 0
    if len(string) > _CACHE_MAX_LEN:
        return _count(string)
    return _num_tokens_cached(string)


def num_tokens_batch(strings: Iterable[Optional[str]]) -> List[int]:
    """Vectorized-ish batch counting (single pass, cached)."""
    if _ENCODER is not None:  # pragma: no cover
        clean = [s or "" for s in strings]
        return [len(t) for t in _ENCODER.encode_ordinary_batch(clean)]
    return [num_tokens(s) for s in strings]
