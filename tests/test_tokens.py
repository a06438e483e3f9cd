"""Token-counter invariants (core/tokens.py)."""

import os
import re
import subprocess
import sys

from hypothesis import given, settings, strategies as st

from open_parse_spark.core.tokens import _PRETOKEN_RE, num_tokens


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=400))
def test_subn_count_equals_findall_count(s):
    # the fast path counts matches with subn(""); it must equal the
    # straightforward findall count for any input
    assert _PRETOKEN_RE.subn("", s)[1] == len(_PRETOKEN_RE.findall(s))


def test_num_tokens_basics():
    assert num_tokens(None) == 0
    assert num_tokens("") == 0
    assert num_tokens("word") == 1
    assert num_tokens("a" * 8) == 2  # 4-char chunks
    assert num_tokens("12345") == 2  # <=3-digit chunks
    assert num_tokens("it's") == 2  # word + contraction


def test_num_tokens_long_string_uncached_path():
    long = "word " * 1000  # > _CACHE_MAX_LEN chars -> direct path
    assert num_tokens(long) == num_tokens_reference(long)


def num_tokens_reference(s):
    return len(re.findall(_PRETOKEN_RE, s))


def test_tiktoken_that_cannot_load_its_encoding_fails_the_import(tmp_path):
    """An installed tiktoken whose cl100k_base cannot load (no cached file,
    no network) fails the import instead of silently counting through the
    approximation."""
    stub = tmp_path / "tiktoken"
    stub.mkdir()
    (stub / "__init__.py").write_text(
        "def get_encoding(name):\n    raise RuntimeError('no cached ' + name)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([str(tmp_path), repo]))
    proc = subprocess.run(
        [sys.executable, "-c", "import open_parse_spark.core.tokens"],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    assert "RuntimeError: no cached cl100k_base" in proc.stderr
