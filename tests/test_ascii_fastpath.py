"""Shingle front-end gates: one code-point front end (``_codepoints``)
feeds one char kernel and one token kernel, whatever the input. Every
shape — pandas Series or Arrow ``string``/``large_string``, chunked or
sliced, all-ASCII (the zero-copy ``uint8`` branch) or not (the UTF-32
branch), nulls and empty docs at any position, exotic whitespace
(str.split's full ASCII set plus \\x85, \\xa0, \\u3000) — must give
Arrow input == Series input == a per-doc Python reference."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from hlld_spark.operators.decontaminate import _shingle
from hlld_spark.operators.dedup import (
    _ascii_text_buffer,
    _char_shingle_hashes,
    _codepoints,
    _splitmix,
    _token_shingle_hashes,
)
from tests.test_kernels import _reference_shingles, _scalar_poly

_ASCII_WS = [" ", "\t", "\n", "\r", "\x0b", "\x0c", "\x1c", "\x1d", "\x1e", "\x1f"]


def _rand_ascii_texts(rng, n_docs):
    ws = _ASCII_WS
    out = []
    for _ in range(n_docs):
        kind = rng.integers(0, 10)
        if kind == 0:
            out.append("")
        elif kind == 1:
            out.append(rng.choice(ws) * int(rng.integers(1, 5)))
        elif kind == 2:
            out.append("ab")  # shorter than any k used here
        else:
            n_words = int(rng.integers(1, 40))
            words = [
                "".join(chr(c) for c in rng.integers(33, 127, size=rng.integers(1, 12)))
                for _ in range(n_words)
            ]
            seps = [str(rng.choice(ws)) * int(rng.integers(1, 3)) for _ in range(n_words)]
            out.append("".join(w + s for w, s in zip(words, seps)))
    return out


def _reference_tokens(texts, n):
    """Per-doc python reference for _token_shingle_hashes' contract:
    str.split() tokens, each hashed as splitmix(poly(code points)); n
    consecutive token hashes poly-fold into one gram, and a doc with
    fewer than n tokens folds all of them into ONE sentinel gram."""
    out, offs, ntoks = [], [0], []
    for t in texts:
        toks = [int(_splitmix(np.array([_scalar_poly(map(ord, w))], dtype=np.uint64))[0]) for w in (t or "").split()]
        if len(toks) < n:
            out.append(_scalar_poly(toks))
        else:
            out.extend(_scalar_poly(toks[i : i + n]) for i in range(len(toks) - n + 1))
        offs.append(len(out))
        ntoks.append(len(toks))
    return _splitmix(np.array(out, dtype=np.uint64)), np.array(offs), np.array(ntoks)


def _reference(texts, n, unit):
    if unit == "char":
        h, offs = _reference_shingles(texts, n)
        return h, offs, np.array([len(t or "") for t in texts])
    return _reference_tokens(texts, n)


def _arrow_inputs(texts):
    """The same docs as every Arrow column shape the kernels accept."""
    cut = len(texts) // 2
    out = {}
    for typ in (pa.string(), pa.large_string()):
        out[f"{typ}"] = pa.array(texts, type=typ)
        out[f"{typ}-chunked"] = pa.chunked_array(
            [pa.array(texts[:cut], type=typ), pa.array(texts[cut:], type=typ)], type=typ
        )
        out[f"{typ}-sliced"] = pa.array(["lead-in é doc", *texts, "trailing doc"], type=typ).slice(1, len(texts))
    return out


def _assert_inputs_agree(texts, n, unit):
    """Arrow input == Series input == per-doc reference, via the
    decontamination dispatcher (which takes either input kind)."""
    want = _reference(texts, n, unit)
    inputs = {"series": pd.Series(texts, dtype=object), **_arrow_inputs(texts)}
    for name, col in inputs.items():
        got = _shingle(col, n, unit)
        for w, g in zip(want, got):
            assert np.array_equal(w, g), (name, unit, n)


@pytest.mark.parametrize("k", [3, 13])
def test_char_ascii_matches_pandas(k):
    rng = np.random.default_rng(7)
    texts = _rand_ascii_texts(rng, 200)
    assert _codepoints(pa.array(texts))[0].dtype == np.uint8
    _assert_inputs_agree(texts, k, "char")
    h, o = _char_shingle_hashes(pd.Series(texts), k)
    rh, ro = _reference_shingles(texts, k)
    assert np.array_equal(h, rh) and np.array_equal(o, ro)


@pytest.mark.parametrize("n", [2, 13])
def test_token_ascii_matches_pandas(n):
    rng = np.random.default_rng(11)
    texts = _rand_ascii_texts(rng, 200)
    _assert_inputs_agree(texts, n, "token")
    got = _token_shingle_hashes(pa.array(texts), n)
    for w, g in zip(_reference_tokens(texts, n), got):
        assert np.array_equal(w, g)


def test_sliced_batch_offsets():
    """to_batches()/slice produces arrays with offset>0 — the buffer
    extraction must rebase correctly on both front-end branches."""
    for texts in (["alpha beta", "gamma", "", "delta epsilon zeta", "x y"], ["ça va", "", "日本 語", "plain"]):
        sl = pa.array(texts * 10).slice(7, 31)
        buf, lens = _codepoints(sl)
        bounds = np.concatenate(([0], np.cumsum(lens)))
        got = ["".join(map(chr, buf[s:e])) for s, e in zip(bounds[:-1], bounds[1:])]
        assert got == sl.to_pylist()
        _assert_inputs_agree(sl.to_pylist(), 3, "char")
    data, lens = _ascii_text_buffer(pa.array(["alpha beta", "gamma", "", "x y"] * 10).slice(7, 31))
    assert len(data) == lens.sum()


def test_fallback_on_non_ascii_and_nulls():
    """Non-ASCII batches take the UTF-32 branch, nulls read as empty
    docs, and both must hash exactly like the reference."""
    assert _ascii_text_buffer(pa.array(["héllo", "plain"])) is None
    assert _ascii_text_buffer(pa.array(["plain", None])) is None
    assert _codepoints(pa.array(["héllo", "plain"]))[0].dtype == np.uint32
    assert _codepoints(pa.array(["plain", None]))[0].dtype == np.uint8
    texts = ["héllo wörld çafé", "ascii only here", "日本語 テキスト です ね", None, "😀 emoji 🚀 tokens here"]
    for unit in ("char", "token"):
        for n in (2, 13):
            _assert_inputs_agree(texts, n, unit)
    _assert_inputs_agree(["plain ascii words", None, "more words"], 2, "token")


def test_dispatcher_ascii_equals_pandas():
    rng = np.random.default_rng(13)
    texts = _rand_ascii_texts(rng, 150)
    for unit in ("char", "token"):
        _assert_inputs_agree(texts, 13, unit)


def test_empty_batch():
    for col in (pa.array([], type=pa.string()), pa.array([], type=pa.large_string()), pd.Series([], dtype=object)):
        for unit in ("char", "token"):
            h, o, u = _shingle(col, 13, unit)
            assert len(h) == 0 and list(o) == [0] and len(u) == 0


@pytest.mark.parametrize(
    "texts",
    [
        ["a b", ""],  # empty doc last: the doc start lands past the buffer
        ["", "a b c d"],  # empty doc first
        ["", "", "only one doc has words", ""],  # all empty but one
        ["", "", "x"],
        ["a b", None],
    ],
    ids=["empty-last", "empty-first", "one-nonempty", "one-char-last", "null-last"],
)
@pytest.mark.parametrize("unit", ["char", "token"])
def test_empty_doc_positions(texts, unit):
    for n in (1, 2, 3):
        _assert_inputs_agree(texts, n, unit)


def test_null_mid_batch():
    texts = ["first doc words", None, "third doc words here", None, "", "last"]
    for unit in ("char", "token"):
        _assert_inputs_agree(texts, 2, unit)
    _assert_inputs_agree([t if t is None else t + " é" for t in texts], 2, "token")


def test_mixed_script_whitespace_tokens():
    """Non-ASCII whitespace (\\x85 NEL, \\xa0 NBSP, \\u3000 ideographic
    space, \\u2028/\\u2029 separators, \\u1680, \\u202f) splits tokens
    exactly as str.split() does."""
    texts = [
        "русский\x85текст\xa0здесь\u3000日本語\u3000テキスト",
        "\u3000leading and trailing\xa0",
        "word\u2028line\u2029para\u1680ogham\u202fnarrow",
        "ascii words only",
        "\x85\xa0\u3000",
    ]
    assert [len(t.split()) for t in texts] == [5, 3, 5, 3, 0]
    for n in (1, 2, 5):
        _assert_inputs_agree(texts, n, "token")
    _, _, ntoks = _token_shingle_hashes(pa.array(texts), 2)
    assert list(ntoks) == [5, 3, 5, 3, 0]


def test_profile_lang_ascii_matches_pandas():
    """r7 ASCII lang-id kernel must decide identically to the pandas
    kernel on ASCII input — including prefix truncation, empty docs and
    whitespace-only docs, with empty docs first, last, and around a
    single non-empty doc."""
    from hlld_spark.operators.lang_profiles import (
        EVAL_SENTENCES,
        _profile_lang_ascii,
        _profile_lang_batch,
    )

    rng = np.random.default_rng(23)
    texts = [s for ss in EVAL_SENTENCES.values() for s in ss if s.isascii()]
    texts += ["", "  ", "ab", "x " * 40, "word " * 700]  # >1000 chars triggers truncation
    texts += _rand_ascii_texts(rng, 100)
    batches = [
        texts,
        texts + [""],
        [""] + texts,
        ["", "", "the only doc with words in it", ""],
        ["", "", ""],
    ]
    for batch in batches:
        want = _profile_lang_batch(pd.Series(batch)).to_numpy()
        data, lens = _ascii_text_buffer(pa.array(batch, type=pa.string()))
        got = _profile_lang_ascii(data, lens)
        assert np.array_equal(want, got), list(zip(batch, want, got))[:5]
