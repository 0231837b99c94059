"""Benchmark decontamination (n-gram overlap vs an eval set).

Semantics pinned here: a doc is flagged iff it shares >=1 character
n-gram with the eval set; n_matched_grams counts matched POSITIONS
(occurrences); docs shorter than n are never flagged; the bloom method
over-flags at most (never under-flags: every exact flag is a bloom flag).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hlld_spark.operators.decontaminate import decontaminate, eval_gram_table


def _corpus(spark):
    rows = [
        # 0: contains the eval phrase verbatim
        (0, "training text with the forbidden benchmark passage inside it"),
        # 1: clean
        (1, "a perfectly ordinary document about gardens and rivers"),
        # 2: contains a different eval phrase
        (2, "prefix junk the quick brown fox jumps over suffix junk"),
        # 3: shares only short overlaps (< n) with eval
        (3, "benchmark"),  # 9 chars < 13: can never be flagged at n=13
        # 4: clean, long
        (4, "completely unrelated content " * 5),
        # 5: duplicate of the contaminated doc 0
        (5, "training text with the forbidden benchmark passage inside it"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _eval_set(spark):
    return spark.createDataFrame(
        [
            (100, "the forbidden benchmark passage"),
            (101, "the quick brown fox jumps over the lazy dog"),
        ],
        "eval_id long, text string",
    )


def test_exact_flags(spark):
    flagged = decontaminate(
        _corpus(spark), _eval_set(spark), "doc_id", "text", n=13, unit="char"
    )
    got = {r["doc_id"]: r["n_matched_grams"] for r in flagged.collect()}
    assert set(got) == {0, 2, 5}
    # doc 0 and its duplicate doc 5 match identically
    assert got[0] == got[5] > 0
    # occurrence counts: doc 0 contains the 31-char eval phrase -> all
    # 31-13+1 = 19 of its 13-grams appear in doc 0 (plus boundary grams
    # are NOT counted: they include corpus context)
    assert got[0] >= 19


def test_short_docs_never_flagged(spark):
    flagged = decontaminate(_corpus(spark), _eval_set(spark), "doc_id", "text", n=13, unit="char")
    assert 3 not in {r["doc_id"] for r in flagged.collect()}


def test_keepers_join(spark):
    docs = _corpus(spark)
    flagged = decontaminate(docs, _eval_set(spark), "doc_id", "text", n=13, unit="char")
    keep = docs.join(flagged, "doc_id", "left_anti")
    assert sorted(r["doc_id"] for r in keep.collect()) == [1, 3, 4]


def test_bloom_superset_of_exact(spark):
    docs = _corpus(spark)
    ev = _eval_set(spark)
    exact = {r["doc_id"] for r in decontaminate(docs, ev, "doc_id", "text", n=13, unit="char").collect()}
    bloom = {
        r["doc_id"]
        for r in decontaminate(docs, ev, "doc_id", "text", n=13, method="bloom", unit="char").collect()
    }
    assert exact <= bloom  # bloom may over-flag, never under-flag


def test_no_contamination_empty(spark):
    docs = spark.createDataFrame([(0, "nothing shared here at all")], "doc_id long, text string")
    ev = spark.createDataFrame([(1, "entirely disjoint evaluation content")], "eval_id long, text string")
    assert decontaminate(docs, ev, "doc_id", "text", n=13).count() == 0


def test_eval_gram_table_shape_and_cap(spark):
    ev = _eval_set(spark)
    t = eval_gram_table(ev, "text", n=13, unit="char")
    assert t.dtype == np.uint64
    assert np.all(t[:-1] <= t[1:])
    # phrase lens 31 and 44 -> 19 + 32 grams, minus any dup
    assert 45 <= len(t) <= 51
    with pytest.raises(ValueError):
        eval_gram_table(ev, "text", n=13, max_eval_grams=10, unit="char")


def test_unicode_grams(spark):
    """Code-point grams: CJK eval text matches despite multi-byte utf-8."""
    docs = spark.createDataFrame(
        [(0, "前置き今朝は天気が寒くて通りは静かでした後書き"), (1, "全く関係のない内容です完全に")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(9, "今朝は天気が寒くて通りは静か")], "eval_id long, text string")
    flagged = decontaminate(docs, ev, "doc_id", "text", n=8, unit="char")
    assert {r["doc_id"] for r in flagged.collect()} == {0}


def test_no_corpus_exchange_in_plan(spark):
    """The scale claim, plan-asserted: flagging is ONE mapInPandas over
    the corpus scan — no Exchange anywhere in the probe plan (the eval
    table is broadcast as a driver variable, not joined)."""
    docs = _corpus(spark)
    flagged = decontaminate(docs, _eval_set(spark), "doc_id", "text", n=13)
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("PythonMapInPandas") + plan.count("MapInPandas") >= 1


def test_partitioning_invariance(spark):
    """Flags and occurrence counts are identical however the corpus is
    partitioned — batch boundaries and task layout must not leak into
    results (the kernel masks cross-doc grams per batch)."""
    docs = _corpus(spark)
    ev = _eval_set(spark)
    base = sorted(
        (r["doc_id"], r["n_matched_grams"])
        for r in decontaminate(docs, ev, "doc_id", "text", n=13, unit="char").collect()
    )
    for parts in (1, 3, 7):
        got = sorted(
            (r["doc_id"], r["n_matched_grams"])
            for r in decontaminate(
                docs.repartition(parts), ev, "doc_id", "text", n=13, unit="char"
            ).collect()
        )
        assert got == base, parts


def test_parquet_path_equivalence(spark, tmp_path):
    """decontaminate_parquet (worker-side scan) returns exactly the
    DataFrame path's flags and counts on the same table."""
    from hlld_spark.operators.decontaminate import decontaminate_parquet

    p = str(tmp_path / "docs.parquet")
    _corpus(spark).write.parquet(p)
    docs = spark.read.parquet(p)
    ev = _eval_set(spark)
    base = sorted(
        (r["doc_id"], r["n_matched_grams"])
        for r in decontaminate(docs, ev, "doc_id", "text", n=13, unit="char").collect()
    )
    got = sorted(
        (r["doc_id"], r["n_matched_grams"])
        for r in decontaminate_parquet(spark, p, ev, "doc_id", "text", n=13, unit="char").collect()
    )
    assert got == base and len(got) == 3


def test_overflow_falls_back_to_distributed_join(spark, tmp_path):
    """VERDICT r4 #6: an eval set past max_eval_grams no longer raises —
    both paths fall back to a distributed gram equi-join producing
    IDENTICAL flags and occurrence counts to the broadcast probe."""
    from hlld_spark.operators.decontaminate import decontaminate_parquet

    p = str(tmp_path / "docs.parquet")
    _corpus(spark).write.parquet(p)
    docs = spark.read.parquet(p)
    ev = _eval_set(spark)
    for unit, n in (("char", 13), ("token", 5)):
        base = sorted(
            (r["doc_id"], r["n_matched_grams"])
            for r in decontaminate(docs, ev, "doc_id", "text", n=n, unit=unit).collect()
        )
        assert base, (unit, n)
        joined = sorted(
            (r["doc_id"], r["n_matched_grams"])
            for r in decontaminate(
                docs, ev, "doc_id", "text", n=n, unit=unit, max_eval_grams=3
            ).collect()
        )
        assert joined == base, (unit, n)
        joined_pq = sorted(
            (r["doc_id"], r["n_matched_grams"])
            for r in decontaminate_parquet(
                spark, p, ev, "doc_id", "text", n=n, unit=unit, max_eval_grams=3
            ).collect()
        )
        assert joined_pq == base, (unit, n)


# ---------------------------------------------------------------------------
# token-mode (the DEFAULT unit — the published 13-token rule, VERDICT r3 #1)
# ---------------------------------------------------------------------------

_EVAL_PASSAGE = (
    "the committee concluded that the proposed method outperforms every "
    "baseline on all three held out evaluation suites by a wide margin"
)  # 21 tokens


def _token_corpus(spark):
    filler = "wholly unrelated filler words " * 5
    rows = [
        # 0: contains the 21-token eval passage verbatim, with context
        (0, f"intro context {_EVAL_PASSAGE} trailing context here"),
        # 1: clean, long
        (1, ("ordinary training document about gardens rivers and mountains " * 3).strip()),
        # 2: same passage but with messy whitespace (tabs, runs of spaces,
        #    newline) — token grams must normalize identically
        (2, "intro\tcontext  " + _EVAL_PASSAGE.replace(" method ", " method\n ") + "  end"),
        # 3: shares a 12-token prefix of the passage only (< n=13) inside
        #    a long doc -> never flagged at n=13
        (3, filler + " ".join(_EVAL_PASSAGE.split()[:12]) + " " + filler),
        # 4: only 12 tokens total, all from the passage -> too short
        (4, " ".join(_EVAL_PASSAGE.split()[:12])),
        # 5: character-level overlap but different tokenization: the
        #    first 14 passage tokens with "outperforms every" fused, so
        #    neither fragment reaches 13 shared tokens -> token-clean,
        #    but the 7-token shared prefix (~45 chars) char-flags
        (5, filler + " ".join(
            _EVAL_PASSAGE.split()[:7]
            + ["".join(_EVAL_PASSAGE.split()[7:9])]
            + _EVAL_PASSAGE.split()[9:14]
        ) + " " + filler),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _token_eval(spark):
    return spark.createDataFrame(
        [(100, _EVAL_PASSAGE), (101, "a second unrelated benchmark prompt nobody shares")],
        "eval_id long, text string",
    )


def test_token_mode_is_default_and_flags(spark):
    flagged = decontaminate(_token_corpus(spark), _token_eval(spark), "doc_id", "text", n=13)
    got = {r["doc_id"]: r["n_matched_grams"] for r in flagged.collect()}
    # 21-token passage -> 21-13+1 = 9 token 13-grams, all present in 0 and 2
    assert got == {0: 9, 2: 9}


def test_token_whitespace_normalization(spark):
    """Tabs / space runs / newlines tokenize identically (str.split)."""
    flagged = decontaminate(_token_corpus(spark), _token_eval(spark), "doc_id", "text", n=13)
    got = {r["doc_id"]: r["n_matched_grams"] for r in flagged.collect()}
    assert got[0] == got[2]


def test_token_short_overlap_not_flagged(spark):
    """12-token overlap (< n) and sub-token character overlap are clean."""
    flagged = decontaminate(_token_corpus(spark), _token_eval(spark), "doc_id", "text", n=13)
    ids = {r["doc_id"] for r in flagged.collect()}
    assert 3 not in ids and 4 not in ids and 5 not in ids


def test_token_char_modes_differ_as_documented(spark):
    """The same corpus under unit='char' over-flags (doc 3/5 share long
    character runs) — the r3 finding the token default fixes."""
    char_ids = {
        r["doc_id"]
        for r in decontaminate(
            _token_corpus(spark), _token_eval(spark), "doc_id", "text", n=13, unit="char"
        ).collect()
    }
    assert {3, 5} <= char_ids  # char mode flags the sub-13-token overlaps
    token_ids = {
        r["doc_id"]
        for r in decontaminate(_token_corpus(spark), _token_eval(spark), "doc_id", "text", n=13).collect()
    }
    assert token_ids == {0, 2}


def test_token_eval_gram_table_shape(spark):
    t = eval_gram_table(_token_eval(spark), "text", n=13, unit="token")
    # 21 tokens -> 9 grams; 7-token prompt -> 0 grams
    assert len(t) == 9
    t3 = eval_gram_table(_token_eval(spark), "text", n=3, unit="token")
    assert len(t3) == 19 + 5  # (21-2) + (7-2), all distinct


def test_token_bloom_superset(spark):
    docs, ev = _token_corpus(spark), _token_eval(spark)
    exact = {r["doc_id"] for r in decontaminate(docs, ev, "doc_id", "text", n=13).collect()}
    bloom = {
        r["doc_id"]
        for r in decontaminate(docs, ev, "doc_id", "text", n=13, method="bloom").collect()
    }
    assert exact <= bloom


def test_token_partitioning_invariance(spark):
    docs, ev = _token_corpus(spark), _token_eval(spark)
    base = sorted(
        (r["doc_id"], r["n_matched_grams"])
        for r in decontaminate(docs, ev, "doc_id", "text", n=13).collect()
    )
    for parts in (1, 3, 7):
        got = sorted(
            (r["doc_id"], r["n_matched_grams"])
            for r in decontaminate(docs.repartition(parts), ev, "doc_id", "text", n=13).collect()
        )
        assert got == base, parts


def test_token_parquet_path_equivalence(spark, tmp_path):
    from hlld_spark.operators.decontaminate import decontaminate_parquet

    p = str(tmp_path / "docs_tok.parquet")
    _token_corpus(spark).write.parquet(p)
    docs = spark.read.parquet(p)
    ev = _token_eval(spark)
    base = sorted(
        (r["doc_id"], r["n_matched_grams"])
        for r in decontaminate(docs, ev, "doc_id", "text", n=13).collect()
    )
    got = sorted(
        (r["doc_id"], r["n_matched_grams"])
        for r in decontaminate_parquet(spark, p, ev, "doc_id", "text", n=13).collect()
    )
    assert got == base and len(got) == 2


def test_token_no_corpus_exchange_in_plan(spark):
    """Token mode keeps the zero-corpus-Exchange plan shape."""
    flagged = decontaminate(_token_corpus(spark), _token_eval(spark), "doc_id", "text", n=13)
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_unrelated_valueerror_propagates(spark, monkeypatch):
    """ADVICE r5 / VERDICT r5 #6: only EvalGramOverflow may trigger the
    distributed-join fallback. An UNRELATED ValueError raised while
    building the eval gram table must propagate, not silently reroute
    the query onto the full-corpus-shuffle path."""
    import hlld_spark.operators.decontaminate as d

    docs = spark.createDataFrame([(1, "some corpus text")], "id long, text string")
    ev = spark.createDataFrame([("eval text",)], "text string")

    def boom(*a, **k):
        raise ValueError("unrelated driver-side failure")

    monkeypatch.setattr(d, "eval_gram_table", boom)
    with pytest.raises(ValueError, match="unrelated driver-side failure"):
        d.decontaminate(docs, ev, "id", "text")
    # the overflow subtype still takes the fallback (sanity: it's a ValueError)
    assert issubclass(d.EvalGramOverflow, ValueError)


def test_token_parquet_batch_ending_in_empty_doc(spark, tmp_path):
    """An all-ASCII parquet batch whose LAST doc is empty: the Arrow
    token probe must place every doc's token start inside the batch
    buffer (an empty last doc starts at its end) and return the same
    flags as the DataFrame path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hlld_spark.operators.decontaminate import decontaminate_parquet

    texts = [f"intro context {_EVAL_PASSAGE} trailing", "plain clean words", ""]
    p = str(tmp_path / "ends_empty.parquet")
    pq.write_table(pa.table({"doc_id": pa.array([0, 1, 2], pa.int64()), "text": texts}), p)
    ev = _token_eval(spark)
    base = sorted(
        (r["doc_id"], r["n_matched_grams"])
        for r in decontaminate(spark.read.parquet(p), ev, "doc_id", "text", n=13).collect()
    )
    got = sorted(
        (r["doc_id"], r["n_matched_grams"])
        for r in decontaminate_parquet(spark, p, ev, "doc_id", "text", n=13, unit="token").collect()
    )
    assert got == base == [(0, 9)]
