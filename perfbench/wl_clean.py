"""clean_mixed / clean_ascii: the cleaning stage chain of
scripts/run_clean_corpus.py over the twin generated corpora.

Each stage is materialized as run_stage does it (``.cache()`` then
``count()``, never released within a pass); one pass runs the whole
chain, starting right after set-up as a pipeline job does, and the run
repeats passes until its time is up.  The cache is cleared between
passes.
"""

from __future__ import annotations

import os
import time

from common import cached_mb, labelled, median, pct

import corpus

STAGES = [
    "fix_encoding",
    "normalize_unicode",
    "exact_dedup",
    "near_dup_dedup",
    "decontaminate",
    "quality_filter",
    "lang_filter",
    "redact_pii",
]
N_DOCS = 200
ROW_GROUP_ROWS = 10


def prepare(work: str, seed: int, script: str) -> dict:
    c = corpus.clean_corpora(seed, N_DOCS)
    docs = c.ascii if script == "ascii" else c.mixed
    ev = c.eval_ascii if script == "ascii" else c.eval_mixed
    docs_path = os.path.join(work, f"clean_{script}.parquet")
    eval_path = os.path.join(work, f"eval_{script}.parquet")
    groups = corpus.write_corpus(docs, docs_path, ROW_GROUP_ROWS)
    corpus.write_corpus(ev, eval_path, ROW_GROUP_ROWS)
    return {
        "script": script,
        "docs_path": docs_path,
        "eval_path": eval_path,
        "plants": c.plants,
        "non_ascii_share": corpus.non_ascii_share(docs["text"]),
        "row_groups": len(groups),
        "row_groups_non_ascii": sum(groups),
    }


def _stage_fns(spark, eval_df):
    from pyspark.sql import functions as F

    from hlld_spark.operators.decontaminate import decontaminate
    from hlld_spark.operators.dedup import dedup_exact, minhash_lsh_dedup
    from hlld_spark.operators.encoding import with_encoding_repair
    from hlld_spark.operators.lang_profiles import with_lang_id_profiles
    from hlld_spark.operators.normalize import with_unicode_normalization
    from hlld_spark.operators.pii import pii_stats, redact_pii
    from hlld_spark.operators.text import with_quality_score, with_repetition_signals

    def near_dup(d):
        labels = minhash_lsh_dedup(d, "url", "text", shingle_k=5, shingle_unit="token", threshold=0.8)
        keepers = labels.filter(F.col("id") == F.col("keeper_id")).select(F.col("id").alias("url"))
        return d.join(keepers, "url", "left_semi")

    def decon(d):
        flagged = decontaminate(d, eval_df, "url", "text", n=13, unit="token")
        return d.join(flagged.select("url"), "url", "left_anti")

    def pii(d):
        pii_stats(d, "text").collect()  # the audit totals run_clean_corpus records
        return redact_pii(d, "text")

    allow = corpus.ALLOWED_LANGS
    return {
        "fix_encoding": lambda d: with_encoding_repair(d, "text")
        .drop("text")
        .withColumnRenamed("text_fixed", "text")
        .drop("mojibake_rounds"),
        "normalize_unicode": lambda d: with_unicode_normalization(d, "text", "NFC"),
        "exact_dedup": lambda d: dedup_exact(d, "url", ["text"], unique_ids=True),
        "near_dup_dedup": near_dup,
        "decontaminate": decon,
        "quality_filter": lambda d: with_repetition_signals(with_quality_score(d, "text"), "text").filter(
            (F.col("quality_score") >= 0.3) & (F.col("dup_word_ratio") <= 0.7)
        ),
        "lang_filter": lambda d: with_lang_id_profiles(d, "text").filter(F.col("lang_id").isin(allow)),
        "redact_pii": pii,
    }


def _one_pass(spark, inp, eval_path, tracer, trace):
    """Returns (wall_s, {stage: s}, {stage: rows}, final frame, cached stage frames)."""
    fns = _stage_fns(spark, spark.read.parquet(eval_path))
    t0 = time.perf_counter()
    docs = spark.read.parquet(inp)
    with labelled(spark, "stage.input", tracer, trace):
        n_in = docs.count()
    secs, rows, held = {}, {"input": n_in}, []
    for name in STAGES:
        s0 = time.perf_counter()
        with labelled(spark, f"stage.{name}", tracer, trace):
            out = fns[name](docs).cache()
            rows[name] = out.count()
        secs[name] = time.perf_counter() - s0
        held.append(out)
        docs = out
    wall = time.perf_counter() - t0
    return wall, secs, rows, docs, held


def _check(rows, final: dict, plants, n_docs) -> list[str]:
    """Every stage's row count against the plants, the planted docs that
    must or must not reach the end, and PII removal; ``final`` maps url
    to text after redact_pii."""
    p = plants
    want = {
        "input": n_docs,
        "fix_encoding": n_docs,
        "normalize_unicode": n_docs,
        "exact_dedup": n_docs - len(p.exact_dup_ids),
    }
    want["near_dup_dedup"] = want["exact_dedup"] - len(p.near_dup_ids)
    want["decontaminate"] = want["near_dup_dedup"] - len(p.eval_overlap_ids)
    want["quality_filter"] = want["decontaminate"] - len(p.junk_ids)
    want["lang_filter"] = want["quality_filter"] - len(p.numeric_ids)
    want["redact_pii"] = want["lang_filter"]
    errs = [f"{k}: {rows[k]} rows, planted {v}" for k, v in want.items() if rows[k] != v]
    lost = [u for u in p.pii_by_id if u not in final]
    if lost:
        errs.append(f"{len(lost)} of {len(p.pii_by_id)} PII docs did not reach the end of the chain")
    kept = [u for u in p.numeric_ids if u in final]
    if kept:
        errs.append(f"lang_filter kept {len(kept)} numeric dumps")
    leaked = [s for s in p.pii_strings if any(s in t for t in final.values())]
    if leaked:
        errs.append(f"redact_pii left {len(leaked)} planted PII strings")
    return errs


def run(spark, prep, seconds, tracer, traced: bool) -> dict:
    inp, plants = prep["docs_path"], prep["plants"]
    n_docs = N_DOCS
    errors: list[str] = []
    want_non_ascii = prep["row_groups"] if prep["script"] == "mixed" else 0
    if prep["row_groups_non_ascii"] != want_non_ascii:
        errors.append(f"{prep['row_groups_non_ascii']}/{prep['row_groups']} row groups hold non-ASCII text")

    passes, stage_secs, stage_rows, cache = [], {k: [] for k in STAGES}, [], []
    attempted = failed = 0
    t_end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        attempted += 1
        try:
            wall, secs, rows, final, held = _one_pass(spark, inp, prep["eval_path"], tracer, trace=len(passes) + 1)
        except Exception as e:  # a raising job counts as failed
            failed += 1
            errors.append(f"pass raised {type(e).__name__}: {e}")
            break
        passes.append(wall)
        for k, v in secs.items():
            stage_secs[k].append(v)
        stage_rows.append(rows)
        cache.append(cached_mb(spark))
        errors += _check(rows, dict(final.select("url", "text").collect()), plants, n_docs)
        if traced and len(passes) == 1:
            lsh_frac = _lsh_multi_bucket_frac(spark, held[STAGES.index("exact_dedup")], tracer)
        # release every cached stage, and what the operators cached
        # themselves, so each pass starts from the same state
        spark.catalog.clearCache()
    if not passes:
        raise RuntimeError(errors[-1])

    ops = [v for k in STAGES for v in stage_secs[k]]
    res = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "rows_per_s": n_docs / median(passes),
        "ops_per_s": len(STAGES) / median(passes),
        # a batch job's latency is its pass; the per-call tail is per-layer
        "latencies_s": ops,
        "p50_us": median(passes) * 1e6,
        "p99_us": pct(ops, 99) * 1e6,
        "pass_s": passes,
        "measure_s": sum(passes),
        "report": [
            f"corpus: {n_docs} docs, non-ASCII char share {prep['non_ascii_share']:.3f}, "
            f"{prep['row_groups_non_ascii']}/{prep['row_groups']} row groups hold non-ASCII text",
            "stage rows: " + " ".join(f"{k}={v}" for k, v in stage_rows[0].items()) if stage_rows else "",
        ],
        "layers": {},
    }
    if traced:
        lay = res["layers"]
        for k in STAGES:
            lay[f"stage.{k}_s"] = median(stage_secs[k])
            lay[f"stage.{k}_rows"] = stage_rows[0][k]
        lay["spark.cache_mb"] = median(cache)
        gap = [w - sum(stage_secs[k][i] for k in STAGES) for i, w in enumerate(passes)]
        res["report"].append(
            f"stage spans cover {100 * (1 - median(gap) / median(passes)):.1f}% of the pass wall time; "
            f"gap {median(gap):.3f} s (input scan + plan set-up)"
        )
        lay["operators.dedup.lsh_multi_bucket_frac"] = lsh_frac
    return res


def _lsh_multi_bucket_frac(spark, docs, tracer) -> float:
    """Share of (band, bucket) groups with >= 2 members among all groups
    the near-dup verify receives, on the near_dup_dedup stage's input."""
    from pyspark.sql import functions as F

    from hlld_spark.operators.dedup import minhash_bands, minhash_signature_df

    with labelled(spark, "operators.dedup.lsh_buckets", tracer):
        sig = minhash_signature_df(docs, "url", "text", 128, 5, "token")
        sizes = minhash_bands(sig, "url", 128, 16).groupBy("band", "bucket").count()
        r = sizes.agg(F.count("*").alias("groups"), F.sum((F.col("count") >= 2).cast("long")).alias("multi")).first()
    return r["multi"] / r["groups"]
