"""sketch_agg: the batch approximate-aggregation job.

One pass runs every public sketch call once, each followed by the action
that materializes it; the run repeats passes until its time is up.  The
set-up already started the JVM and booted the Python workers, so there
is no separate warm-up pass.  Inputs: a generated web-page parquet (url,
warc_ts, lang) and a TPC-H-shaped lineitem parquet (l_orderkey).
"""

from __future__ import annotations

import os
import time

import numpy as np

from common import hll_bound, hll_se, labelled, median, pct

import corpus

N_PAGES = 100_000
N_ORDERS = 30_000  # ~120k lineitem rows
QS = (0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99)
TDIGEST_RANK_ERR = 0.02  # the bound tests/test_companions.py holds t-digest to
KLL_RANK_ERR = 0.0165  # KLL at k=200: 1.65% normalized rank error (99% confidence)


def prepare(spark, work: str, seed: int) -> dict:
    """Write both parquets and compute the exact answers with Catalyst,
    once per seed, outside any timing."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    pages_path = os.path.join(work, "pages.parquet")
    li_path = os.path.join(work, "lineitem.parquet")
    web = corpus.web_pages(seed, N_PAGES)
    pq.write_table(pa.Table.from_pandas(web, preserve_index=False), pages_path, row_group_size=25_000)
    li = corpus.lineitem_orderkeys(seed, N_ORDERS)
    pq.write_table(pa.Table.from_pandas(li, preserve_index=False), li_path, row_group_size=30_000)

    pages = spark.read.parquet(pages_path).withColumn("day", F.to_date("warc_ts"))
    exact = pages.rollup("lang", "day").agg(F.countDistinct("url").alias("d"), F.count("*").alias("n")).collect()
    by_lang = {r["lang"]: (r["d"], r["n"]) for r in exact if r["lang"] is not None and r["day"] is None}
    by_lang_day = {(r["lang"], str(r["day"])): r["d"] for r in exact if r["day"] is not None}
    ok_distinct = spark.read.parquet(li_path).agg(F.countDistinct("l_orderkey").alias("d")).first()["d"]
    urls = web["url"].unique()
    return {
        "pages_path": pages_path,
        "li_path": li_path,
        "n_li": len(li),
        "by_lang": by_lang,
        "by_lang_day": by_lang_day,
        "ok_distinct": ok_distinct,
        "ok_sorted": np.sort(li["l_orderkey"].to_numpy().astype(np.float64)),
        "urls": urls,
    }


def _one_pass(spark, prep, tracer, trace):
    """Every call once; returns (wall_s, {call: s}, results, rows_scanned)."""
    from pyspark.sql import functions as F

    from hlld_spark.core.accumulator import HllSpec
    from hlld_spark.core.bloom import BloomSpec
    from hlld_spark.core.cms import CmsSpec
    from hlld_spark.core.kll import KllSpec
    from hlld_spark.core.tdigest import TDigestSpec
    from hlld_spark.operators.sketch import (
        build_sketches,
        build_sketches_parquet,
        merge_sketches,
        rollup_sketches,
        with_estimate,
    )

    pages = spark.read.parquet(prep["pages_path"])
    paged = pages.withColumn("day", F.to_date("warc_ts"))
    li = spark.read.parquet(prep["li_path"])
    n_pages, n_li = N_PAGES, prep["n_li"]
    secs, res = {}, {}

    def call(name, fn):
        t0 = time.perf_counter()
        with labelled(spark, name, tracer, trace):
            out = fn()
        secs[name] = time.perf_counter() - t0
        return out

    t0 = time.perf_counter()
    with tracer.span("operators.sketch.pass", trace):
        res["parquet_lang"] = call(
            "operators.sketch.build_parquet",
            lambda: build_sketches_parquet(spark, prep["pages_path"], ["lang"], "url").collect(),
        )
        lang_day = build_sketches(paged, ["lang", "day"], "url")
        res["df_lang_day_n"] = call("operators.sketch.build_df", lambda: lang_day.cache().count())
        res["global_ok"] = call(
            "operators.sketch.build_global",
            lambda: build_sketches(li, None, "l_orderkey", HllSpec(precision=14)).collect(),
        )
        with tracer.span("operators.sketch.companions", trace):
            res["cms"] = call("operators.sketch.companions.cms", lambda: build_sketches(pages, None, "lang", CmsSpec()).collect())
            res["bloom"] = call(
                "operators.sketch.companions.bloom",
                lambda: build_sketches(pages, None, "url", BloomSpec.for_capacity(n_pages, 0.01)).collect(),
            )
            res["tdigest"] = call(
                "operators.sketch.companions.tdigest", lambda: build_sketches(li, None, "l_orderkey", TDigestSpec()).collect()
            )
            res["kll"] = call("operators.sketch.companions.kll", lambda: build_sketches(li, None, "l_orderkey", KllSpec()).collect())
        with tracer.span("operators.sketch.merge", trace):
            res["merged_lang"] = call("operators.sketch.merge.merge_sketches", lambda: merge_sketches(lang_day, ["lang"]).collect())
            res["rollup"] = call(
                "operators.sketch.merge.rollup_sketches", lambda: rollup_sketches(paged, ["lang", "day"], "url").collect()
            )
        res["estimates"] = call("operators.sketch.estimate", lambda: with_estimate(lang_day).collect())
    wall = time.perf_counter() - t0
    lang_day.unpersist(blocking=True)
    rows = 5 * n_pages + 3 * n_li  # parquet, df, cms, bloom, rollup + global, tdigest, kll
    return wall, secs, res, rows


def _rank(sorted_vals, x) -> float:
    lo = np.searchsorted(sorted_vals, x, "left")
    hi = np.searchsorted(sorted_vals, x, "right")
    return (lo + hi) / 2 / len(sorted_vals)


def _check(res, prep) -> tuple[list[str], float]:
    """The correctness gate; returns (errors, worst HLL relative error)."""
    from hlld_spark.core.accumulator import HllSpec, deserialize_any

    errs: list[str] = []
    worst = 0.0
    z: list[float] = []  # every HLL error, in standard errors

    def hll_ok(est, exact, precision, label):
        nonlocal worst
        rel = abs(est - exact) / exact
        worst = max(worst, rel)
        z.append(rel / hll_se(precision))
        bound = hll_bound(precision)
        if rel > bound:
            errs.append(f"{label}: estimate {est:.0f} vs exact {exact} ({rel:.4f} > {bound:.4f})")

    def sketch_ok(buf, exact, label):
        acc, state, spec = deserialize_any(bytes(buf))
        hll_ok(acc.estimate(state, spec), exact, spec.precision, label)

    direct = {r["lang"]: bytes(r["sketch"]) for r in res["parquet_lang"]}
    for lang, buf in direct.items():
        sketch_ok(buf, prep["by_lang"][lang][0], f"hll[{lang}]")
    merged = {r["lang"]: bytes(r["sketch"]) for r in res["merged_lang"]}
    if merged != direct:
        errs.append("merge_sketches(lang, day -> lang) differs from the single-pass build by lang")
    roll1 = {r["lang"]: bytes(r["sketch"]) for r in res["rollup"] if r["grouping_level"] == 1}
    if roll1 != direct:
        errs.append("rollup_sketches level 1 differs from the single-pass build by lang")
    if res["df_lang_day_n"] != len(prep["by_lang_day"]):
        errs.append(f"build_df made {res['df_lang_day_n']} groups, exact {len(prep['by_lang_day'])}")
    for r in res["estimates"]:
        exact = prep["by_lang_day"][(r["lang"], str(r["day"]))]
        hll_ok(r["estimate"], exact, HllSpec().precision, f"with_estimate[{r['lang']},{r['day']}]")
    sketch_ok(res["global_ok"][0]["sketch"], prep["ok_distinct"], "hll[l_orderkey,p14]")
    # together the estimates must show the estimator's accuracy: their
    # root-mean-square error is within one standard error (0.69 median,
    # 0.80 worst over 120 seeds of these inputs), which a defect that
    # widens every error by half fails while no single estimate breaks
    # its own bound
    rms = float(np.sqrt(np.mean(np.square(z))))
    if rms > 1:
        errs.append(f"HLL root-mean-square error {rms:.3f} standard errors over {len(z)} estimates (> 1)")

    acc, state, spec = deserialize_any(bytes(res["cms"][0]["sketch"]))
    langs = sorted(prep["by_lang"])
    est = acc.point_estimate(state, langs, spec)
    for lang, e in zip(langs, est):
        if e < prep["by_lang"][lang][1]:
            errs.append(f"cms underestimates {lang}: {e} < {prep['by_lang'][lang][1]}")
    acc, state, spec = deserialize_any(bytes(res["bloom"][0]["sketch"]))
    missing = int((~acc.contains(state, list(prep["urls"]), spec)).sum())
    if missing:
        errs.append(f"bloom false negatives: {missing}")
    s = prep["ok_sorted"]
    for kind, bound in (("tdigest", TDIGEST_RANK_ERR), ("kll", KLL_RANK_ERR)):
        acc, state, spec = deserialize_any(bytes(res[kind][0]["sketch"]))
        for q in QS:
            r = _rank(s, acc.quantile(state, q, spec))
            if abs(r - q) > bound:
                errs.append(f"{kind} q={q}: rank {r:.4f} (error > {bound})")
    return errs, worst


def run(spark, prep, seconds, tracer, traced: bool) -> dict:
    errors: list[str] = []
    passes, call_secs, rows_per_s = [], {}, []
    attempted = failed = 0
    t_end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        attempted += 1
        try:
            wall, secs, res, rows = _one_pass(spark, prep, tracer, trace=len(passes) + 1)
        except Exception as e:  # a raising job counts as failed
            failed += 1
            errors.append(f"pass raised {type(e).__name__}: {e}")
            break
        passes.append(wall)
        rows_per_s.append(rows / wall)
        for k, v in secs.items():
            call_secs.setdefault(k, []).append(v)
        errs, worst = _check(res, prep)
        errors += errs
    if not passes:
        raise RuntimeError(errors[-1])
    ops = [v for vs in call_secs.values() for v in vs]
    out = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "rows_per_s": median(rows_per_s),
        "ops_per_s": len(call_secs) / median(passes),
        # a batch job's latency is its pass; the per-call tail is per-layer
        "latencies_s": ops,
        "p50_us": median(passes) * 1e6,
        "p99_us": pct(ops, 99) * 1e6,
        "pass_s": passes,
        "measure_s": sum(passes),
        "report": [
            f"input: {N_PAGES} pages, {prep['n_li']} lineitem rows; one pass scans {5 * N_PAGES + 3 * prep['n_li']} rows "
            f"in {len(call_secs)} calls; {len(passes)} timed passes",
            f"HLL worst relative error {worst:.5f}",
        ],
        "layers": {},
    }
    if traced:
        lay = out["layers"]
        lay["est_rel_err_max"] = worst
        for name in ("build_parquet", "build_df", "build_global", "estimate"):
            lay[f"operators.sketch.{name}_s"] = median(call_secs[f"operators.sketch.{name}"])
        for group in ("companions", "merge"):
            per_pass = [sum(v[i] for k, v in call_secs.items() if k.startswith(f"operators.sketch.{group}.")) for i in range(len(passes))]
            lay[f"operators.sketch.{group}_s"] = median(per_pass)
    return out
