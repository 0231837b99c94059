#!/usr/bin/env python3
"""hlld-spark benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload sketch_agg --seed 1 --seconds 5 --trace 0

Run from the repository root.  Workloads (see perfbench/README.md):
sketch_agg, hlld_serve, clean_mixed (and clean_ascii, outside
BENCHMARK.json).  ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones.  Human-readable report lines come
first; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  A failed correctness
check sets ``correct`` to false; a missing ``hlld_spark`` package or an
unexpected error exits non-zero without a result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sketch_agg", "hlld_serve", "clean_mixed", "clean_ascii")
# server starts per hlld_serve run, median reported (each well under 1 s);
# a Spark run sets up once, cold, as a pipeline job does (10-20 s)
SERVER_SETUPS = 5
# a run is flagged when the hypervisor stole more than this share of CPU
# time during it (co-tenant load; the loadavg is recorded too, but
# back-to-back runs leave their own load in it), or when the host-speed
# probe moved by more than PROBE_FLAG between the run's start and end
STEAL_FLAG = 0.05
PROBE_FLAG = 0.24  # the bound of the timing metrics

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "ops_per_s": "1/s",
    "latency_p50_us": "us",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit; layers a workload does not run
    report 0."""
    from wl_clean import STAGES

    u = {"setup.first_s": "s", "tail.latency_p99_us": "us"}
    for name in ("build_parquet", "build_df", "build_global", "companions", "merge", "estimate"):
        u[f"operators.sketch.{name}_s"] = "s"
    u["core.hashing.hll_hash_ns_per_key"] = "ns"
    u["core.hll.add_ns_per_key"] = "ns"
    for name in ("estimate", "serialize", "merge"):
        u[f"core.hll.{name}_us"] = "us"
    for kind in ("cms", "bloom", "tdigest", "kll"):
        u[f"core.accumulator.{kind}.add_ns_per_key"] = "ns"
        u[f"core.accumulator.{kind}.merge_us"] = "us"
    for verb in ("set", "bulk", "info", "list"):
        u[f"protocol.handle_us.{verb}"] = "us"
    u.update({"registry.bulk_us": "us", "registry.info_us": "us", "server.overhead_us": "us"})
    u.update({"registry.flush_ms": "ms", "registry.flush_bytes": "bytes", "server.flush_count": "count"})
    for st in STAGES:
        u[f"stage.{st}_s"] = "s"
        u[f"stage.{st}_rows"] = "count"
    u["operators.dedup.lsh_multi_bucket_frac"] = "ratio"
    u["spark.cache_mb"] = "MB"
    u.update({"spark.task_cpu_s": "s", "spark.python_sent_mb": "MB", "spark.python_run_s": "s"})
    u.update({"spark.shuffle_write_mb": "MB", "spark.gc_s": "s"})
    u["est_rel_err_max"] = "ratio"
    u["trace.overhead_pct"] = "%"
    return u


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    # scratch of this process, Spark and its workers stays in the checkout
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM spark-submit starts to build the driver command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    try:
        sys.path.insert(0, ROOT)
        import hlld_spark  # noqa: F401  (fails here when the package is absent)

        import common

        os.environ["HLLD_SPARK_DRIVER_MEM"] = common.driver_mem_setting()
        cpus = len(os.sched_getaffinity(0))
        host = {"nproc": cpus, "loadavg_before": common.loadavg(), "driver_mem": os.environ["HLLD_SPARK_DRIVER_MEM"]}
        host["probe_before_ms"] = round(common.host_probe_ms(), 3)
        steal0 = common.cpu_steal()
        result = run(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host["loadavg_after"] = common.loadavg()
    steal1 = common.cpu_steal()
    host["probe_after_ms"] = round(common.host_probe_ms(), 3)
    host["cpu_steal_frac"] = round((steal1[1] - steal0[1]) / max(1, steal1[0] - steal0[0]), 4)
    drift = host["probe_after_ms"] / host["probe_before_ms"] - 1
    host["co_tenant_load"] = host["cpu_steal_frac"] > STEAL_FLAG
    host["host_speed_moved"] = abs(drift) > PROBE_FLAG
    flag = "  [FLAGGED: host under co-tenant load or host speed moved]" if host["co_tenant_load"] or host["host_speed_moved"] else ""
    print(f"host: {json.dumps(host)}{flag}")
    for line in result["report"]:
        print(line)
    for e in result["errors"]:
        print(f"CHECK FAILED: {e}")
    print(
        json.dumps(
            {
                "correct": not result["errors"],
                "attempted": int(result["attempted"]),
                "failed": int(result["failed"]),
                "metrics": result["metrics"],
            }
        )
    )
    return 0


def run(args, work: str, cpus: int) -> dict:
    import common

    traced = bool(args.trace)
    tracer = common.Tracer(traced)
    report: list[str] = []
    with common.RssSampler() as rss:
        if args.workload == "hlld_serve":
            res, setup = _run_serve(args, work, cpus, tracer, report)
        else:
            res, setup = _run_spark(args, work, cpus, tracer, traced, report)
    lat = res["latencies_s"]
    q, qv, n = common.tail(lat)
    report.insert(0, f"workload {args.workload} seed {args.seed}: set-up runs {['%.3f' % s for s in setup]} s")
    if args.workload == "hlld_serve":
        report.append(
            f"latency per command: p50 {res['p50_us']:.1f} us, p{q:g} {qv * 1e6:.1f} us (n={n}); "
            f"p99 {res['p99_us']:.1f} us as the median over 1-s windows of each window's p99"
        )
    else:
        report.append(
            f"latency per call: p50 {common.pct(lat, 50) * 1e6:.1f} us, p{q:g} {qv * 1e6:.1f} us (n={n}), "
            f"p99 {res['p99_us']:.1f} us; per pass (latency_p50_us): {res['p50_us']:.1f} us over {len(res['pass_s'])} passes"
        )
    split = ", ".join(f"{k} {v:.0f}" for k, v in sorted(rss.at_peak.items()) if k != "n")
    report.append(
        f"peak RSS of started processes {rss.peak_mb:.1f} MB ({split}; {rss.at_peak.get('n', 0)} processes); "
        f"failed {res['failed']}/{res['attempted']}"
    )
    if traced:
        units = per_layer_units()
        layers = _layers(args, work, cpus, res, setup, tracer, report)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        metrics = {
            "setup_s": common.median(setup),
            "rows_per_s": res["rows_per_s"],
            "ops_per_s": res["ops_per_s"],
            "latency_p50_us": res["p50_us"],
            "peak_rss_mb": rss.peak_mb,
        }
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in metrics.items()}
    return {
        "report": report + res["report"],
        "errors": res["errors"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }


def _layers(args, work, cpus, res, setup, tracer, report) -> dict:
    """Per-layer metrics of a traced run: the workload's own, the
    single-thread core and protocol timings, and the tracing overhead."""
    import common
    import micro
    import wl_serve

    layers = dict(res["layers"])
    layers["setup.first_s"] = setup[0]
    layers["tail.latency_p99_us"] = res["p99_us"]
    layers.update(micro.core_layers(args.seed))
    stream = wl_serve.command_streams(args.seed, 1, 20_000)
    proto, handle_p50 = micro.protocol_layers(work, stream, wl_serve.N_SETS, wl_serve.set_name)
    layers.update(proto)
    if args.workload == "hlld_serve":
        layers["server.overhead_us"] = res["p50_us"] - handle_p50
    # spans run on every client thread at once; Spark calls run one at a time
    span_s = common.span_cost_s()
    par = cpus if args.workload == "hlld_serve" else 1
    layers["trace.overhead_pct"] = 100 * span_s * len(tracer.spans) / (res["measure_s"] * par)
    report.append(
        f"traced run end-to-end (compare with untraced runs): rows_per_s {res['rows_per_s']:.6g}, "
        f"ops_per_s {res['ops_per_s']:.6g}, latency_p50_us {res['p50_us']:.6g}, "
        f"{len(tracer.spans)} spans at {span_s * 1e6:.2f} us each"
    )
    selft = {k: round(v, 4) for k, v in sorted(tracer.self_times().items()) if not k.startswith("client.")}
    if selft:
        report.append("self time per span name (s): " + json.dumps(selft))
    path = os.path.join(ROOT, ".perfbench_work", f"trace-{args.workload}-{args.seed}.json")
    tracer.dump(path)
    report.append(f"spans written to {os.path.relpath(path, ROOT)}")
    return layers


def _run_serve(args, work, cpus, tracer, report):
    import common
    import wl_serve

    streams = wl_serve.command_streams(args.seed, cpus)
    server, setup = wl_serve.setup_server(work, SERVER_SETUPS, args.seconds)
    try:
        res = wl_serve.run(server, streams, args.seconds, tracer)
        res = wl_serve.finish(server, streams, res)
    finally:
        server.stop()
    by_verb = res.pop("by_verb_us")
    for verb, xs in sorted(by_verb.items()):
        report.append(common.fmt_timing(f"  {verb}", xs, "us"))
    report.append(
        f"{cpus} connections, closed loop; {res['ops_per_s']:.0f} commands/s, {res['rows_per_s']:.0f} keys/s; "
        f"server flushes {res['flush_count']}; HLL worst relative error {res['est_rel_err_max']:.5f}"
    )
    res["layers"]["server.flush_count"] = res["flush_count"]
    res["layers"]["est_rel_err_max"] = res["est_rel_err_max"]
    return res, setup


def _run_spark(args, work, cpus, tracer, traced, report):
    import common

    if args.workload == "sketch_agg":
        import wl_sketch as wl

        prep = None
    else:
        import wl_clean as wl

        prep = wl.prepare(work, args.seed, args.workload.split("_")[1])
    spark, setup_s = common.spark_setup(work, cpus)
    setup = [setup_s]
    try:
        t0 = time.perf_counter()
        if prep is None:  # the sketch inputs' exact answers come from Catalyst
            prep = wl.prepare(spark, work, args.seed)
        t1 = time.perf_counter()
        res = wl.run(spark, prep, args.seconds, tracer, traced)
        t2 = time.perf_counter()
        report.append(f"phases: set-up done at {t0 - T_START:.1f} s, inputs {t1 - t0:.1f} s, run {t2 - t1:.1f} s")
        if traced:
            res["layers"].update(_spark_layers(common.status_by_group(spark), report))
            if args.workload.startswith("clean"):
                staged = sum(sum(v) for v in tracer.durations("stage.").values())
                report.append(
                    f"stage spans cover {staged:.2f} s of the {t2 - t0:.2f} s after set-up; "
                    f"gap {t2 - t0 - staged:.2f} s (correctness checks, cache release, LSH bucket count)"
                )
    finally:
        common.stop_spark(spark)
    return res, setup


def _spark_layers(by_group, report) -> dict:
    """Status-store metrics per labelled call, and their totals over the
    labelled calls (set-up jobs carry no label)."""
    keys = ("task_cpu_s", "python_sent_mb", "python_run_s", "shuffle_write_mb", "gc_s")
    totals = dict.fromkeys(keys, 0.0)
    report.append("spark status store per labelled call:")
    for g, d in sorted(by_group.items()):
        if g == "(none)":
            continue
        report.append(f"  {g}: " + ", ".join(f"{k}={v:.4g}" for k, v in sorted(d.items())))
        for k in keys:
            totals[k] += d.get(k, 0.0)
    return {f"spark.{k}": v for k, v in totals.items()}


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
