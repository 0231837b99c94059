"""Single-thread layer timings, run in every traced run.

* core: hashing, HLL register update / estimate / serialize / merge, and
  the companion accumulators' update and merge, on a fixed key sample;
* protocol and registry: ``CommandHandler.handle_command`` replayed
  in-process on the hlld_serve command stream, direct registry calls,
  and a full flush.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from common import median

N_KEYS = 100_000
REPEATS = 5


def _median_time(fn, repeats=REPEATS) -> float:
    """Median seconds of ``repeats`` calls."""
    ts = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return median(ts)


def core_layers(seed: int) -> dict:
    from hlld_spark.core import hll
    from hlld_spark.core.accumulator import accumulator_for
    from hlld_spark.core.bloom import BloomSpec
    from hlld_spark.core.cms import CmsSpec
    from hlld_spark.core.hashing import hll_hash
    from hlld_spark.core.kll import KllSpec
    from hlld_spark.core.tdigest import TDigestSpec

    rng = np.random.default_rng([seed, 4])
    keys = [f"key{k}" for k in rng.integers(0, 10 * N_KEYS, size=N_KEYS)]
    nums = rng.lognormal(3, 1, size=N_KEYS)
    p = hll.DEFAULT_PRECISION
    out = {}
    out["core.hashing.hll_hash_ns_per_key"] = _median_time(lambda: hll_hash(keys)) / N_KEYS * 1e9
    hashes = hll_hash(keys)
    out["core.hll.add_ns_per_key"] = _median_time(lambda: hll.add_hashes(hll.new_registers(p), hashes, p)) / N_KEYS * 1e9
    a = hll.add_hashes(hll.new_registers(p), hashes[: N_KEYS // 2], p)
    b = hll.add_hashes(hll.new_registers(p), hashes[N_KEYS // 2 :], p)
    out["core.hll.estimate_us"] = _median_time(lambda: hll.cardinality(a, p), 50) * 1e6
    out["core.hll.serialize_us"] = _median_time(lambda: hll.serialize(a, p), 50) * 1e6
    out["core.hll.merge_us"] = _median_time(lambda: hll.merge(a, b), 50) * 1e6
    specs = {
        "cms": (CmsSpec(), keys),
        "bloom": (BloomSpec.for_capacity(N_KEYS, 0.01), keys),
        "tdigest": (TDigestSpec(), nums),
        "kll": (KllSpec(), nums),
    }
    for kind, (spec, vals) in specs.items():
        acc = accumulator_for(spec)
        t = _median_time(lambda: acc.update(acc.zero(spec), vals, spec))
        out[f"core.accumulator.{kind}.add_ns_per_key"] = t / N_KEYS * 1e9
        half = len(vals) // 2
        x = acc.update(acc.zero(spec), vals[:half], spec)
        y = acc.update(acc.zero(spec), vals[half:], spec)
        out[f"core.accumulator.{kind}.merge_us"] = _median_time(lambda: acc.merge(x, y, spec), 20) * 1e6
    return out


def protocol_layers(work: str, streams, n_sets: int, set_name) -> tuple[dict, float]:
    """In-process handler and registry timings on the same command stream
    the hlld_serve clients send, and the handler's p50 over all commands."""
    from hlld_spark.protocol import CommandHandler
    from hlld_spark.registry import SketchRegistry

    data = os.path.join(work, "hlld_inproc")
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    reg = SketchRegistry(data)
    h = CommandHandler(reg)
    for s in range(n_sets):
        h.handle_command(f"create {set_name(s)}\n")
    by_verb: dict[str, list[float]] = {}
    for verb, _s, line, _k in streams[0]:
        text = line.decode()
        t0 = time.perf_counter_ns()
        h.handle_command(text)
        by_verb.setdefault(verb, []).append((time.perf_counter_ns() - t0) / 1e3)
    out = {f"protocol.handle_us.{v}": median(by_verb.get(v, [0.0])) for v in ("set", "bulk", "info", "list")}
    handle_p50 = median([x for xs in by_verb.values() for x in xs])

    bulks = [(set_name(s), list(k)) for _v, s, _l, k in streams[0] if len(k) > 1][:2000]
    t_bulk, t_info = [], []
    for name, keys in bulks:
        t0 = time.perf_counter_ns()
        reg.bulk(name, keys)
        t_bulk.append((time.perf_counter_ns() - t0) / 1e3)
        t0 = time.perf_counter_ns()
        reg.info(name)
        t_info.append((time.perf_counter_ns() - t0) / 1e3)
    out["registry.bulk_us"] = median(t_bulk)
    out["registry.info_us"] = median(t_info)

    flush_ms, flush_bytes = [], []
    for r in range(REPEATS):  # dirty every set, then one full flush
        for s in range(n_sets):
            reg.set(set_name(s), f"flush{r}")
        t0 = time.perf_counter()
        reg.flush()
        flush_ms.append((time.perf_counter() - t0) * 1e3)
        flush_bytes.append(sum(os.path.getsize(os.path.join(d, f)) for d, _x, fs in os.walk(data) for f in fs))
    out["registry.flush_ms"] = median(flush_ms)
    out["registry.flush_bytes"] = median(flush_bytes)
    shutil.rmtree(data, ignore_errors=True)
    return out, handle_p50
