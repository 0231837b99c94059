"""hlld_serve: a closed loop of hlld clients against HlldServer.

The server runs in its own process (serve_proc.py) with the background
flush thread on.  One load process holds ``nproc`` TCP connections; each
sends its next command only after the previous reply arrived.  The
command mix is pre-generated from the seed: single-key ``set``, 32-key
``bulk``, ``info`` and ``list`` over named sets of Zipfian popularity.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import socket
import subprocess
import sys
import threading
import time

import numpy as np

from common import hll_bound, median, pct

# The traffic shape below is assumed, not measured: no published hlld
# trace or usage study gives a command mix.  It models a write-heavy
# unique-count service: ingest sends most commands, dashboards read
# sizes, an operator lists now and then.
MIX = (("set", 0.55), ("bulk", 0.30), ("info", 0.12), ("list", 0.03))  # assumed
N_SETS = 16  # assumed: one set per counted metric of a small service
SET_ZIPF = 1.1  # assumed: a few hot metrics take most of the traffic
# the reference server applies a bulk's keys 32 at a time under one lock
# (MULTI_OP_SIZE, SURVEY.md C3), so a 32-key bulk is its unit of work
BULK_KEYS = 32
KEYS_PER_VERB = {"set": 1, "bulk": BULK_KEYS, "info": 0, "list": 0}
# assumed: large enough that within one 5-s run the hottest sets pass the
# estimator's switch from linear counting (3,100 distinct at the default
# precision 12) while the coldest stay below it, so both branches are checked
KEY_SPACE = 40_000
# commands generated per connection: several times what one connection
# completes in a 5-s run (at most about 500 commands/s each here); a
# longer run cycles through them again
CMDS_PER_CONN = 10_000
TIMEOUT_S = 5.0
HERE = os.path.dirname(os.path.abspath(__file__))

_INFO_LINE = re.compile(rb"^(in_memory|page_ins|page_outs|sets|size|storage|precision) \d+\n$|^epsilon \d+\.\d+\n$")
_LIST_LINE = re.compile(rb"^\S+ \d+\.\d+ \d+ \d+ \d+\n$")


def flush_interval(seconds: float) -> float:
    """Background flush period for a run measuring ``seconds``.  The
    reference server flushes every 60 s by default (SURVEY.md, Background
    flush); the run stands for two minutes of such service, time
    compressed so that it sees the same two flushes: S / 2 seconds."""
    return seconds / 2


def set_name(i: int) -> str:
    return f"bench.s{i:02d}"


def command_streams(seed: int, n_conn: int, n_cmds: int = CMDS_PER_CONN) -> list[list[tuple]]:
    """Per connection: [(verb, set_idx, line_bytes, keys)], deterministic per seed."""
    out = []
    pz = 1.0 / np.arange(1, N_SETS + 1) ** SET_ZIPF
    pz /= pz.sum()
    verbs = [v for v, _ in MIX]
    pv = np.array([p for _, p in MIX])
    for c in range(n_conn):
        rng = np.random.default_rng([seed, 3, c])
        vi = rng.choice(len(verbs), size=n_cmds, p=pv)
        si = rng.choice(N_SETS, size=n_cmds, p=pz)
        kid = rng.integers(0, KEY_SPACE, size=(n_cmds, BULK_KEYS))
        cmds = []
        for v, s, ks in zip(vi, si, kid):
            verb, name = verbs[v], set_name(int(s))
            if verb == "set":
                keys = (f"u{ks[0]}",)
                line = f"set {name} {keys[0]}\n"
            elif verb == "bulk":
                keys = tuple(f"u{k}" for k in ks)
                line = f"bulk {name} {' '.join(keys)}\n"
            elif verb == "info":
                keys, line = (), f"info {name}\n"
            else:
                keys, line = (), "list bench.\n"
            cmds.append((verb, int(s), line.encode(), keys))
        out.append(cmds)
    return out


def _read_reply(f, verb: str) -> tuple[bytes, bool]:
    """(raw reply, matches the protocol grammar for this verb)."""
    first = f.readline()
    if verb in ("set", "bulk"):
        return first, first == b"Done\n"
    if first != b"START\n":
        return first, False
    lines, ok = [first], True
    pattern = _INFO_LINE if verb == "info" else _LIST_LINE
    while True:
        ln = f.readline()
        if not ln:
            return b"".join(lines), False
        lines.append(ln)
        if ln == b"END\n":
            break
        ok = ok and bool(pattern.match(ln))
    n_body = len(lines) - 2
    ok = ok and (n_body == 8 if verb == "info" else n_body == N_SETS)
    return b"".join(lines), ok


class Server:
    """The server subprocess; ``start`` returns seconds until the first reply."""

    def __init__(self, data_dir: str, flush_s: float):
        self.data_dir = data_dir
        self.flush_s = flush_s
        self.proc = None
        self.port = None

    def start(self) -> float:
        shutil.rmtree(self.data_dir, ignore_errors=True)
        os.makedirs(self.data_dir)
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "serve_proc.py"), self.data_dir, str(self.flush_s)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
        )
        self.port = json.loads(self.proc.stdout.readline())["port"]
        with socket.create_connection(("127.0.0.1", self.port), timeout=TIMEOUT_S) as s:
            f = s.makefile("rwb")
            f.write(b"list\n")
            f.flush()
            _read_reply(f, "list")
        return time.perf_counter() - t0

    def stop(self) -> dict:
        if self.proc is None:
            return {}
        self.proc.stdin.close()
        stats = self.proc.stdout.readline()
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()
        self.proc = None
        return json.loads(stats) if stats else {}

    def command(self, line: bytes, verb: str) -> bytes:
        with socket.create_connection(("127.0.0.1", self.port), timeout=TIMEOUT_S) as s:
            f = s.makefile("rwb")
            f.write(line)
            f.flush()
            return _read_reply(f, verb)[0]


def _client(port, cmds, deadline, tracer, out: dict):
    lat, ends, verbs, bad = [], [], [], 0
    n = len(cmds)
    sock = socket.create_connection(("127.0.0.1", port), timeout=TIMEOUT_S)
    f = sock.makefile("rwb")
    i = 0
    while time.perf_counter() < deadline:
        verb, _s, line, _k = cmds[i % n]
        t0 = time.perf_counter_ns()
        try:
            if tracer.enabled:
                with tracer.span(f"client.{verb}"):
                    sock.sendall(line)
                    _raw, ok = _read_reply(f, verb)
            else:
                sock.sendall(line)
                _raw, ok = _read_reply(f, verb)
        except OSError:  # timeout or disconnect: count, reconnect
            ok = False
            sock.close()
            sock = socket.create_connection(("127.0.0.1", port), timeout=TIMEOUT_S)
            f = sock.makefile("rwb")
        t1 = time.perf_counter_ns()
        lat.append(t1 - t0)
        ends.append(t1)
        verbs.append(verb)
        bad += not ok
        i += 1
    sock.close()
    out.update(lat_ns=lat, end_ns=ends, verbs=verbs, bad=bad, sent=i)


def load(port, streams, seconds, tracer) -> dict:
    """Closed loop over all connections for ``seconds``."""
    results = [dict() for _ in streams]
    deadline = time.perf_counter() + seconds
    t0 = time.perf_counter()
    threads = [
        threading.Thread(target=_client, args=(port, cmds, deadline, tracer, results[c])) for c, cmds in enumerate(streams)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t0
    lat = [x for r in results for x in r["lat_ns"]]
    ends = [x for r in results for x in r["end_ns"]]
    verbs = [v for r in results for v in r["verbs"]]
    keys_sent = 0
    for r, cmds in zip(results, streams):
        for i in range(r["sent"]):
            keys_sent += len(cmds[i % len(cmds)][3])
    return {
        "wall": wall,
        "lat_ns": lat,
        "end_ns": ends,
        "verbs": verbs,
        "bad": sum(r["bad"] for r in results),
        "sent": [r["sent"] for r in results],
        "keys_sent": keys_sent,
    }


def _expected(streams, sent) -> tuple[dict, dict]:
    """Per set: exact distinct keys sent, and keys sent counting repeats;
    ``sent`` is the number of commands each connection sent."""
    distinct = {i: set() for i in range(N_SETS)}
    total = dict.fromkeys(range(N_SETS), 0)
    for cmds, n in zip(streams, sent):
        for i in range(n):
            _v, s, _l, keys = cmds[i % len(cmds)]
            distinct[s].update(keys)
            total[s] += len(keys)
    return distinct, total


def _final_check(server, distinct, total) -> tuple[list[str], float]:
    errs, worst = [], 0.0
    for s in range(N_SETS):
        raw = server.command(f"info {set_name(s)}\n".encode(), "info")
        info = dict(ln.split(" ", 1) for ln in raw.decode().splitlines()[1:-1])
        size, sets, p = int(info["size"]), int(info["sets"]), int(info["precision"])
        exact = len(distinct[s])
        if sets != total[s]:
            errs.append(f"{set_name(s)}: server counted {sets} keys added, clients sent {total[s]}")
        if exact:
            rel = abs(size - exact) / exact
            worst = max(worst, rel)
            if rel > hll_bound(p):
                errs.append(f"{set_name(s)}: size {size} vs exact {exact}")
    return errs, worst


def setup_server(work: str, repeats: int, seconds: float) -> tuple[Server, list[float]]:
    """Start the server ``repeats`` times (seconds to first reply each),
    keep the last one and create the named sets on it; it flushes in the
    background every ``flush_interval(seconds)``."""
    server = Server(os.path.join(work, "hlld_data"), flush_interval(seconds))
    times = []
    for i in range(repeats):
        if i:
            server.stop()
        times.append(server.start())
    for s in range(N_SETS):
        reply = server.command(f"create {set_name(s)}\n".encode(), "set")
        if reply != b"Done\n":
            raise RuntimeError(f"create {set_name(s)}: {reply!r}")
    return server, times


def run(server, streams, seconds, tracer) -> dict:
    res = load(server.port, streams, seconds, tracer)
    out = _summarize(res)
    out["sent"] = res["sent"]
    return out


def _summarize(res) -> dict:
    lat_us = [x / 1e3 for x in res["lat_ns"]]
    n = len(lat_us)
    by_verb = {}
    for v, x in zip(res["verbs"], lat_us):
        by_verb.setdefault(v, []).append(x)
    # rates and p99 per one-second window of completions, median over the
    # full windows: a burst of host noise moves one window, not the run
    t0 = min(res["end_ns"])
    windows: dict[int, list] = {}
    for t, x, v in zip(res["end_ns"], lat_us, res["verbs"]):
        windows.setdefault((t - t0) // 1_000_000_000, []).append((x, KEYS_PER_VERB[v]))
    full = [w for k, w in windows.items() if k < res["wall"] - 1 and len(w) >= 100]
    if full:
        ops_per_s = median([len(w) for w in full])
        keys_per_s = median([sum(k for _x, k in w) for w in full])
        p99_us = median([pct([x for x, _k in w], 99) for w in full])
    else:  # too slow for per-second windows: whole-run figures
        ops_per_s, keys_per_s, p99_us = n / res["wall"], res["keys_sent"] / res["wall"], pct(lat_us, 99)
    return {
        "attempted": n,
        "failed": res["bad"],
        "p99_us": p99_us,
        "errors": [f"{res['bad']} replies broke the protocol grammar or timed out"] if res["bad"] else [],
        "ops_per_s": ops_per_s,
        "measure_s": res["wall"],
        "rows_per_s": keys_per_s,
        "latencies_s": [x / 1e6 for x in lat_us],
        "p50_us": pct(lat_us, 50),
        "by_verb_us": by_verb,
        "report": [],
        "layers": {},
    }


def finish(server, streams, out) -> dict:
    """Final info per set against the exact keys sent; stop the server."""
    distinct, total = _expected(streams, out["sent"])
    errs, worst = _final_check(server, distinct, total)
    stats = server.stop()
    out["errors"] += errs
    out["est_rel_err_max"] = worst
    out["flush_count"] = stats.get("flush_count", 0)
    return out
