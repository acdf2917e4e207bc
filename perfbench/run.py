"""Layer-resolved extraction benchmark: turns/s into the checkpointed sink.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The input for (workload, seed) is
generated once into ``perfbench/.cache`` and its digest is checked on
every run.  The run then

1. computes the oracle, ``core.extract_turn_raw`` over every payload, in
   this process on one pinned core, timing each call per kind;
2. starts ``session.py`` in ``measure`` (or ``trace``) mode; untraced, it
   then starts it once more in ``setup`` mode, so ``setup_s`` is the
   median of two process starts;
3. reads the committed output back with pyarrow and compares every
   (conv_id, turn_idx) text with the oracle, and the manifests' ``n_rows``
   with the input turn count;
4. prints every metric by name and unit, records the host context and the
   raw numbers in ``perfbench/.results``, and prints one JSON object as the
   last line of standard output.

See ``perfbench/README.md`` for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time
from collections import Counter, defaultdict
from typing import Dict, List, Optional, Tuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402
from session import cpu_ticks, proc_stats  # noqa: E402

RUN_DEADLINE_S = 170  # a run must end within 180 s
N_SETUPS = 2
UNITS = {
    "turns_per_s": "turns/s",
    "cpu_s_per_kturn": "CPU-s/kturn",
    "cold_pass_s": "s",
    "resume_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "out_bytes_per_turn": "B/turn",
}
KINDS = ("html", "pdf_text", "markup", "plain")


def host_probe() -> float:
    """Seconds for a fixed pure-Python and hashing workload that runs no
    code of the program: a yardstick for how fast this host is right now."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc = (acc * 31 + i) % 1_000_003
    h = hashlib.sha256()
    block = bytes(range(256)) * 256
    for _ in range(200):
        h.update(block)
    return time.perf_counter() - t0


def host_context() -> dict:
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"load1": load1, "probe_s": host_probe(), "ticks": cpu_ticks()}


def oracle(table) -> Tuple[Dict[Tuple[str, int], str], dict]:
    """Expected text per (conv_id, turn_idx), and the per-kind kernel and
    dispatch times of computing it on one pinned core."""
    from occular_ocr_spark.extraction import core

    keys = zip(table.column("conv_id").to_pylist(), table.column("turn_idx").to_pylist())
    payloads = table.column("text").to_pylist()
    expected: Dict[Tuple[str, int], str] = {}
    per_kind: Dict[str, List[float]] = defaultdict(list)
    dispatch_us: List[float] = []
    clock = time.perf_counter_ns
    affinity = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {min(affinity)})
    try:
        for key, payload in zip(keys, payloads):
            t0 = clock()
            method, _, text = core.extract_turn_raw(payload)
            t1 = clock()
            core.dispatch(payload)
            t2 = clock()
            expected[key] = text
            per_kind[method].append((t1 - t0) / 1e3)
            dispatch_us.append((t2 - t1) / 1e3)
    finally:
        os.sched_setaffinity(0, affinity)
    return expected, {"per_kind_us": dict(per_kind), "dispatch_us": dispatch_us}


def _kill_group(pgid: int) -> None:
    """Kill what is left of a child's process group and wait until every
    member has exited (zombies count as exited: only their parent, gone
    with the group, could reap them)."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 30
    while time.time() < deadline:
        if not any(pgrp == pgid and state != "Z" for _, state, _, pgrp in proc_stats()):
            return
        time.sleep(0.05)


def run_session(mode: str, args, in_dir: str, work: str, deadline: float) -> dict:
    out = os.path.join(work, f"session-{mode}.json")
    if os.path.exists(out):
        os.remove(out)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p)
    cmd = [
        sys.executable, os.path.join(HERE, "session.py"), "--mode", mode,
        "--workload", args.workload, "--input", in_dir, "--work", work,
        "--seconds", str(args.seconds), "--out", out, "--launched",
    ]
    launched = time.time()
    proc = subprocess.Popen(cmd + [repr(launched)], env=env, cwd=work, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        _kill_group(proc.pid)
    print(f"session {mode}: {time.time() - launched:.2f} s", file=sys.stderr)
    if code != 0:
        raise RuntimeError(f"session {mode} exited with {code}")
    with open(out) as f:
        return json.load(f)


def check_output(out_dir: str, expected: Dict[Tuple[str, int], str]) -> int:
    """Turns missing, duplicated or differing from the oracle, plus any
    difference between the manifests' row total and the input."""
    import pyarrow.parquet as pq

    got = pq.read_table(os.path.join(out_dir, "data"), columns=["conv_id", "turn_idx", "text"])
    seen: Counter = Counter()
    bad = 0
    for conv, turn, text in zip(*(got.column(c).to_pylist() for c in ("conv_id", "turn_idx", "text"))):
        key = (conv, turn)
        seen[key] += 1
        if seen[key] == 1 and expected.get(key) != text:
            bad += 1
    bad += sum(1 for k in expected if k not in seen)
    bad += sum(n - 1 for n in seen.values() if n > 1)
    bad += sum(1 for k in seen if k not in expected)
    n_rows = 0
    for path in glob.glob(os.path.join(out_dir, "_manifest", "range-*.json")):
        with open(path) as f:
            n_rows += json.load(f)["metrics"]["n_rows"]
    return bad + abs(n_rows - len(expected))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def pct(values: List[float], q: float) -> float:
    """Nearest-rank percentile; 0.0 for an empty list."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def end_to_end(s: dict, setups: List[float], turns: int, out_dir: str) -> Dict[str, float]:
    return {
        "turns_per_s": turns / statistics.median(s["warm_s"]),
        "cpu_s_per_kturn": s["warm_busy_cpu_s"] / (turns * len(s["warm_s"]) / 1000),
        "cold_pass_s": s["cold_s"],
        "resume_s": statistics.median(s["resume_s"]),
        "setup_s": statistics.median(setups),
        "peak_rss_mb": s["peak_rss_bytes"] / 1e6,
        "out_bytes_per_turn": (dir_bytes(os.path.join(out_dir, "data"))
                               + dir_bytes(os.path.join(out_dir, "_manifest"))) / turns,
    }


def per_layer(s: dict, kern: dict, turns: int, in_dir: str) -> Dict[str, Tuple[float, str]]:
    med = {k: statistics.median(v) for k, v in s["ladder_s"].items()}
    write_s = statistics.median(s["warm_s"])
    layer = {
        "scan.s": med["scan"],
        "exchange.s": med["exchange"] - med["scan"],
        "arrow.s": med["identity"] - med["exchange"],
        "kernel.s": med["kernel"] - med["identity"],
        "sink.s": write_s - med["default"],
    }
    m: Dict[str, Tuple[float, str]] = {}
    for name, v in layer.items():
        m[name] = (v, "s")
        m[name[:-2] + ".share"] = (v / write_s, "ratio")
    saved = med["kernel"] - med["default"]
    m["fastpath.saved_s"] = (saved, "s")
    m["fastpath.saved_share"] = (saved / write_s, "ratio")
    m["sink.write_s"] = (write_s, "s")
    m["sink.range_s.p50"] = (statistics.median(s["range_s"]), "s")
    m["sink.range_s.max"] = (max(s["range_s"]), "s")
    m["sink.rerun_s"] = (s["rerun_s"], "s")
    m["sink.files_per_pass"] = (s["files_per_pass"], "count")

    total_us = sum(sum(v) for v in kern["per_kind_us"].values())
    for kind in KINDS:
        us = kern["per_kind_us"].get(kind, [])
        m[f"kernel.{kind}.us_p50"] = (pct(us, 0.5), "us")
        m[f"kernel.{kind}.us_p99"] = (pct(us, 0.99), "us")
        m[f"kernel.{kind}.share"] = (sum(us) / total_us, "ratio")
    m["kernel.dispatch.us_p50"] = (pct(kern["dispatch_us"], 0.5), "us")
    ceiling = (os.cpu_count() or 1) * turns / (total_us / 1e6)
    m["kernel.ceiling_turns_per_s"] = (ceiling, "turns/s")
    m["spark_vs_ceiling"] = (turns / write_s / ceiling, "ratio")

    ev = s["eventlog"]
    last = f"write:{len(s['warm_s']) - 1}"
    m["exchange.shuffle_bytes_per_turn"] = (ev["shuffle_bytes_written"].get(last, 0) / turns, "B/turn")
    m["scan.reads_per_pass"] = (ev["input_bytes_read"].get(last, 0) / dir_bytes(in_dir), "ratio")
    m["sink.jobs_per_pass"] = (ev["jobs"].get(last, 0), "count")
    arrow_ms = ev["arrow_task_ms"].get(f"ladder.default:{len(s['ladder_s']['default']) - 1}", [])
    m["tasks.skew"] = (max(arrow_ms) / max(statistics.median(arrow_ms), 1) if arrow_ms else 0.0, "ratio")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(inputs.GENERATORS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cache = os.path.join(HERE, ".cache")
    work = os.path.join(HERE, ".work", f"{args.workload}-trace{args.trace}")
    results = os.path.join(HERE, ".results")
    for d in (cache, work, results):
        os.makedirs(d, exist_ok=True)

    deadline = time.time() + RUN_DEADLINE_S
    host_before = host_context()
    in_dir, table = inputs.materialize(args.workload, args.seed, cache)
    turns = table.num_rows
    expected, kern = oracle(table)
    del table

    session = run_session("trace" if args.trace else "measure", args, in_dir, work, deadline)
    # setup_s is an end-to-end metric: the traced run does not repeat set-up
    extra_setups = 0 if args.trace else N_SETUPS - 1
    setups = [session["setup_s"]] + [
        run_session("setup", args, in_dir, work, deadline)["setup_s"] for _ in range(extra_setups)
    ]
    failed = sum(check_output(os.path.join(work, d), expected) for d in session["outputs"])
    attempted = turns * len(session["outputs"])
    host_after = host_context()
    t0, t1 = host_before["ticks"], host_after["ticks"]
    host = {
        "load1_before": host_before["load1"],
        "load1_after": host_after["load1"],
        "steal_frac": (t1["steal"] - t0["steal"]) / max(1, t1["total"] - t0["total"]),
        "probe_s_before": host_before["probe_s"],
        "probe_s_after": host_after["probe_s"],
    }

    if args.trace:
        metrics = per_layer(session, kern, turns, in_dir)
    else:
        e2e = end_to_end(session, setups, turns, os.path.join(work, session["outputs"][0]))
        metrics = {k: (v, UNITS[k]) for k, v in e2e.items()}
    metrics["failed_frac"] = (failed / attempted, "ratio")

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "turns": turns,
        "metrics": {k: v for k, (v, _) in metrics.items()}, "host": host, "session": session,
        "setups_s": setups,
    }
    if args.trace:
        untraced = _latest_untraced(results, args.workload)
        record["trace_overhead_s"] = (
            None if untraced is None
            else statistics.median(session["warm_s"]) - statistics.median(untraced["session"]["warm_s"])
        )
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    print(f"# {args.workload} seed={args.seed} turns={turns} trace={args.trace} host={json.dumps(host)}")
    for name, (value, unit) in metrics.items():
        print(f"{name:34s} {value:14.6g} {unit}")
    if not args.trace:
        # failed_frac is also carried by the result's "failed"/"attempted"
        del metrics["failed_frac"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _latest_untraced(results: str, workload: str) -> Optional[dict]:
    paths = glob.glob(os.path.join(results, f"{workload}-seed*-trace0.json"))
    if not paths:
        return None
    with open(max(paths, key=os.path.getmtime)) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
