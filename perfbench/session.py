"""One Spark session of the extraction benchmark.

``run.py`` starts this script as a child process, so that set-up time
is measured from a real process start.  Modes:

* ``setup``   — start the SparkSession, register the input, exit.
* ``measure`` — untraced: a cold ``write()``, warm ``write()`` passes
  for ``--seconds``, then two resumes (half the ranges, then the timed
  rest).  Also the CPU busy time of the warm passes and the peak RSS of
  the JVM and its Python workers.
* ``trace``   — the same session with Spark's event log on: warm
  passes, the layer ladder into a ``noop`` sink, single-range writes and
  a re-run over complete output, each inside an in-memory span.

Every call into the program goes through its public functions:
``sources.read_transcripts``, ``job.repartition_salted``,
``job.extract_detailed`` and ``sink.CheckpointedParquetSink.write``.
The result is written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import math
import os
import shutil
import threading
import time
from collections import defaultdict
from typing import Dict, List, Tuple

import inputs

LADDER = ("scan", "exchange", "identity", "kernel", "default")
LADDER_ROUNDS = 3
MIN_WARM_PASSES = 3
# a resume commits only half the ranges, a short write: two of them per
# run keep one slow job from setting resume_s
RESUMES = 2


def cpu_ticks() -> Dict[str, int]:
    """Machine-wide CPU ticks from /proc/stat: busy excludes idle,
    iowait and steal (guest time is already inside user)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = v[:8]
    return {
        "busy": user + nice + system + irq + softirq,
        "steal": steal,
        "total": sum(v[:8]),
    }


def proc_stats():
    """Yield (pid, state, ppid, pgrp) for every process, from /proc."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, ppid, pgrp = stat[stat.rindex(")") + 2 :].split()[:3]
        yield int(entry), state, int(ppid), int(pgrp)


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = defaultdict(list)
    for pid, _, ppid, _ in proc_stats():
        kids[ppid].append(pid)
    return kids


def descendants_rss(root: int) -> Tuple[int, int]:
    """Summed resident bytes of the JVM and Python processes below
    ``root``, and their number.  Other descendants are skipped: the JVM
    briefly forks helpers (``chmod``) whose copied RSS is not memory in use."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, n, todo = 0, 0, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            if comm != "java" and not comm.startswith("python"):
                continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
        n += 1
    return total, n


class RssSampler:
    """Samples the JVM's and Python workers' summed RSS in a thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = (0, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Spans:
    """In-memory spans (name, parent, start, end), written out at the end."""

    def __init__(self):
        self.records: List[dict] = []
        self._origin = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, parent: str = "run"):
        rec = {"name": name, "parent": parent, "start_s": time.perf_counter() - self._origin}
        try:
            yield rec
        finally:
            rec["end_s"] = time.perf_counter() - self._origin
            rec["seconds"] = rec["end_s"] - rec["start_s"]
            self.records.append(rec)


def _fresh(work: str, name: str) -> str:
    path = os.path.join(work, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def eventlog_metrics(log_dir: str) -> dict:
    """Per-job-description task metrics from Spark's JSON event log."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    stage_desc: Dict[int, str] = {}
    jobs: Dict[str, int] = defaultdict(int)
    shuffle_written: Dict[str, int] = defaultdict(int)
    bytes_read: Dict[str, int] = defaultdict(int)
    arrow_task_ms: Dict[str, List[int]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                jobs[desc] += 1
                for sid in ev["Stage IDs"]:
                    stage_desc[sid] = desc
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                desc = stage_desc.get(ev["Stage ID"], "")
                shuffle_written[desc] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                bytes_read[desc] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics", {})
                if sr.get("Total Records Read", 0) > 0:
                    arrow_task_ms[desc].append(m.get("Executor Run Time", 0))
    return {
        "jobs": dict(jobs),
        "shuffle_bytes_written": dict(shuffle_written),
        "input_bytes_read": dict(bytes_read),
        "arrow_task_ms": dict(arrow_task_ms),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["setup", "measure", "trace"], required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--launched", type=float, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    cores = os.cpu_count() or 1
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"perfbench-{args.workload}")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    log_dir = os.path.join(args.work, "eventlog")
    if args.mode == "trace":
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", log_dir)
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from occular_ocr_spark import job
    from occular_ocr_spark.registry import Registry
    from occular_ocr_spark.sink import CheckpointedParquetSink
    from occular_ocr_spark.sources import read_transcripts

    df = read_transcripts(spark, args.input)
    df.createOrReplaceTempView("transcripts")
    result: dict = {"setup_s": time.time() - args.launched}
    if args.mode == "setup":
        _finish(args.out, result)

    cfg = inputs.SINK[args.workload]
    sc = spark.sparkContext

    def write(out_dir: str, max_ranges=None) -> float:
        sink = CheckpointedParquetSink(out_dir, cfg["num_buckets"], cfg["num_ranges"])
        t0 = time.perf_counter()
        sink.write(df, num_partitions=cfg["partitions"], salt_buckets=cfg["salt"], max_ranges=max_ranges)
        return time.perf_counter() - t0

    def warm_passes(out_dir: str, tag: str) -> List[float]:
        # at least MIN_WARM_PASSES: a session still speeds up through its
        # first few writes, and the median and the resume that follows
        # should not depend on how far one run got along that curve
        times: List[float] = []
        t0 = time.perf_counter()
        while len(times) < MIN_WARM_PASSES or time.perf_counter() - t0 < args.seconds:
            sc.setJobDescription(f"{tag}:{len(times)}")
            times.append(write(_fresh(args.work, out_dir)))
        return times

    if args.mode == "measure":
        with RssSampler() as rss:
            result["cold_s"] = write(_fresh(args.work, "out-cold"))
            cpu0 = cpu_ticks()
            result["warm_s"] = warm_passes("out-warm", "write")
            cpu1 = cpu_ticks()
            result["resume_s"] = []
            for i in range(RESUMES):
                resume_dir = _fresh(args.work, f"out-resume{i}")
                write(resume_dir, max_ranges=math.ceil(cfg["num_ranges"] / 2))
                result["resume_s"].append(write(resume_dir))
        result["peak_rss_bytes"], result["peak_rss_procs"] = rss.peak
        result["warm_busy_cpu_s"] = (cpu1["busy"] - cpu0["busy"]) / os.sysconf("SC_CLK_TCK")
        result["outputs"] = ["out-warm", f"out-resume{RESUMES - 1}"]
        _finish(args.out, result)

    import identity

    Registry.register(identity.NAME, identity.IdentityExtractor)
    spans = Spans()
    P, salt = cfg["partitions"], cfg["salt"]
    with spans.span("write.cold"):
        result["cold_s"] = write(_fresh(args.work, "out-cold"))
    with spans.span("write.warm"):
        result["warm_s"] = warm_passes("out-warm", "write")

    def scan():
        return read_transcripts(spark, args.input)

    steps = {
        "scan": scan,
        "exchange": lambda: job.repartition_salted(scan(), P, salt),
        "identity": lambda: job.extract_detailed(
            scan(), num_partitions=P, salt_buckets=salt, strategy=identity.NAME
        ),
        "kernel": lambda: job.extract_detailed(
            scan(), num_partitions=P, salt_buckets=salt, jvm_plain_fast_path=False
        ),
        "default": lambda: job.extract_detailed(scan(), num_partitions=P, salt_buckets=salt),
    }
    ladder: Dict[str, List[float]] = defaultdict(list)
    with spans.span("ladder"):
        # rounds interleave the steps, so drift during the ladder hits
        # every step alike instead of biasing one difference
        for rnd in range(LADDER_ROUNDS):
            for name in LADDER:
                sc.setJobDescription(f"ladder.{name}:{rnd}")
                with spans.span(f"ladder.{name}", parent="ladder") as sp:
                    steps[name]().write.format("noop").mode("overwrite").save()
                ladder[name].append(sp["seconds"])
    result["ladder_s"] = dict(ladder)

    ranges_dir = _fresh(args.work, "out-ranges")
    result["range_s"] = []
    with spans.span("sink"):
        for i in range(cfg["num_ranges"]):
            sc.setJobDescription(f"range:{i}")
            with spans.span("sink.range", parent="sink") as sp:
                write(ranges_dir, max_ranges=1)
            result["range_s"].append(sp["seconds"])
        sc.setJobDescription("rerun")
        with spans.span("sink.rerun", parent="sink") as sp:
            write(ranges_dir)
    result["rerun_s"] = sp["seconds"]
    result["files_per_pass"] = len(
        glob.glob(os.path.join(args.work, "out-warm", "data", "*", "part-*.parquet"))
    )
    result["outputs"] = ["out-warm", "out-ranges"]
    spark.stop()
    result["eventlog"] = eventlog_metrics(log_dir)
    result["spans"] = spans.records
    _dump(args.out, result)


def _dump(path: str, obj: dict) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def _finish(path: str, obj: dict) -> None:
    """Write the result and exit at once.  run.py then kills the JVM with
    the rest of this process group: every output is already committed,
    and a graceful ``spark.stop()`` would only lengthen the run."""
    _dump(path, obj)
    os._exit(0)


if __name__ == "__main__":
    main()
