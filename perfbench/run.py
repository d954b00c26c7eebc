#!/usr/bin/env python3
"""httpz_spark benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload crawl_cycle --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout on ``local[nproc]``.  The workload's inputs
come from ``--seed``.  With ``--trace 0`` the last stdout line is the JSON
result with the end-to-end metrics; with ``--trace 1`` it carries the
per-layer metrics of a traced repetition (Spark event log + span recorder),
including the tracing overhead.  Human-readable detail goes to stderr.
See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "frontier.wave_s": "s", "frontier.jobs_per_wave": "count",
    "frontier.driver_gap_s": "s", "frontier.job_covered_s": "s",
    "frontier.exec_s": "s",
    "statestore.read_s": "s", "statestore.write_s": "s",
    "statestore.merge_s": "s", "statestore.delete_s": "s",
    "statestore.append_s": "s", "statestore.calls": "count",
    "statestore.max_deltas": "count", "statestore.state_bytes": "bytes",
    "frontier_dedup.probe_exec_s": "s", "frontier_dedup.index_update_s": "s",
    "frontier_dedup.fp_rate": "fraction", "frontier_dedup.index_bytes": "bytes",
    "politeness.window_exec_s": "s", "politeness.deferred_frac": "fraction",
    "politeness.fetch_part_skew": "ratio",
    "functions.url_hash_exec_s": "s",
    "fetch.exec_s": "s", "fetch.python_run_s": "s", "fetch.python_bytes": "bytes",
    "fetch.task_skew": "ratio", "fetch.error_frac": "fraction",
    "revalidate.exec_s": "s", "revalidate.not_modified_frac": "fraction",
    "warc.write_s": "s", "warc.read_s": "s", "warc.bytes": "bytes",
    "warc.file_skew": "ratio", "warc.empty_files": "count",
    "dedup.pairs_s": "s", "dedup.pairs_n": "count", "dedup.cc_s": "s",
    "dedup.cc_rounds": "count", "dedup.cc_auto_star": "count",
    "similarity.adc_s": "s", "similarity.adc_dist_s": "s", "imageshard.s": "s", "textquality.s": "s",
    "c4rules.s": "s", "decontam.s": "s", "curation.s": "s",
    "spark.jobs": "count", "spark.exec_cpu_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "trace.wall_s": "s", "trace.overhead_s": "s",
}
WORKLOADS = ("crawl_cycle", "curate_shard")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def workload_class(name: str):
    if name == "crawl_cycle":
        from perfbench.crawl import Crawl
        return Crawl
    from perfbench.curate import Curate
    return Curate


class Run:
    """One benchmark process: sessions, set-up and measured repetitions."""

    def __init__(self, opts, work: str):
        self.opts, self.work = opts, work
        self.spark = None
        self.wl = None
        self.attempted = self.failed = 0
        self.checks: dict = {}

    def session(self, wl_cls, event_log_dir=None) -> float:
        """Start the session (and the JVM) and generate the inputs; returns
        the set-up time."""
        from perfbench import harness as H

        t0 = time.perf_counter()
        self.spark = H.start_spark(self.work, event_log_dir)
        if self.wl is None:
            self.wl = wl_cls(self.spark, self.opts.seed, self.work)
        self.wl.spark = self.spark
        self.wl.setup_inputs()
        return time.perf_counter() - t0

    def rep(self, tracer, idx: int) -> dict:
        from perfbench import harness as H

        state = os.path.join(self.work, f"state{idx}")
        clock = H.Clock(tracer)
        try:
            with tracer.span("rep"):
                out = self.wl.rep(clock, tracer, state)
        except Exception:
            self.attempted += len(clock.steps) + 1
            self.failed += 1
            raise
        self.attempted += len(clock.steps)
        for name, ok in out["checks"].items():
            self.attempted += 1
            self.failed += 0 if ok else 1
            self.checks[name] = self.checks.get(name, True) and bool(ok)
            if not ok:
                log(f"check FAILED: {name}")
        log("rep {}: wall {:.2f}s  {}".format(idx, clock.total, "  ".join(
            f"{n} {s:.2f}" for n, s in clock.steps)))
        out["wall_s"] = clock.total
        return out

    def untraced(self, wl_cls) -> dict:
        """Repetitions until ``--seconds`` of measuring have passed (at
        least one).  Every process measures a cold JVM first, so the
        figures of one run are comparable with those of another."""
        from perfbench import harness as H
        from perfbench.spans import OFF

        setup_s = self.session(wl_cls)
        reps = []
        t0 = time.perf_counter()
        while not reps or time.perf_counter() - t0 < self.opts.seconds:
            reps.append(self.rep(OFF, len(reps)))
        walls = [r["wall_s"] for r in reps]
        log(f"set-up {setup_s:.2f}s  repetitions {len(reps)}")
        return {
            "setup_s": setup_s,
            "wall_s": H.median(walls),
            "items_per_s": sum(r["items"] for r in reps) / sum(walls),
            "peak_rss_mb": H.peak_rss_mb(),
        }

    def traced(self, wl_cls) -> dict:
        """One traced repetition on a cold JVM (event log on, spans
        recorded), like the untraced runs it is compared with.  The tracing
        overhead is its wall time minus the untraced wall time: the median
        recorded by earlier untraced runs in this checkout or, failing
        that, an untraced run made first in this process on its own JVM.
        Only history recorded by the same code counts (see code_hash)."""
        from perfbench import eventlog as EL
        from perfbench import harness as H
        from perfbench.spans import Tracer

        base = H.median(untraced_history(self.opts.workload, code_hash()))
        if not base:
            base = self.untraced(wl_cls)["wall_s"]
            H.shutdown(self.spark)            # the traced run gets a cold JVM
            self.spark = None
        ev_dir = os.path.join(self.work, "eventlog")
        self.session(wl_cls, ev_dir)
        tracer = Tracer(self.spark)
        out = self.rep(tracer, 0)
        metrics = self.wl.probes(out)
        self.spark.stop()                     # flushes the event log
        self.spark = None
        files = [os.path.join(ev_dir, f) for f in os.listdir(ev_dir)]
        elog = EL.EventLog.read(max(files, key=os.path.getmtime))
        metrics.update(self.wl.layer_metrics(tracer, elog))
        metrics.update(common_layers(tracer, elog))
        metrics["trace.wall_s"] = out["wall_s"]
        metrics["trace.overhead_s"] = out["wall_s"] - base
        tracer.dump(os.path.join(os.path.dirname(self.work),
                                 f"spans-{self.opts.workload}-{self.opts.seed}.jsonl"))
        return metrics


def record_digests(opts, work: str) -> None:
    """Write the output digests of an uninterrupted run (for the crawl: the
    first engine also runs the recrawl cycle) to perfbench/digests.json."""
    from perfbench import checks as C
    from perfbench import harness as H
    from perfbench.spans import OFF

    run = Run(opts, work)
    try:
        run.session(workload_class(opts.workload))
        out = run.wl.rep(H.Clock(OFF), OFF, os.path.join(work, "state"),
                         resume=False)
    finally:
        H.shutdown(run.spark)
    failed = [k for k, ok in out["checks"].items()
              if not ok and not k.startswith("recorded_")]
    if failed:
        raise SystemExit(f"not recording: checks failed: {failed}")
    digests = C.load_digests()
    digests.setdefault(opts.workload, {})[str(opts.seed)] = out["digests"]
    with open(C.DIGESTS, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"recorded {opts.workload} seed {opts.seed}: {out['digests']}")


def _history_path(workload: str) -> str:
    return os.path.join(ROOT, ".perfbench_work", f"untraced-{workload}.jsonl")


def code_hash() -> str:
    """sha256 over the Python files of ``httpz_spark/`` and ``perfbench/``
    (paths and contents), so untraced history from other code is never a
    baseline."""
    h = hashlib.sha256()
    for top in ("httpz_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for name in sorted(files):
                if not name.endswith(".py"):
                    continue
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def untraced_history(workload: str, code: str) -> list:
    """``wall_s`` of the untraced runs recorded in this checkout by ``code``."""
    try:
        with open(_history_path(workload)) as f:
            rows = [json.loads(line) for line in f if line.strip()]
        return [r["wall_s"] for r in rows if r.get("code") == code]
    except (OSError, ValueError, KeyError):
        return []


def record_untraced(workload: str, seed: int, wall_s: float) -> None:
    with open(_history_path(workload), "a") as f:
        f.write(json.dumps({"seed": seed, "wall_s": wall_s,
                            "code": code_hash()}) + "\n")


def common_layers(tracer, elog) -> dict:
    """State-store spans (outermost store call only), the Python worker
    time of the URL-hash UDF and Spark totals of the traced repetition."""
    from perfbench import eventlog as EL

    m = {}
    outer = [s for s in tracer.spans if s.name.startswith("statestore.")
             and not (s.parent or "").rsplit("/", 1)[-1].startswith("statestore.")]
    for op in ("read", "write", "merge", "delete", "append"):
        m[f"statestore.{op}_s"] = sum(s.secs for s in outer
                                      if s.name == f"statestore.{op}")
    m["statestore.calls"] = len(outer)
    tot = elog.totals("rep")
    # stages whose only Python operator is ArrowEvalPython: their Python
    # worker time is the UDF's own (their other work is JVM-side)
    m["functions.url_hash_exec_s"] = elog.totals(
        "rep", EL.only_python_op("ArrowEvalPython")).py_run_s
    m["spark.jobs"] = sum(1 for j in elog.jobs.values()
                          if j.description.startswith("rep"))
    m["spark.exec_cpu_s"] = tot.cpu_s
    m["spark.shuffle_write_bytes"] = tot.shuffle_write
    m["spark.shuffle_read_bytes"] = tot.shuffle_read
    m["spark.spill_bytes"] = tot.spill
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.strip().splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record this seed's output digests and exit")
    opts = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "httpz_spark", "__init__.py")):
        log(f"no httpz_spark package next to {HERE}: run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness as H

    work = os.path.join(ROOT, ".perfbench_work", f"{opts.workload}-{opts.seed}-{os.getpid()}")
    os.makedirs(work)
    # every scratch path (package zip, py4j handshake, Spark local dirs)
    # stays inside the checkout
    tempfile.tempdir = work
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    if opts.record:
        try:
            record_digests(opts, work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return 0
    run = Run(opts, work)
    load_start = H.load1()
    metrics: dict = {}
    try:
        wl_cls = workload_class(opts.workload)
        if opts.trace:
            metrics = run.traced(wl_cls)
            wanted = PER_LAYER
        else:
            metrics = run.untraced(wl_cls)
            wanted = END_TO_END
            if run.failed == 0:
                record_untraced(opts.workload, opts.seed, metrics["wall_s"])
    except Exception:
        traceback.print_exc(file=sys.stderr)
        run.failed = max(run.failed, 1)
        run.attempted = max(run.attempted, 1)
        wanted = PER_LAYER if opts.trace else END_TO_END
    finally:
        with contextlib.suppress(Exception):
            H.shutdown(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    log(f"load1 start {load_start:.2f} end {H.load1():.2f}")
    correct = run.failed == 0 and bool(run.checks) and all(run.checks.values())
    result = {
        "correct": correct,
        "attempted": int(run.attempted),
        "failed": int(run.failed),
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in wanted.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
