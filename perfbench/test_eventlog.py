"""Tests of the event-log reader on a captured one-wave crawl.

``testdata/one_wave.jsonl.gz`` holds the job, stage and task events of a
Spark event log written while one ``CrawlEngine.run_wave`` ran under the
span recorder (job descriptions ``wave0`` and ``wave0/statestore.*``), and
``testdata/one_wave_span.json`` that wave's wall-clock window.  Re-capture
both with ``python3 perfbench/test_eventlog.py --capture`` from the root of
a checkout.  Run the tests with ``python3 -m pytest perfbench``.
"""

from __future__ import annotations

import gzip
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import eventlog as EL  # noqa: E402

DATA = os.path.join(HERE, "testdata")
LOG = os.path.join(DATA, "one_wave.jsonl.gz")
SPAN = os.path.join(DATA, "one_wave_span.json")


def _log():
    return EL.EventLog.read(LOG)


def _span():
    with open(SPAN) as f:
        return json.load(f)


def test_jobs_and_stages_parsed():
    log = _log()
    assert len(log.jobs) >= 10
    assert all(j.end_s is not None and j.end_s >= j.start_s for j in log.jobs.values())
    assert all(st.tasks for st in log.stages.values() if st.scopes)


def test_groupings_partition_the_tasks():
    log = _log()
    total = log.totals()
    by_desc = log.by_description()
    assert sum(t.tasks for t in by_desc.values()) == total.tasks
    assert abs(sum(t.run_s for t in by_desc.values()) - total.run_s) < 1e-6
    assert sum(t.shuffle_write for t in by_desc.values()) == total.shuffle_write
    # every job of the wave carries a span description
    assert all(d.startswith("wave0") for d in by_desc)
    assert any(d.startswith("wave0/statestore.") for d in by_desc)


def test_fetch_stage_attribution():
    log = _log()
    fetch = log.totals("wave0", "MapInPandas")
    assert fetch.tasks > 0 and fetch.run_s > 0
    # the fetch stage is the one Python stage of the wave: its workers ran
    # and moved bytes both ways
    assert fetch.py_run_s > 0 and fetch.py_bytes > 0
    assert fetch.task_skew >= 1.0
    # discovered links are hashed by the URL-hash UDF inside the wave
    assert log.totals("wave0", "ArrowEvalPython").tasks > 0
    assert "MapInPandas" in log.by_scope()


def test_only_python_op():
    pred = EL.only_python_op("ArrowEvalPython")
    assert pred({"ArrowEvalPython", "Project", "Exchange"})
    assert not pred({"ArrowEvalPython", "MapInPandas"})
    assert not pred({"MapInPandas"})
    udf = _log().totals("wave0", pred)
    # the URL-hash UDF's stage runs no other Python operator: all of its
    # Python worker time is the UDF's, and less than the stage's run time
    assert udf.tasks > 0 and 0 < udf.py_run_s < udf.run_s


def test_shuffle_balance():
    t = _log().totals()
    assert t.shuffle_write > 0
    assert t.shuffle_read == t.shuffle_write  # local mode reads what it wrote
    assert len(t.task_records_in) == t.tasks and sum(t.task_records_in) > 0


def test_driver_gap_accounts_for_wave():
    log, span = _log(), _span()
    gap = EL.driver_gap(log, span["start"], span["end"])
    assert abs(gap["covered_s"] + gap["gap_s"] - gap["wall_s"]) < 1e-9
    assert 0 < gap["covered_s"] <= gap["wall_s"]
    assert gap["jobs"] == len(log.jobs)


def test_driver_gap_merges_overlaps():
    log = EL.EventLog()
    for jid, (a, b) in enumerate([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]):
        log.jobs[jid] = EL.Job(jid, "", a, b, ())
    gap = EL.driver_gap(log, 0.0, 10.0)
    assert gap["covered_s"] == 4.0 and gap["gap_s"] == 6.0 and gap["jobs"] == 3


def capture() -> None:
    """Run one crawl wave under the span recorder with the event log on and
    keep the events this reader uses."""
    import shutil
    import tempfile

    from perfbench import harness as H
    from perfbench.crawl import STORE_SPANS, Crawl
    from perfbench.spans import Tracer

    work = tempfile.mkdtemp(dir=H.ROOT, prefix=".perfbench_capture_")
    ev_dir = os.path.join(work, "eventlog")
    spark = None
    try:
        spark = H.start_spark(work, ev_dir)
        wl = Crawl(spark, 1, work)
        wl.setup_inputs()
        eng = wl.engine(os.path.join(work, "state"))
        from httpz_spark.sources import synthetic as S

        eng.init_frontier(S.seeds_df(spark, wl.seed_lines))
        tracer = Tracer(spark)
        undo = tracer.wrap(eng.store, STORE_SPANS)
        with tracer.span("wave0"):
            eng.run_wave(0)
        undo()
        wave = tracer.named("wave0")[0]
        spark.stop()
        spark = None
        src = os.path.join(ev_dir, os.listdir(ev_dir)[0])
        os.makedirs(DATA, exist_ok=True)
        keep = ("SparkListenerJobStart", "SparkListenerJobEnd",
                "SparkListenerStageSubmitted", "SparkListenerStageCompleted",
                "SparkListenerTaskEnd")
        setup_stages, setup_jobs = set(), set()
        with open(src) as f, gzip.open(LOG, "wt") as out:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind not in keep:
                    continue
                if kind == "SparkListenerJobStart" and \
                        e["Submission Time"] / 1000.0 < wave.start:
                    setup_jobs.add(e["Job ID"])    # set-up jobs before the wave
                    setup_stages.update(e["Stage IDs"])
                if e.get("Job ID") in setup_jobs or e.get("Stage ID", (
                        e.get("Stage Info") or {}).get("Stage ID")) in setup_stages:
                    continue
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    e["Properties"] = {k: v for k, v in props.items()
                                       if k == "spark.job.description"}
                out.write(json.dumps(e) + "\n")
        with open(SPAN, "w") as f:
            json.dump({"start": wave.start, "end": wave.end}, f)
            f.write("\n")
    finally:
        H.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    if sys.argv[1:] == ["--capture"]:
        capture()
    else:
        print(__doc__)
