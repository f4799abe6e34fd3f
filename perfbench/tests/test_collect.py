import json
import os
import subprocess
import sys
import time

import pytest

from perfbench import collect

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "rest_snapshot.json")


@pytest.fixture(scope="module")
def snap():
    with open(FIXTURE) as f:
        return json.load(f)


def _group_queries(snap):
    """{query name: qid} from the recorded jobs' descriptions."""
    return {j["description"]: j["jobGroup"].rsplit(".", 1)[0] for j in snap["jobs"]}


# ---------------------------------------------------------------- values


@pytest.mark.parametrize(
    "text, value",
    [
        ("total (min, med, max (stageId: taskId))\n2.0 s (370 ms, 422 ms, 781 ms (stage 49.0: task 80))", 2.0),
        ("total (min, med, max (stageId: taskId))\n148.3 KiB (36.4 KiB, 37.6 KiB, 37.9 KiB)", 148.3 * 1024),
        ("48 ms", 0.048),
        ("1.5 m", 90.0),
        ("417.6 KiB", 417.6 * 1024),
        ("2.0 MiB", 2.0 * 1024**2),
        ("15,000", 15000.0),
        ("0.0 B", 0.0),
    ],
)
def test_parse_metric_value(text, value):
    assert collect.parse_metric_value(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "n/a", "3 parsecs"])
def test_parse_metric_value_rejects_garbage(text):
    with pytest.raises(ValueError):
        collect.parse_metric_value(text)


def test_rest_time():
    assert collect.rest_time("1970-01-01T00:00:01.250GMT") == pytest.approx(1.25)


# ---------------------------------------------------------------- fixture


def test_fixture_stage_fields_add_up(snap):
    qids = _group_queries(snap)
    qid = qids["copurchase_kcore"]
    m = collect.query_metrics(snap, qid, slots=4, wall_s=2.0)
    jobs = [j for j in snap["jobs"] if j["jobGroup"].startswith(qid + ".")]
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    ran = [s for s in snap["stages"] if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]
    assert m["exec.stages"] == len(ran) > 0
    assert m["exec.tasks"] == sum(s["numCompleteTasks"] for s in ran)
    assert m["exec.task_run_s"] == pytest.approx(sum(s["executorRunTime"] for s in ran) / 1e3)
    assert m["exec.shuffle_write_mb"] == pytest.approx(sum(s["shuffleWriteBytes"] for s in ran) / 1e6)
    assert m["exec.slot_busy_frac"] == pytest.approx(m["exec.task_run_s"] / 8.0)
    assert m["build.jobs"] == sum(j["jobGroup"] == qid + ".build" for j in jobs)
    assert m["exec.jobs"] == sum(j["jobGroup"] == qid + ".exec" for j in jobs)
    assert m["build.jobs"] > m["exec.jobs"] >= 1
    skipped = sum(j["numSkippedStages"] for j in jobs)
    assert m["exec.skipped_stage_ratio"] == pytest.approx(
        skipped / sum(j["numSkippedStages"] + j["numCompletedStages"] for j in jobs)
    )


def test_fixture_local_checkpoint_jobs(snap):
    qids = _group_queries(snap)
    kcore = [j for j in snap["jobs"] if j["jobGroup"].startswith(qids["copurchase_kcore"] + ".")]
    names = {j["name"].split(" at ")[0] for j in kcore}
    assert "localCheckpoint" in names
    m = collect.query_metrics(snap, qids["copurchase_kcore"], 4, 2.0)
    assert m["build.checkpoint_jobs"] == sum(j["name"].startswith("localCheckpoint at ") for j in kcore) > 0
    assert collect.is_checkpoint_job({"name": "checkpoint at x.py:1"})
    assert not collect.is_checkpoint_job({"name": "save at NativeMethodAccessorImpl.java:0"})


def test_fixture_task_summary_quantiles(snap):
    # worst stage's max / median executor run time, over stages of >= 2 tasks
    qid = _group_queries(snap)["copurchase_kcore"]
    jobs = [j for j in snap["jobs"] if j["jobGroup"].startswith(qid + ".")]
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    ratios = [1.0]
    delay = 0.0
    for s in snap["stages"]:
        summ = snap["task_summaries"].get(f"{s['stageId']}.{s['attemptId']}")
        if s["stageId"] not in stage_ids or s["status"] != "COMPLETE" or not summ:
            continue
        assert summ["quantiles"] == [0.0, 0.5, 1.0]
        lo, med, hi = summ["executorRunTime"]
        assert lo <= med <= hi
        delay += summ["schedulerDelay"][1] * s["numCompleteTasks"] / 1e3
        if s["numCompleteTasks"] >= 2 and med > 0:
            ratios.append(hi / med)
    m = collect.query_metrics(snap, qid, 4, 2.0)
    assert m["exec.task_skew"] == pytest.approx(max(ratios))
    assert m["exec.scheduler_delay_s"] == pytest.approx(delay)


def test_fixture_python_node_metrics(snap):
    qids = _group_queries(snap)
    names = {
        m["name"]
        for e in snap["sql"]
        for n in e["nodes"]
        if n["nodeName"] in ("ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas")
        for m in n["metrics"]
    }
    assert set(collect.PYTHON_NODE_METRICS) <= names
    for q in ("token_count_pandas_udf", "order_minmax_norm_pandas"):
        m = collect.query_metrics(snap, qids[q], 4, 1.0)
        assert m["python.run_s"] > 0 and m["python.sent_mb"] > 0 and m["python.returned_mb"] > 0
    m = collect.query_metrics(snap, qids["copurchase_kcore"], 4, 1.0)
    assert all(m[k] == 0 for k in collect.PYTHON_NODE_METRICS.values())


def test_fixture_frozen_scans(snap):
    qids = _group_queries(snap)
    assert collect.query_metrics(snap, qids["copurchase_kcore"], 4, 1.0)["artifact.frozen_scans"] > 0
    assert collect.query_metrics(snap, qids["order_minmax_norm_pandas"], 4, 1.0)["artifact.frozen_scans"] == 0


def test_fixture_job_spans_parented_by_group(snap):
    qid = _group_queries(snap)["copurchase_kcore"]
    spans = collect.job_spans(snap, qid)
    assert spans and {s["parent"] for s in spans} <= {f"{qid}.build", f"{qid}.catalyst", f"{qid}.exec"}
    assert all(s["end"] >= s["start"] > 1e9 for s in spans)


def test_frozen_scans_ignore_initial_plan():
    plan = (
        "== Physical Plan ==\n"
        "AdaptiveSparkPlan (6)\n"
        "+- == Final Plan ==\n"
        "   * Filter (2)\n"
        "   +- Scan parquet  (1)\n"
        "+- == Initial Plan ==\n"
        "   Filter (5)\n"
        "   +- Scan parquet  (4)\n"
        "\n\n"
        "(1) Scan parquet \n"
        "Location: InMemoryFileIndex [file:/x/mapreducer_spark/data/frozen/sf0.01/neardup_pairs]\n"
        "\n"
        "(4) Scan parquet \n"
        "Location: InMemoryFileIndex [file:/x/mapreducer_spark/data/frozen/sf0.01/neardup_pairs]\n"
    )
    assert collect.frozen_scans(plan) == 1
    assert collect.frozen_scans(plan.replace("data/frozen", "data/live")) == 0


# ---------------------------------------------------------------- spans


def test_self_time_subtracts_the_union_of_children():
    def span(start, end):
        return {"start": start, "end": end}

    parent = span(0.0, 10.0)
    kids = [
        span(1.0, 3.0),
        span(2.0, 5.0),  # overlaps the first
        span(8.0, 12.0),  # runs past the parent
        span(-3.0, -1.0),  # outside it
    ]
    assert collect.covered(0.0, 10.0, [(k["start"], k["end"]) for k in kids]) == pytest.approx(6.0)
    assert collect.self_time(parent, kids) == pytest.approx(4.0)
    assert collect.self_time(parent, []) == pytest.approx(10.0)


def test_percentile_needs_ten_samples_beyond_it():
    assert collect.tail_percentile([float(i) for i in range(99)], 0.9) is None
    hundred = [float(i) for i in range(1, 101)]
    assert collect.tail_percentile(hundred, 0.9) == pytest.approx(90.1)
    assert collect.tail_percentile(hundred[:20], 0.5) == pytest.approx(10.5)
    assert collect.tail_percentile(hundred[:19], 0.5) is None


# ---------------------------------------------------------------- /proc


def test_proc_readers():
    assert collect.tree_rss_mb() > 1.0
    assert collect.rss_kib(os.getpid()) > 0
    assert collect.rss_kib(-1) == 0
    assert 0 < time.time() - collect.process_start_epoch() < 3600


def test_peak_rss_sees_a_short_lived_child():
    sampler = collect.PeakRss(interval_s=0.02)
    sampler.start()
    base = sampler.take()
    # The child holds 100 MB for half a second, then exits.
    subprocess.run(
        [sys.executable, "-c", "import time; x = b'x' * 100_000_000; time.sleep(0.5)"],
        check=True,
    )
    peak = sampler.take()
    after = sampler.take()
    sampler.stop()
    assert peak >= base + 80
    assert after < peak - 80
