"""Collectors for the traced run, all outside the engine.

- Spark's status REST API (``sc.uiWebUrl``): jobs, stages, per-stage
  ``taskSummary`` quantiles and the ``sql?details=true`` node metrics.
  Jobs are attributed to one query execution through the job group the
  benchmark sets around each phase (``<qid>.build``, ``<qid>.catalyst``,
  ``<qid>.exec``).
- Catalyst phase times from a frame's ``queryExecution().tracker()``.
- ``/proc`` for the resident memory of the driver's process tree.
- Span self time and the percentile rule.

Everything but the two live readers (``RestClient`` and
``catalyst_phases``) is a pure function of recorded JSON, so the tests
exercise it on a fixture without Spark.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import statistics
import threading
import time
import urllib.request

MB = 1e6

# SQL metric names of the Python evaluation nodes (ArrowEvalPython,
# FlatMapGroupsInPandas, MapInPandas, ...), mapped to per-layer metrics.
PYTHON_NODE_METRICS = {
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}

FROZEN_MARKER = "/data/frozen/"

_UNITS = {
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric_value(text: str) -> float:
    """A SQL metric value as the REST API prints it, in seconds, bytes
    or a plain count.  Accumulated metrics print a header line and then
    ``total (min, med, max ...)``; only the total is read."""
    lines = text.strip().splitlines()
    line = lines[-1] if lines and lines[0].startswith("total (") else text
    m = _VALUE_RE.match(line)
    if not m:
        raise ValueError(f"unparseable SQL metric value {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit and unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in SQL metric value {text!r}")
    return number * _UNITS.get(unit, 1.0)


def rest_time(stamp: str) -> float:
    """REST timestamp (``2026-10-17T03:05:47.980GMT``) -> epoch seconds."""
    return (
        dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


def is_checkpoint_job(job: dict) -> bool:
    return job.get("name", "").split(" at ", 1)[0] in ("localCheckpoint", "checkpoint")


# ---------------------------------------------------------------- plans


def _final_plan_node_ids(plan: str) -> set[int]:
    """Operator ids of the executed tree in a formatted plan description:
    the tree before the node details, without AQE's ``Initial Plan``
    subtrees (planned, never run)."""
    ids: set[int] = set()
    skip_indent: int | None = None
    for line in plan.split("\n\n", 1)[0].splitlines():
        body = line.lstrip(" :|+-*")
        indent = len(line) - len(body)
        if skip_indent is not None:
            # the marker's children start at the marker's own column
            if indent >= skip_indent:
                continue
            skip_indent = None
        if "== Initial Plan ==" in line:
            skip_indent = indent
            continue
        m = re.search(r"\((\d+)\)", body)
        if m:
            ids.add(int(m.group(1)))
    return ids


def frozen_scans(plan: str) -> int:
    """Executed file scans whose location lies under the engine's frozen
    artifact store, read from a formatted plan description."""
    executed = _final_plan_node_ids(plan)
    n = 0
    for block in re.split(r"\n(?=\(\d+\) )", plan):
        m = re.match(r"\((\d+)\) Scan ", block)
        if m and int(m.group(1)) in executed:
            loc = re.search(r"^Location: .*$", block, re.M)
            if loc and FROZEN_MARKER in loc.group(0):
                n += 1
    return n


# ---------------------------------------------------------------- REST


class RestClient:
    """Reads the live application's status REST API (localhost only,
    proxies bypassed)."""

    def __init__(self, ui_url: str, app_id: str):
        port = ui_url.rsplit(":", 1)[1].strip("/")
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{app_id}"
        self._open = urllib.request.build_opener(urllib.request.ProxyHandler({})).open

    def get(self, path: str):
        with self._open(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def wait_settled(self, timeout_s: float = 20.0) -> None:
        """Block until the status store has seen every job finish (the
        listener bus is asynchronous)."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if not self.get("/jobs?status=running") and all(
                e["status"] != "RUNNING" for e in self.get("/sql?length=100000")
            ):
                return
            time.sleep(0.2)
        raise TimeoutError("Spark status store did not settle")

    def snapshot(self, groups: set[str]) -> dict:
        """Jobs, stages, SQL executions and task summaries for the jobs of
        the given groups — the same shape as the recorded test fixture."""
        jobs = [j for j in self.get("/jobs") if j.get("jobGroup") in groups]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self.get("/stages") if s["stageId"] in stage_ids]
        sql = [
            e
            for e in self.get("/sql?details=true&length=100000")
            if job_ids.intersection(
                e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"]
            )
        ]
        summaries = {
            f"{s['stageId']}.{s['attemptId']}": self.get(
                f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary"
                "?quantiles=0.0,0.5,1.0"
            )
            for s in stages
            if s["status"] == "COMPLETE" and s["numTasks"] > 0
        }
        return {"jobs": jobs, "stages": stages, "sql": sql, "task_summaries": summaries}


# ---------------------------------------------------------------- per query


def query_metrics(snap: dict, qid: str, slots: int, wall_s: float) -> dict[str, float]:
    """Stage-, job- and SQL-level layer metrics of one query execution.

    Build jobs are those of group ``<qid>.build`` (finished before
    ``fn()`` returned); ``exec.jobs`` those of ``<qid>.exec`` (the write).
    Stage and task figures cover every stage the query ran, whichever
    phase submitted it: an iterative build's rounds are execution work."""
    jobs = [j for j in snap["jobs"] if j.get("jobGroup", "").rsplit(".", 1)[0] == qid]
    job_ids = {j["jobId"] for j in jobs}
    phase = lambda j: j["jobGroup"].rsplit(".", 1)[1]  # noqa: E731
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    # Latest attempt of each stage that actually ran.
    ran: dict[int, dict] = {}
    for s in snap["stages"]:
        if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED"):
            if s["stageId"] not in ran or s["attemptId"] > ran[s["stageId"]]["attemptId"]:
                ran[s["stageId"]] = s
    stages = list(ran.values())

    skipped = sum(j["numSkippedStages"] for j in jobs)
    stage_slots = sum(
        j["numSkippedStages"] + j["numCompletedStages"] + j["numFailedStages"] for j in jobs
    )
    task_run_s = sum(s["executorRunTime"] for s in stages) / 1e3

    skew = 1.0
    sched_delay_s = 0.0
    for s in stages:
        summ = snap["task_summaries"].get(f"{s['stageId']}.{s['attemptId']}")
        if not summ:
            continue
        lo_med_hi = dict(zip(summ["quantiles"], summ["executorRunTime"]))
        # median scheduler delay x tasks: taskSummary gives quantiles only
        sched_delay_s += dict(zip(summ["quantiles"], summ["schedulerDelay"]))[0.5] * s[
            "numCompleteTasks"
        ] / 1e3
        if s["numCompleteTasks"] >= 2 and lo_med_hi[0.5] > 0:
            skew = max(skew, lo_med_hi[1.0] / lo_med_hi[0.5])

    out = {
        "build.jobs": float(sum(phase(j) == "build" for j in jobs)),
        "build.checkpoint_jobs": float(sum(is_checkpoint_job(j) for j in jobs)),
        "exec.jobs": float(sum(phase(j) == "exec" for j in jobs)),
        "exec.stages": float(len(stages)),
        "exec.tasks": float(sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages)),
        "exec.failed_tasks": float(sum(s["numFailedTasks"] for s in stages)),
        "exec.skipped_stage_ratio": skipped / stage_slots if stage_slots else 0.0,
        "exec.task_run_s": task_run_s,
        "exec.task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "exec.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
        "exec.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / MB,
        "exec.shuffle_fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
        "exec.spill_mb": sum(s["diskBytesSpilled"] for s in stages) / MB,
        "exec.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "exec.task_skew": skew,
        "exec.scheduler_delay_s": sched_delay_s,
        "exec.slot_busy_frac": task_run_s / (wall_s * slots) if wall_s > 0 else 0.0,
        "sources.input_mb": sum(s["inputBytes"] for s in stages) / MB,
        "sources.output_mb": sum(s["outputBytes"] for s in stages) / MB,
        "sources.scan_tasks": float(
            sum(s["numCompleteTasks"] for s in stages if s["inputBytes"] > 0)
        ),
        "artifact.frozen_scans": 0.0,
    }
    out.update({m: 0.0 for m in PYTHON_NODE_METRICS.values()})
    for e in snap["sql"]:
        if not job_ids.intersection(e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"]):
            continue
        out["artifact.frozen_scans"] += frozen_scans(e["planDescription"])
        for node in e["nodes"]:
            for m in node["metrics"]:
                key = PYTHON_NODE_METRICS.get(m["name"])
                if key:
                    v = parse_metric_value(m["value"])
                    out[key] += v / MB if key.endswith("_mb") else v
    return out


def job_spans(snap: dict, qid: str) -> list[dict]:
    """Job spans of one query, parented to its ``build``/``catalyst``/
    ``exec`` span by job group."""
    out = []
    for j in snap["jobs"]:
        group = j.get("jobGroup", "")
        if group.rsplit(".", 1)[0] != qid or "completionTime" not in j:
            continue
        out.append(
            {
                "name": "job",
                "id": f"{qid}.job{j['jobId']}",
                "parent": group,
                "start": rest_time(j["submissionTime"]),
                "end": rest_time(j["completionTime"]),
                "attrs": {"job_name": j["name"], "status": j["status"]},
            }
        )
    return out


# ---------------------------------------------------------------- Catalyst


def catalyst_phases(df) -> dict[str, float]:
    """Force the frame's physical plan, then read its planning tracker:
    seconds per phase and the executed-plan node count."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[f"catalyst.{name}_s"] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    # one operator per line of the tree string
    out["catalyst.plan_nodes"] = float(sum(1 for ln in plan.treeString().splitlines() if ln.strip()))
    return out


# ---------------------------------------------------------------- /proc


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces and parentheses: ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb() -> float:
    """Summed resident memory of this process and all its descendants."""
    kids = _children_map()
    todo = [os.getpid()]
    total = 0
    while todo:
        pid = todo.pop()
        total += rss_kib(pid)
        todo.extend(kids.get(pid, ()))
    return total * 1024 / MB


class PeakRss:
    """Peak of ``tree_rss_mb`` since ``start`` or the last ``take``,
    sampled every ``interval_s`` on a daemon thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self._peak_mb = 0.0
        self._lock = threading.Lock()
        self._stopped = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while True:
            rss = tree_rss_mb()
            with self._lock:
                self._peak_mb = max(self._peak_mb, rss)
            if self._stopped.wait(self.interval_s):
                return

    def start(self) -> None:
        self._thread.start()

    def take(self) -> float:
        """The peak of the interval that ends now; a new one starts."""
        rss = tree_rss_mb()
        with self._lock:
            peak, self._peak_mb = max(self._peak_mb, rss), 0.0
        return peak

    def stop(self) -> None:
        self._stopped.set()
        self._thread.join()


def process_start_epoch() -> float:
    """When this process started, in epoch seconds (clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    hz = os.sysconf("SC_CLK_TCK")
    return time.time() - uptime + start_ticks / hz


# ---------------------------------------------------------------- spans


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its children cover.  A
    span is a dict with ``start`` and ``end`` in epoch seconds."""
    return span["end"] - span["start"] - covered(
        span["start"], span["end"], [(c["start"], c["end"]) for c in children]
    )


def tail_percentile(samples: list[float], q: float) -> float | None:
    """The q-quantile of ``samples``, or None when fewer than 10 samples
    lie beyond it (p90 needs at least 100)."""
    if len(samples) * (1 - q) < 10 - 1e-9:
        return None
    return statistics.quantiles(samples, n=1000, method="inclusive")[round(q * 1000) - 1]
