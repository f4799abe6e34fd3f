#!/usr/bin/env python3
"""Layer-split benchmark for the mapreducer_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One client in one driver process
drives a closed loop against a ``local[<cpus>]`` session built by the
engine's own ``get_spark``: each query starts when the previous one has
finished.  A run is

1. set-up (``setup_s``): process start, ``get_spark`` and the warm-up
   passes.  The first is also the verification pass — every result is
   compared with its DuckDB oracle digest (or, for the word count, with
   the generator's exact counts); the rest run as timed passes do,
   untimed, until ``WARM_QUERIES`` queries have run.  Input generation,
   oracle digests and the comparisons are excluded from ``setup_s``.
2. the timed window: whole passes over the workload's queries, in a
   seeded order per pass, until ``--seconds`` have passed.  One query
   is the registry ``fn(spark, sf_dir)`` call plus a ``noop`` write (the
   word count writes its ``key : value`` sink instead).  Session memos
   are cleared at the start of every pass, the warm-up passes included.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced passes in the window (untraced, traced, traced,
untraced, ...), prints the per-layer metrics (per-query means over the
traced passes; see README.md) and the tracing overhead per pass, and
writes the spans to ``.perfbench_work/spans/``.  The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.

Inputs: the TPC-H-style fixture vendored under ``perfbench/data/sf0.01``
(byte-identical to the engine's ``sf0.01`` fixture, so its frozen
artifacts are fingerprint-fresh) and, for the word count, a corpus
generated from ``--seed`` under ``.perfbench_work/``.  Everything the
run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import statistics
import subprocess
import sys
import time
import traceback
import warnings
from dataclasses import dataclass
from typing import Callable

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(ROOT, ".perfbench_work")
MB = 1e6
# Untimed queries after the verification pass, in whole passes (at least
# one).  A fresh JVM is still compiling after one pass: on sql_mix the
# first pass that writes instead of collecting runs about a third slower
# than the ones after it, and the word count's time falls by a quarter
# over its first ten or so runs.
WARM_QUERIES = 12


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]  # registry names; empty for the corpus job
    # Queries that share a session memo keep this relative order in every
    # shuffled pass, so the same one pays for the shared build whatever
    # the seed (the pass total does not depend on it; each query's time
    # does).
    shared: tuple[str, ...] = ()


# Every run starts a fresh JVM whose first pass costs two to three times
# a warm one, and a run is kept to about a minute on a 4-core host so
# that it can be repeated many times per check.  So the registry
# workload is a representative subset of the short queries, and the
# pandas-UDF queries ride in it rather than in a workload of their own.
WORKLOADS = {
    # Scan, tokenize, combine, shuffle and sink do nearly all the work;
    # build, Catalyst and Python almost none.
    "wordcount_corpus": Workload(()),
    # Short queries, one analysis session per pass: Catalyst, job/task
    # scheduling, fan_out widths, the driver build, the frozen-artifact
    # read path and the Python boundary dominate.  The three near-dup
    # consumers share the pair-graph memo within a pass.  The last four
    # are the only registry queries whose executed plans hold
    # FlatMapGroupsInPandas, ArrowEvalPython or MapInPandas.
    "sql_mix": Workload(
        (
            "customer_distribution",
            "shipping_priority_topn",
            "word_count",
            "neardup_clusters",
            "bm25_retrieval",
            "corpus_after_neardup_dedup",
            "neardup_degree_stats",
            "tfidf_top_terms",
            "word_count_udaf",
            "token_count_pandas_udf",
            "order_minmax_norm_pandas",
            "embedding_gram_matrix",
        ),
        shared=("corpus_after_neardup_dedup", "neardup_clusters", "neardup_degree_stats"),
    ),
}


@dataclass
class Item:
    """One query of a workload: how to build it, run it, and check it."""

    name: str
    build: Callable[[], object]
    write: Callable[[object], None]
    verify: Callable[[object], str | None]  # runs the frame; None = correct


@dataclass
class Pass:
    mode: str  # "verify" or "warm" (set-up), "timed" or "traced"
    times: list[float]  # seconds per completed query
    wall: float  # seconds, memo clearing included
    peak_rss_mb: float  # of the driver's process tree during the pass


def _prepare_environment() -> None:
    for sub in ("tmp", "local", "warehouse", "spans"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir in local mode.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # JVMs write performance counters to the system temp directory
    # unless told not to; this is the spark-submit launcher's JVM (the
    # driver JVM gets the flag through its Java options).
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # The IVF oracles are rendered at import from this fixture's index.
    os.environ["SPARK_GRAFT_ORACLE_SF"] = SF_DIR
    sys.path.insert(0, ROOT)


def _slots() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        from mapreducer_spark.functions.memo import clear_session_caches

        from perfbench import collect

        self.collect = collect
        self.clear_memos = clear_session_caches
        self.name = workload
        self.wl = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rng = random.Random(seed)
        self.slots = _slots()
        self.excluded_s = 0.0  # input generation and verification
        self.attempted = 0
        self.failed = 0
        self.corpus_mb = 0.0
        self.rss = collect.PeakRss()
        self.n_exec = 0
        self.spans: list[dict] = []
        self.traced: list[dict] = []  # per traced query execution
        self.final_check: Callable[[], str | None] | None = None  # after the window

    def _exclude(self, t0: float) -> None:
        """Keep the time since ``t0`` out of ``setup_s``."""
        self.excluded_s += time.perf_counter() - t0

    # ------------------------------------------------------------ set-up

    def start_session(self):
        from mapreducer_spark.session import get_spark

        tmp = os.path.join(WORK, "tmp")
        conf = {
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            # The status store must keep every traced job, stage and SQL
            # execution until the end of the run.
            for k in ("spark.ui.retainedJobs", "spark.ui.retainedStages", "spark.sql.ui.retainedExecutions"):
                conf[k] = "100000"
        self.spark = get_spark(
            app_name=f"perfbench-{self.name}",
            master=f"local[{self.slots}]",
            shuffle_partitions=self.slots,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def make_items(self) -> list[Item]:
        if self.name == "wordcount_corpus":
            return [self._corpus_item()]
        from mapreducer_spark.oracle import run_spark
        from mapreducer_spark.registry import all_queries

        from perfbench.verify import OracleDigests, check_result

        queries = [all_queries()[n] for n in self.wl.queries]
        t0 = time.perf_counter()
        expected = OracleDigests(os.path.join(WORK, "oracle_digests.json"), SF_DIR).expected(queries)
        self._exclude(t0)

        def verifier(name):
            def verify(df):
                cols, rows = run_spark(df)
                t0 = time.perf_counter()
                err = check_result(name, cols, rows, expected[name])
                self._exclude(t0)
                return err

            return verify

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        return [Item(q.name, lambda q=q: q.fn(self.spark, SF_DIR), noop, verifier(q.name)) for q in queries]

    def _corpus_item(self) -> Item:
        from mapreducer_spark.sources.text_corpus import word_count_text_dir, write_kv_lines

        from perfbench.corpus import corpus_bytes, generate_corpus
        from perfbench.verify import check_sink, check_word_counts

        corpus_dir = os.path.join(WORK, "corpus")
        out_dir = os.path.join(WORK, "wordcount_out")
        t0 = time.perf_counter()
        expected = generate_corpus(corpus_dir, self.seed)
        self.corpus_mb = corpus_bytes(corpus_dir) / MB
        self._exclude(t0)

        def sink(df):
            write_kv_lines(df, out_dir)

        def verify(df):
            rows = [tuple(r) for r in df.collect()]
            sink(df)
            t0 = time.perf_counter()
            err = check_word_counts(rows, expected) or check_sink(out_dir, expected)
            self._exclude(t0)
            return err

        self.final_check = lambda: check_sink(out_dir, expected)
        return Item("word_count_text_dir", lambda: word_count_text_dir(self.spark, corpus_dir), sink, verify)

    # ------------------------------------------------------------ passes

    def _order(self, items: list[Item]) -> list[Item]:
        order = list(items)
        self.rng.shuffle(order)
        by_name = {i.name: i for i in items}
        slots = [k for k, i in enumerate(order) if i.name in self.wl.shared]
        for k, name in zip(slots, self.wl.shared):
            order[k] = by_name[name]
        return order

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        print(f"FAILED {name}: {why}", file=sys.stderr, flush=True)

    def run_pass(self, items: list[Item], mode: str) -> Pass:
        """Every query once, in this pass's seeded order, with session
        memos cleared at the start.  ``mode`` "verify" checks each result
        (the times then include collecting it), "warm" and "timed" write
        it, and "traced" writes it under the tracer."""
        times = []
        t_pass = time.perf_counter()
        self.clear_memos()
        for item in self._order(items):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if mode == "traced":
                    self._traced_query(item)
                elif mode == "verify":
                    err = item.verify(item.build())
                    if err:
                        self._fail(item.name, err)
                        continue
                else:
                    item.write(item.build())
            except Exception:  # a failing query is counted, the run goes on
                self._fail(item.name, traceback.format_exc())
                continue
            times.append(time.perf_counter() - t0)
        wall = time.perf_counter() - t_pass
        gc.collect()
        rss = self.rss.take()
        print(f"  {mode} pass {wall:.3f} s {rss:.0f} MB: " + " ".join(f"{t:.3f}" for t in times), file=sys.stderr, flush=True)
        return Pass(mode, times, wall, rss)

    def _traced_query(self, item: Item) -> None:
        sc = self.spark.sparkContext
        qid = f"q{self.n_exec}"
        self.n_exec += 1
        t0 = time.time()
        sc.setJobGroup(f"{qid}.build", item.name)
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            df = item.build()
        t1 = time.time()
        sc.setJobGroup(f"{qid}.catalyst", item.name)
        rec = self.collect.catalyst_phases(df)
        t2 = time.time()
        sc.setJobGroup(f"{qid}.exec", item.name)
        item.write(df)
        t3 = time.time()
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)  # later jobs belong to no query
        rec.update(
            {
                "qid": qid,
                "name": item.name,
                "wall": t3 - t0,
                "build.s": t1 - t0,
                "exec.s": t3 - t2,
                "artifact.stale_fallbacks": float(
                    sum(issubclass(w.category, RuntimeWarning) for w in caught)
                ),
                "sources.sink_s": t3 - t2 if self.name == "wordcount_corpus" else 0.0,
            }
        )
        rec["spans"] = {
            phase: {"name": phase, "id": f"{qid}.{phase}", "parent": qid, "start": a, "end": b, "attrs": {}}
            for phase, a, b in (("build", t0, t1), ("catalyst", t1, t2), ("exec", t2, t3))
        }
        self.traced.append(rec)
        self.spans.append(
            {"name": "query", "id": qid, "parent": None, "start": t0, "end": t3, "attrs": {"query": item.name}}
        )
        self.spans += rec["spans"].values()

    def window(self, items: list[Item], modes: tuple[str, ...]) -> list[Pass]:
        """Whole passes, their modes cycling through ``modes``, until
        ``seconds`` have passed and the last cycle is complete."""
        passes: list[Pass] = []
        t0 = time.perf_counter()
        while not passes or len(passes) % len(modes) or time.perf_counter() - t0 < self.seconds:
            passes.append(self.run_pass(items, modes[len(passes) % len(modes)]))
        return passes

    # ------------------------------------------------------------ layers

    def layer_metrics(self, session_s: float, warmup_s: float) -> dict:
        c = self.collect
        sc = self.spark.sparkContext
        client = c.RestClient(sc.uiWebUrl, sc.applicationId)
        client.wait_settled()
        groups = {f"{r['qid']}.{p}" for r in self.traced for p in ("build", "catalyst", "exec")}
        snap = self.snap = client.snapshot(groups)
        rows = []
        for rec in self.traced:
            m = c.query_metrics(snap, rec["qid"], self.slots, rec["wall"])
            m.update({k: v for k, v in rec.items() if k not in ("qid", "name", "wall", "spans")})
            m["build.share"] = rec["build.s"] / rec["wall"]
            jobs = c.job_spans(snap, rec["qid"])
            self.spans += jobs
            for phase in ("build", "exec"):
                span = rec["spans"][phase]
                kids = [j for j in jobs if j["parent"] == span["id"]]
                m[f"{phase}.self_s"] = c.self_time(span, kids)
            rows.append(m)
        keys = sorted(rows[0]) if rows else []
        out = {k: statistics.fmean(r[k] for r in rows) for k in keys}
        out["session.start_s"] = session_s
        out["session.warmup_s"] = warmup_s
        return out

    def write_spans(self) -> str:
        """Spans, and the REST snapshot they were built from."""
        path = os.path.join(WORK, "spans", f"{self.name}-seed{self.seed}.json")
        with open(path, "w") as f:
            json.dump(self.spans, f)
        with open(path.replace(".json", ".rest.json"), "w") as f:
            json.dump(self.snap, f)
        return path

    def tracing_overhead(self, passes: list[Pass]) -> str:
        """Median traced pass wall minus median untraced pass wall.  The
        passes alternate untraced, traced, traced, untraced, so a steady
        warming trend cancels; an estimate within the spread of the
        untraced passes themselves is reported as unresolved."""
        walls = {m: [p.wall for p in passes if p.mode == m] for m in ("timed", "traced")}
        overhead = statistics.median(walls["traced"]) - statistics.median(walls["timed"])
        noise = max(walls["timed"]) - min(walls["timed"])
        verdict = "resolved" if abs(overhead) > noise else f"unresolved: untraced passes spread {noise:.3f} s"
        return (
            f"{self.name}: tracing overhead {overhead:+.3f} s per pass ({verdict}; "
            f"{len(walls['timed'])} untraced and {len(walls['traced'])} traced passes, "
            f"median untraced {statistics.median(walls['timed']):.3f} s)"
        )

    # ------------------------------------------------------------ run

    def run(self) -> dict:
        t_proc = self.collect.process_start_epoch()
        self.rss.start()
        t0 = time.perf_counter()
        self.start_session()
        session_s = time.perf_counter() - t0
        try:
            items = self.make_items()
            t1 = time.perf_counter()
            excluded_before = self.excluded_s
            self.run_pass(items, "verify")
            for _ in range(-(-WARM_QUERIES // len(items))):
                self.run_pass(items, "warm")
            # No forced full collection before the window: it shrinks the
            # heap, and the first timed passes then pay to grow it again.
            self.rss.take()  # the window's passes start a fresh interval
            warmup_s = time.perf_counter() - t1 - (self.excluded_s - excluded_before)
            print(
                f"set-up: session {session_s:.2f} s, warm-up {warmup_s:.2f} s, "
                f"excluded {self.excluded_s:.2f} s",
                file=sys.stderr,
            )
            setup_s = time.time() - t_proc - self.excluded_s

            passes = self.window(items, ("timed", "traced", "traced", "timed") if self.trace else ("timed",))
            err = self.final_check and self.final_check()
            if err:
                self._fail("window output", err)
            if not self.trace:
                # Per-pass figures, reported as their median over the
                # window's passes, so that a burst of host contention in
                # one pass does not move the result.  A pass is a fixed
                # mix of unlike queries, so its central latency is the
                # geometric mean (TPC-H's power metric); 0 only when
                # every query failed (and correct is false).
                geo = [statistics.geometric_mean(p.times) for p in passes if p.times]
                metrics = {
                    "setup_s": (setup_s, "s"),
                    "query_s.geomean": (statistics.median(geo) if geo else 0.0, "s"),
                    "queries_per_s": (statistics.median(len(p.times) / p.wall for p in passes), "1/s"),
                    "peak_rss_mb": (statistics.median(p.peak_rss_mb for p in passes), "MB"),
                }
                self.report(metrics, passes)
            else:
                layers = self.layer_metrics(session_s, warmup_s)
                path = self.write_spans()
                print(f"spans: {path} ({len(self.spans)})", file=sys.stderr)
                metrics = {k: (v, _unit(k)) for k, v in sorted(layers.items())}
                print(self.tracing_overhead(passes))
        finally:
            self.rss.stop()
            self.stop()
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def report(self, metrics: dict, passes: list[Pass]) -> None:
        times = [t for p in passes for t in p.times]
        wall = sum(p.wall for p in passes)
        print(
            f"workload {self.name}: {len(times)} timed queries in {len(passes)} passes "
            f"({wall:.1f} s), seed {self.seed}, local[{self.slots}]"
        )
        for k, (v, u) in metrics.items():
            print(f"  {k:16s} {v:12.4f} {u}")
        p50 = statistics.median(times) if times else None
        p90 = self.collect.tail_percentile(times, 0.9)
        print(f"  query_s.p50      {'%12.4f s' % p50 if p50 is not None else '(no samples)'}  n={len(times)}")
        print(f"  query_s.p90      {'%12.4f s' % p90 if p90 is not None else '(needs >= 100 samples)'}  n={len(times)}")
        if self.corpus_mb:
            print(f"  corpus_mb_per_s  {self.corpus_mb * len(times) / wall:12.4f} MB/s")
        print(f"  failed_frac      {self.failed / max(1, self.attempted):12.4f} ratio  ({self.failed}/{self.attempted})")

    def stop(self) -> None:
        from pyspark import SparkContext

        spark = getattr(self, "spark", None)
        if spark is not None:
            spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def _unit(metric: str) -> str:
    if metric.endswith(("_s", ".s")):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith(("_frac", "_ratio", ".share", "_skew")):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mapreducer_spark")):
        print(f"mapreducer_spark not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    _prepare_environment()
    result = Bench(args.workload, args.seed, args.seconds, bool(args.trace)).run()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
