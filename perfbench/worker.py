"""The measured process: one workload, one seed, one run.

``run.py`` starts this in a fresh interpreter and passes its spawn
time in ``PERFBENCH_T0``, so ``setup_s`` counts interpreter start,
imports, ``get_spark``, ``ship_package`` and one warm-up query. The
run is a closed loop with one client: a first pass calls every op
once, then warm passes repeat them in the same order until
``--seconds`` have gone by since the first pass began (at least
``MIN_WARM_PASSES``). Outputs are checked after the last pass. The result is
written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

T0 = float(os.environ.get("PERFBENCH_T0", time.time()))
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from tracing import Tracer, jobs_within, parse_event_log, self_time_by_name  # noqa: E402

# The headline queries this benchmark runs, with their operator family
# (for exec.warm_s.<family>). 13 of bench.py's 30 HEADLINE queries fit
# the run budget with two warm passes; these are the plan-construction
# and control-plane sites ROADMAP D2/D3 target (simhash, epoch shuffle,
# k-means, decontamination, the q8-row ANN entries, flagship), the two
# entries that drifted across rounds (lsh_ann_topk, pricing_summary),
# the x10 depth targets (minhash, vocab_top_terms) and at least two
# queries of every family.
FAMILY = {
    "flagship_order_enrichment": "relational",
    "pricing_summary": "relational",
    "rolling_customer_metrics": "windows",
    "session_window_stats": "windows",
    "vocab_top_terms": "text",
    "benchmark_decontamination": "text",
    "epoch_shuffle_positions": "text",
    "minhash_near_dups": "dedup",
    "simhash_near_dups": "dedup",
    "semantic_dedup_docs": "dedup",
    "ngram_jaccard_pairs": "similarity",
    "lsh_ann_topk": "similarity",
    "kmeans_embedding_clusters": "similarity",
}
FAMILIES = ("dedup", "similarity", "text", "relational", "windows")
# Warm passes every run makes, whatever --seconds says: each op's warm
# time is the median of at least two repeats.
MIN_WARM_PASSES = 2


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _warmup(spark, parquet: str, arrow: bool) -> None:
    """The one warm-up query of set-up: a parquet scan of one of the
    workload's inputs and a shuffle, plus, for a workload whose ops run
    pandas UDFs, an Arrow round trip through one Python worker per core,
    so the first measured op does not also pay for starting the paths
    every op uses."""

    def identity(batches):
        yield from batches

    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 40_000, 1, n).selectExpr("id % 7 AS k")
    if arrow:
        df = df.mapInPandas(identity, "k long")
    _noop(df.unionByName(spark.read.parquet(parquet).selectExpr("1 AS k")).groupBy("k").count())


def _tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker and
    checksum files."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


class Run:
    """State shared by the workloads: session, tracer, pass counter."""

    def __init__(self, spark, tracer: Tracer, work: str):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.pass_no = 0

    def group(self, op: str, layer: str) -> None:
        """Label the Spark jobs of the next call as ``<op>:<layer>``
        (traced runs only; the event log carries the label)."""
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(f"{op}:{layer}", f"pass={self.pass_no}")

    def span(self, name: str, op: str | None = None):
        return self.tracer.span(name, op, self.pass_no)


class HeadlineWorkload:
    """bench.py's HEADLINE queries listed in FAMILY on the seeded
    tables, one op per query."""

    WARMUP_INPUT = "region.parquet"
    WARMUP_ARROW = True

    def __init__(self, run: Run, data_dir: str):
        from bench import HEADLINE
        from football_etl_spark.plans.queries import REGISTRY

        self.run = run
        self.data_dir = data_dir
        self.registry = REGISTRY
        # bench.py's order, the same for every seed: whichever op runs
        # first on the cold JVM pays 1.5-4 s more depending on the op,
        # so a seed-permuted order moved first_call_s by up to 25 %
        self.ops = [q for q in HEADLINE if q in FAMILY]
        self.codegen = None
        self.compiles: dict[int, int] = {}
        self.catalyst = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        if run.tracer.enabled:
            jvm = run.spark._jvm
            self.codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
            self._wrap_loader()

    def _wrap_loader(self) -> None:
        """Span every registry call into io.loader.load_table."""
        import football_etl_spark.plans.queries as q

        inner = q.load_table
        run = self.run

        def load_table(spark, sf_dir, name):
            with run.span("loader.load_table"):
                return inner(spark, sf_dir, name)

        q.load_table = load_table

    def _catalyst(self, df) -> None:
        """Catalyst phase times of the op's own QueryExecution (forces
        its optimization and planning; traced runs only)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase in self.catalyst:
            o = phases.get(phase)
            if o.isDefined():
                self.catalyst[phase] += o.get().durationMs() / 1000.0

    def run_op(self, op: str) -> float:
        run = self.run
        first = run.pass_no == 0
        n0 = self.codegen.getCount() if self.codegen is not None else 0
        with run.span("op", op):
            run.group(op, "construct")
            t0 = time.perf_counter()
            with run.span("queries.construct" if first else "queries.cache_hit", op):
                df = self.registry[op].fn(run.spark, self.data_dir)
            t1 = time.perf_counter()
            if first and run.tracer.enabled:
                with run.span("catalyst", op):
                    self._catalyst(df)
            run.group(op, "execute")
            with run.span("exec", op):
                t2 = time.perf_counter()
                _noop(df)
                t3 = time.perf_counter()
        if self.codegen is not None:
            self.compiles[run.pass_no] = self.compiles.get(run.pass_no, 0) + self.codegen.getCount() - n0
        return (t1 - t0) + (t3 - t2)

    def _check(self, op: str) -> list[str]:
        from tests.oracle_harness import compare

        try:
            # compare executes the result twice (all rows, then the
            # first 100 for its dtype and cell-type checks)
            df = self.registry[op].fn(self.run.spark, self.data_dir).persist()
            try:
                return compare(df, self.registry[op].oracle, self.data_dir)
            finally:
                df.unpersist()
        except Exception:
            return [traceback.format_exc(limit=3)]

    def verify(self) -> dict[str, list[str]]:
        # untimed, so the checks overlap: Spark collects and DuckDB
        # oracle queries of different ops run side by side
        with ThreadPoolExecutor(max_workers=4) as pool:
            return dict(zip(self.ops, pool.map(self._check, self.ops)))

    def probe(self) -> dict[str, float]:
        return {}

    def layer_metrics(self, spans, jobs, warm: dict) -> dict[str, float]:
        m: dict[str, float] = {}
        ctl = [j for j in jobs if (j["group"] or "").endswith(":construct") and j["description"] == "pass=0"]
        m["queries.control_jobs"] = len(ctl)
        m["queries.control_job_s"] = sum(j["end"] - j["submit"] for j in ctl if j["end"])
        m["loader.load_table_s"] = _span_sum(spans, "loader.load_table", 0)
        m["queries.construct_s"] = _span_sum(spans, "queries.construct", 0)
        m["queries.cache_hit_s"] = _warm_median_sum(spans, "queries.cache_hit")
        m["catalyst.analysis_s"] = self.catalyst["analysis"]
        m["catalyst.optimization_s"] = self.catalyst["optimization"]
        m["catalyst.planning_s"] = self.catalyst["planning"]
        m["codegen.compiles"] = self.compiles.get(0, 0)
        m["codegen.warm_compiles"] = self.compiles.get(1, 0)
        m["exec.first_s"] = _span_sum(spans, "exec", 0)
        per_op = _warm_median_by_op(spans, "exec")
        m["exec.warm_s"] = sum(per_op.values())
        for fam in FAMILIES:
            m[f"exec.warm_s.{fam}"] = sum(v for op, v in per_op.items() if FAMILY.get(op) == fam)
        return m


class EtlWorkload:
    """The paper's pipeline: ``land`` streams the daily matches feed
    into bronze (one micro-batch per file) and compacts it; ``pipeline``
    runs read_csv -> process -> metrics -> join -> sinks -> stats."""

    ops = ["land", "pipeline"]
    WARMUP_INPUT = "matches"
    WARMUP_ARROW = False

    def __init__(self, run: Run, data_dir: str):
        from pyspark.sql import functions as F

        from football_etl_spark.plans import pipeline
        from football_etl_spark.schemas import FIXTURES, MATCHES, TEAM_HISTORY
        from gen import TODAY

        self.run = run
        self.data_dir = data_dir
        self.stages = pipeline
        self.schemas = (FIXTURES, TEAM_HISTORY, MATCHES)
        self.today = F.lit(TODAY.isoformat()).cast("date")
        with open(os.path.join(data_dir, "expected.json")) as f:
            self.expected = json.load(f)
        self.feed = os.path.join(data_dir, "matches")
        self.listener = None
        if run.tracer.enabled:
            self.listener = _batch_listener()
            run.spark.streams.addListener(self.listener)

    def _dir(self, what: str) -> str:
        return os.path.join(self.run.work, f"pass{self.run.pass_no}", what)

    def run_op(self, op: str) -> float:
        run = self.run
        prev = os.path.join(run.work, f"pass{run.pass_no - 2}")
        if run.pass_no >= 2 and os.path.isdir(prev):
            shutil.rmtree(prev)  # keep only the last two passes on disk
        t0 = time.perf_counter()
        with run.span("op", op):
            getattr(self, op)()
        return time.perf_counter() - t0

    def land(self) -> None:
        from football_etl_spark.io.sinks import compact_parquet
        from football_etl_spark.streaming.incremental import incremental_parquet_sink, read_event_stream

        run = self.run
        bronze = self._dir("bronze")
        run.group("land", "incremental")
        with run.span("incremental.land", "land"):
            stream = read_event_stream(run.spark, self.feed, self.schemas[2])
            incremental_parquet_sink(stream, bronze, self._dir("checkpoint"))
        run.group("land", "compact")
        with run.span("sinks.compact", "land"):
            self.files_after_compact = compact_parquet(run.spark, bronze)

    def _frames(self):
        from football_etl_spark.io.loader import read_csv

        p = self.stages
        run = self.run
        with run.span("loader.read_csv", "pipeline"):
            fx_raw = read_csv(run.spark, os.path.join(self.data_dir, "fixtures.csv"), self.schemas[0])
            hist_raw = read_csv(run.spark, os.path.join(self.data_dir, "team_history.csv"), self.schemas[1])
        fx = p.process_fixtures(fx_raw, today=self.today)
        hist = p.process_team_history(hist_raw, today=self.today)
        metrics = p.calculate_team_metrics(hist)
        out = p.join_data(fx, metrics)
        return fx, hist, metrics, out

    def pipeline(self) -> None:
        from football_etl_spark.io import sinks

        run = self.run
        run.group("pipeline", "execute")
        fx, hist, _, out = self._frames()
        with run.span("sinks.write", "pipeline"):
            sinks.write_csv(out, self._dir("out_csv"))
            sinks.write_json(out, self._dir("out_json"))
            sinks.write_parquet(out, self._dir("out_parquet"))
        with run.span("pipeline.stats", "pipeline"):
            stats = self.stages.pipeline_stats(fx, hist, out)
        with run.span("sinks.write", "pipeline"):
            sinks.write_stats_json(stats, self._dir("stats.json"))

    def probe(self) -> dict[str, float]:
        """Traced runs only, after the checks: materialize each pipeline
        stage to ``noop``. Each time includes the stages it reads from."""
        run = self.run
        fx, hist, metrics, out = self._frames()
        out_m = {}
        for name, df in (("fixtures", fx), ("history", hist), ("metrics", metrics), ("join", out)):
            run.group("pipeline", name)
            with run.span(f"pipeline.{name}", "pipeline") as s:
                _noop(df)
            out_m[f"pipeline.{name}_s"] = s["end"] - s["start"]
        run.group("pipeline", "stats")
        with run.span("pipeline.stats_only", "pipeline") as s:
            self.stages.pipeline_stats(fx, hist, out)
        out_m["pipeline.stats_s"] = s["end"] - s["start"]
        return out_m

    def verify(self) -> dict[str, list[str]]:
        from verify import check_bronze, check_pipeline

        self.last_pass = self.run.pass_no
        bronze = self.run.spark.read.parquet(self._dir("bronze")).toPandas()
        return {
            "land": check_bronze(bronze, self.feed),
            "pipeline": check_pipeline(self._dir("stats.json"), self._dir("out_parquet"), self.expected),
        }

    def layer_metrics(self, spans, jobs, warm: dict) -> dict[str, float]:
        m: dict[str, float] = {}
        rows = self.expected["feed_rows"]
        land = _median(warm["land"])
        land_only = _warm_median_sum(spans, "incremental.land")
        compact = _warm_median_sum(spans, "sinks.compact")
        m["etl_s"] = _median(warm["pipeline"])
        m["ingest_rows_per_s"] = rows / land if land else 0.0
        m["loader.read_csv_s"] = _span_sum(spans, "loader.read_csv", 1)
        m["sinks.write_s"] = _span_sum(spans, "sinks.write", 1)
        m["sinks.compact_s"] = compact
        m["sinks.files_after_compact"] = self.files_after_compact
        out_bytes, out_files = 0, 0
        for d in ("out_csv", "out_json", "out_parquet", "stats.json"):
            path = os.path.join(self.run.work, f"pass{self.last_pass}", d)
            if os.path.isdir(path):
                b, n = _tree_bytes(path)
            else:
                b, n = os.path.getsize(path), 1
            out_bytes += b
            out_files += n
        m["sinks.bytes_written"] = out_bytes
        m["sinks.files_written"] = out_files
        bronze_bytes, _ = _tree_bytes(os.path.join(self.run.work, f"pass{self.last_pass}", "bronze"))
        in_bytes = _tree_bytes(self.feed)[0] + sum(
            os.path.getsize(os.path.join(self.data_dir, f)) for f in ("fixtures.csv", "team_history.csv")
        )
        m["stored_bytes_per_input_byte"] = (bronze_bytes + out_bytes) / in_bytes
        batches = self.listener.batches_of_query(1) if self.listener else []
        m["incremental.batches"] = len(batches)
        m["incremental.batch_s"] = _median([b[1] for b in batches])
        m["incremental.rows_per_batch"] = _median([b[0] for b in batches])
        m["incremental.add_batch_s"] = _median([b[2] for b in batches])
        m["incremental.land_s"] = land_only
        # the share of each trigger spent outside writing the batch
        # (addBatch): offsets, planning, WAL and commit log
        trigger = sum(b[1] for b in batches)
        m["incremental.batch_overhead_share"] = (trigger - sum(b[2] for b in batches)) / trigger if trigger else 0.0
        return m


def _batch_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        """Records (input rows, trigger seconds, addBatch seconds) of
        every micro-batch, per streaming query in start order."""

        def __init__(self):
            self.started: list[str] = []
            self.progress: dict[str, list[tuple[int, float, float]]] = {}

        def onQueryStarted(self, event):
            self.started.append(str(event.id))

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows > 0:
                ms = p.durationMs
                self.progress.setdefault(str(p.id), []).append(
                    (p.numInputRows, ms.get("triggerExecution", 0) / 1000.0, ms.get("addBatch", 0) / 1000.0)
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def batches_of_query(self, index: int) -> list[tuple[int, float, float]]:
            if index >= len(self.started):
                return []
            return self.progress.get(self.started[index], [])

    return BatchListener()


def _span_sum(spans, name: str, pass_no: int) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name and s["pass"] == pass_no)


def _warm_by_op(spans, name: str) -> dict[str, list[float]]:
    per: dict[str, dict[int, float]] = {}
    for s in spans:
        if s["name"] == name and s["pass"] >= 1:
            d = per.setdefault(s["op"], {})
            d[s["pass"]] = d.get(s["pass"], 0.0) + s["end"] - s["start"]
    return {op: list(v.values()) for op, v in per.items()}


def _warm_median_by_op(spans, name: str) -> dict[str, float]:
    return {op: _median(v) for op, v in _warm_by_op(spans, name).items()}


def _warm_median_sum(spans, name: str) -> float:
    return sum(_warm_median_by_op(spans, name).values())


def _exec_internals(jobs, spans) -> dict[str, float]:
    """Event-log totals of the jobs run during the first warm pass."""
    window = [s for s in spans if s["name"] == "op" and s["pass"] == 1]
    sel = jobs_within(jobs, min(s["start"] for s in window), max(s["end"] for s in window)) if window else []
    m = {"exec.jobs": len(sel)}
    for k in ("stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "python_bytes"):
        m[f"exec.{k}"] = sum(j[k] for j in sel)
    return m


WORKLOADS = {"headline_sf0.01": HeadlineWorkload, "etl_ingest": EtlWorkload}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    tracer = Tracer(bool(args.trace))

    with tracer.span("setup", None, 0):
        with tracer.span("session.import", None, 0):
            from football_etl_spark.session import get_spark, ship_package
            import football_etl_spark.plans.queries  # noqa: F401
        conf = None
        if args.trace:
            log_dir = os.path.join(args.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
                "spark.eventLog.compress": "false",
            }
        with tracer.span("session.start", None, 0):
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        with tracer.span("session.ship", None, 0):
            ship_package(spark)
        with tracer.span("session.warmup", None, 0):
            wl_cls = WORKLOADS[args.workload]
            _warmup(spark, os.path.join(args.data, wl_cls.WARMUP_INPUT), wl_cls.WARMUP_ARROW)
    setup_s = time.time() - T0

    run = Run(spark, tracer, args.work)
    wl = WORKLOADS[args.workload](run, args.data)
    failures: dict[str, list[str]] = {}
    attempted = raised = 0
    first: dict[str, float] = {}
    warm: dict[str, list[float]] = {op: [] for op in wl.ops}

    def timed(op: str) -> float | None:
        nonlocal attempted, raised
        attempted += 1
        try:
            return wl.run_op(op)
        except Exception:  # one failing op must not end the run
            raised += 1
            failures.setdefault(op, []).append(traceback.format_exc(limit=3))
            return None

    t_start = time.perf_counter()
    with tracer.span("measure", None, 0):
        for op in wl.ops:
            first[op] = timed(op)
        while True:
            run.pass_no += 1
            for op in wl.ops:
                t = timed(op)
                if t is not None:
                    warm[op].append(t)
            if run.pass_no >= MIN_WARM_PASSES and time.perf_counter() - t_start >= args.seconds:
                break
    measured_s = time.perf_counter() - t_start
    open(os.path.join(args.work, "measured"), "w").close()  # ends the RSS window

    with tracer.span("verify", None, run.pass_no):
        try:
            checks = wl.verify()
        except Exception:
            checks = {op: [traceback.format_exc(limit=3)] for op in wl.ops}
    failed = raised + sum(1 for problems in checks.values() if problems)
    for op, problems in checks.items():
        if problems:
            failures.setdefault(op, []).extend(problems)

    probed = {}
    if args.trace:
        run.pass_no += 1
        probed = wl.probe()

    first_call_s = sum(v for v in first.values() if v is not None)
    warm_call_s = sum(_median(v) for v in warm.values())
    result = {
        "attempted": attempted,
        "failed": failed,
        "failed_ops": sorted(failures),
        "failures": {op: msgs[:3] for op, msgs in failures.items()},
        "passes": run.pass_no,
        "measured_s": measured_s,
        "e2e": {"setup_s": setup_s, "first_call_s": first_call_s, "warm_call_s": warm_call_s},
        "ops": {op: {"first": first[op], "warm": warm[op]} for op in wl.ops},
    }

    spark.stop()
    if args.trace:
        spans = tracer.spans
        jobs = parse_event_log(os.path.join(args.work, "eventlog"))
        layer = {}
        for name in ("session.import", "session.start", "session.ship", "session.warmup"):
            layer[f"{name}_s"] = _span_sum(spans, name, 0)
        layer.update(_exec_internals(jobs, spans))
        layer.update(wl.layer_metrics(spans, jobs, warm))
        layer.update(probed)
        selfs = self_time_by_name(spans)
        layer["trace.unattributed_s"] = selfs.get("measure", 0.0)
        layer["trace.spans"] = len(spans)
        layer["trace.first_call_s"] = first_call_s
        layer["trace.warm_call_s"] = warm_call_s
        layer["queries.construct_share"] = (
            layer.get("queries.construct_s", 0.0) / first_call_s if first_call_s else 0.0
        )
        result["layer"] = layer
        with open(os.path.join(args.work, "trace.json"), "w") as f:
            json.dump({"spans": spans, "self_s": selfs, "jobs": jobs}, f)
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
