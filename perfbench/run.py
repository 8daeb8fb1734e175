"""Benchmark of the data-to-Parquet engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads:

* ``excel_single``: ``api.convert()`` of one seeded 100k-row .xlsx whose
  sheet XML is above the split threshold, into one Parquet file;
* ``excel_fleet``: ``api.convert_many()`` of 16 seeded workbooks (12 .xlsx,
  4 .xlsb) holding the same total rows, into a Parquet dataset directory;
* ``query_mix``: the registry queries in ``QUERIES``, each written with
  ``sinks.parquet.to_parquet``, every pass in a fresh Spark application so
  all session memos start cold. Its data is a fixed copy of the sf0.001
  tables in ``perfbench/data``; the seed does not change it.

One Python process drives ``local[SPARK_GRAFT_CPUS]`` (default: the cores
this process may use). Set-up runs three times, each a JVM launch and a Spark
session from ``session.get_spark``; ``setup_s`` is their median. A first job
and one untimed unit of the workload then prime first-run JIT and code
generation. The timed loop repeats the unit
until its timed seconds reach ``--seconds`` (and at least three times). Every
output is checked outside the timed region; a failed call or check counts in
``failed``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` repeats the
unit with a span around each public call, plus per-layer probes, between
two untraced units, and reports the per-layer metrics; the spans go to a
JSON file. Both modes print a table and one ``record`` JSON line (host stamps,
samples, the figures of the layers only that workload has) before the last
line, which is the result object. Work files live in ``.perfbench_work/``
at the checkout root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from statistics import median

import gen
import host
from spans import Tracer, self_time_by_name

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SF_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.001")
DIGESTS = os.path.join(ROOT, "perfbench", "digests.json")

SETUP_REPS = 3
MIN_UNITS = 3  # a unit can outlast the run length; keep a median of three
APP_NAME = "perfbench"
E2E_METRICS = ("setup_s", "call_s_p50", "rows_per_s", "out_bytes_per_row", "driver_peak_rss_mb")
SHEET = gen.SHEET

#: query_mix list in run order; within a memo family the query that builds
#: the memo runs first: neardup_jaccard_pairs -> dedup_connected_components
#: (verified Jaccard pairs), similarity_topk_bruteforce ->
#: pq_reconstruction_audit (exact top-k), contamination_ngram_overlap ->
#: contamination_bloom_flags (corpus shingles)
QUERIES = [
    "dedup_minhash_pairs",
    "dedup_minhash_md5_pairs",
    "dedup_simhash_pairs",
    "dedup_simhash_md5_pairs",
    "neardup_jaccard_pairs",
    "dedup_connected_components",
    "similarity_topk_bruteforce",
    "pq_reconstruction_audit",
    "contamination_ngram_overlap",
    "contamination_bloom_flags",
    "bm25_rank_queries",
    "q3_shipping_priority",
    "window_top3_suppliers_per_nation",
    "q8_market_share",
    "q21_waiting_supplier",
]

now = time.perf_counter


def prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    and let Python workers import the program from it."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(host.nproc()))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def import_program() -> None:
    """Import the program from this checkout, or exit non-zero."""
    sys.path.insert(0, ROOT)
    try:
        import data_to_parquet_spark
    except ImportError as exc:
        raise SystemExit(f"perfbench: program not importable from {ROOT}: {exc}")
    where = os.path.abspath(data_to_parquet_spark.__file__)
    if not where.startswith(ROOT + os.sep):
        raise SystemExit(f"perfbench: program imported from {where}, not {ROOT}")


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Counter:
    """Operations attempted and failed; a failure is an exception or a
    failed output check."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.append(f"{what}: {'; '.join(problems)[:500]}")
            print(f"perfbench: FAILED {what}: {problems[:3]}", file=sys.stderr)


@contextmanager
def job_group(spark, group: str):
    """Run Spark jobs started inside the block under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def spark_tasks(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            tasks += st.numTasks if st else 0
    return len(jobs), tasks


# -- workloads -------------------------------------------------------------
#
# A workload holds the current Spark session in ``spark`` and offers
# ``prime`` (untimed), ``unit`` (one timed unit of work, checked; returns its
# sample, or {} after a failure, which is counted) and ``traced_unit`` (the
# unit with spans around each public call, plus per-layer probes).

def sink_probes(spark, tr: Tracer, src: str, name: str, row_group_rows=None) -> None:
    """Sink-only writes of the Parquet data at ``src``, each in a span."""
    from data_to_parquet_spark.sinks.parquet import to_parquet, to_single_parquet_file

    df = spark.read.parquet(src)
    out = os.path.join(WORK, "out", "sink_only", name)
    with tr.span("sinks.parquet.to_parquet"):
        to_parquet(df, out)
    with tr.span("sinks.parquet.single_file"):
        to_single_parquet_file(df, out + ".parquet", row_group_rows=row_group_rows)


class ExcelWorkload:
    """``excel_single`` (``fleet=False``) or ``excel_fleet``."""

    def __init__(self, seed: int, fleet: bool) -> None:
        from data_to_parquet_spark.sources.excel import SPLIT_THRESHOLD_BYTES

        cache = os.path.join(WORK, "inputs")
        self.spark = None
        self.fleet = fleet
        self.seed = seed
        if fleet:
            self.inputs = gen.fleet_inputs(cache, seed)
            self.out = os.path.join(WORK, "out", "fleet")
        else:
            self.inputs = gen.single_inputs(cache, seed)
            self.out = os.path.join(WORK, "out", "single.parquet")
        os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
        sizes = [d["sheet_part_bytes"] for d in self.inputs.descriptors]
        if fleet and max(sizes) >= SPLIT_THRESHOLD_BYTES:
            raise SystemExit(f"perfbench: a fleet sheet is above the split threshold: {sizes}")
        if not fleet and sizes[0] <= SPLIT_THRESHOLD_BYTES:
            raise SystemExit(f"perfbench: the single sheet is below the split threshold: {sizes}")
        self.rows_per_unit = self.inputs.expected.n_rows

    def check(self) -> list[str]:
        from checks import check_excel_output
        from data_to_parquet_spark.sources.excel import DEFAULT_BATCH_SIZE

        rg = None if self.fleet else DEFAULT_BATCH_SIZE
        return check_excel_output(self.out, self.inputs.expected, row_group_rows=rg)

    def prime(self, counter: Counter, record: dict) -> None:
        """Check the input shape, then one untimed call for first-run JIT and
        code generation."""
        from data_to_parquet_spark.sources.excel import read_excel

        df = read_excel(self.spark, self.inputs.paths, sheet_name=SHEET)
        tasks = df.rdd.getNumPartitions()
        if not self.fleet and tasks <= 1:
            raise SystemExit(f"perfbench: excel_single did not take the split path ({tasks} task)")
        record["inputs"] = {
            "descriptors": self.inputs.descriptors,
            "rows": self.rows_per_unit,
            "sources.excel.tasks": tasks,
        }
        record["prime_s"] = self.unit(counter).get("s")

    def unit(self, counter: Counter) -> dict:
        from checks import footer_stats
        from data_to_parquet_spark.api import convert, convert_many

        t0 = now()
        try:
            if self.fleet:
                convert_many(self.inputs.paths, self.out, sheet_name=SHEET, spark=self.spark)
            else:
                convert(self.inputs.paths[0], self.out, sheet_name=SHEET, spark=self.spark)
        except Exception:  # noqa: BLE001 - a failed call is counted, the run goes on
            traceback.print_exc()
            counter.record("call", ["raised"])
            return {}
        dt = now() - t0
        counter.record("call", self.check())
        fs = footer_stats(self.out)
        return {"s": dt, "rows": self.rows_per_unit, "bytes": fs["bytes"], "out_rows": fs["rows"]}

    def traced_unit(self, tr: Tracer, counter: Counter) -> dict:
        """The public calls ``convert`` / ``convert_many`` make, each in a
        span, then per-layer probes in their own spans."""
        from checks import footer_stats
        from data_to_parquet_spark.sinks.parquet import to_parquet, to_single_parquet_file
        from data_to_parquet_spark.sources.excel import (
            DEFAULT_BATCH_SIZE, infer_schema, open_workbook, read_excel, scan_sheet,
        )

        spark, paths = self.spark, self.inputs.paths
        n0 = len(tr.spans)
        group = f"{APP_NAME}-unit-{n0}"
        t0 = now()
        with job_group(spark, group), tr.span("unit"):
            with tr.span("sources.excel.plan"):
                df = read_excel(spark, paths if self.fleet else paths[0], sheet_name=SHEET)
            with tr.span("sinks.parquet.write"):
                if self.fleet:
                    to_parquet(df, self.out)
                else:
                    to_single_parquet_file(df, self.out, row_group_rows=DEFAULT_BATCH_SIZE)
            footer_stats(self.out)
        p = {"traced_s": now() - t0}
        p["jobs"], p["tasks"] = spark_tasks(spark, group)
        counter.record("traced call", self.check())
        fs = footer_stats(self.out)
        p.update(bytes=fs["bytes"], row_groups=fs["row_groups"])

        with tr.span("sources.excel.validate"):
            for path in paths:
                open_workbook(path).close()
        with tr.span("sources.excel.infer_schema"):
            infer_schema(paths[0], SHEET)
        p["sources.excel.tasks"] = df.rdd.getNumPartitions()
        with tr.span("sources.decode"):
            df.write.format("noop").mode("overwrite").save()
        sink_probes(spark, tr, self.out, "excel",
                    row_group_rows=None if self.fleet else DEFAULT_BATCH_SIZE)
        xlsb = [x for x in paths if x.endswith(".xlsb")] or gen.xlsb_probe_inputs(
            os.path.join(WORK, "inputs"), self.seed
        ).paths
        for ext, path in (("xlsx", paths[0]), ("xlsb", xlsb[0])):
            t = now()
            with tr.span(f"sources.{ext}.scan_1t"), open_workbook(path) as wb:
                _, batches = scan_sheet(wb, wb.resolve_sheet(SHEET, None))
                n = sum(len(b) for b in batches)
            p[f"sources.{ext}.rows_per_s_1t"] = n / (now() - t)

        st = self_time_by_name(tr.spans[n0:])
        p["self"] = st
        p["plan_s"] = p["sources.excel.plan_s"] = st["sources.excel.plan"]
        p["write_s"] = st["sinks.parquet.write"]
        for k in ("validate", "infer_schema"):
            p[f"sources.excel.{k}_s"] = st[f"sources.excel.{k}"]
        p["sources.decode_s"] = st["sources.decode"]
        return p


def _identity(batches):
    yield from batches


class QueryMix:
    def __init__(self) -> None:
        import __spark_entry__ as entry
        from checks import oracle_digests

        self.spark = None
        self.builders = entry.queries()
        oracles = entry.oracle_sql()
        self.modules = {
            q: self.builders[q].__module__.rsplit(".", 1)[-1] for q in QUERIES
        }
        with open(DIGESTS) as f:
            recorded = json.load(f)
        self.expected = {q: tuple(recorded[q]) for q in QUERIES if q not in oracles}
        self.expected.update(
            oracle_digests(SF_DIR, {q: oracles[q] for q in QUERIES if q in oracles})
        )
        self.out_root = os.path.join(WORK, "out", "queries")
        self.app_ids: list[str] = []

    def write(self, q: str, out: str) -> None:
        from data_to_parquet_spark.sinks.parquet import to_parquet

        to_parquet(self.builders[q](self.spark, SF_DIR), out)

    def prime(self, counter: Counter, record: dict) -> None:
        """One untimed pass in the set-up application, for first-run JIT and
        code generation of the whole list."""
        t0 = now()
        for q in QUERIES:
            self.write(q, os.path.join(self.out_root, q))
        record["prime_s"] = now() - t0
        self.check_pass(counter)

    def fresh_app(self) -> None:
        """A new application, so every session memo starts cold, with its
        Python workers already started: their start-up is application
        set-up, and it varies more than the queries do."""
        from data_to_parquet_spark.session import get_spark

        self.spark.stop()
        self.spark = spark = get_spark(APP_NAME)
        spark.sparkContext.setLogLevel("ERROR")
        self.app_ids.append(spark.sparkContext.applicationId)
        df = spark.range(0, 1024, numPartitions=spark.sparkContext.defaultParallelism)
        df.mapInPandas(_identity, df.schema).write.format("noop").mode("overwrite").save()

    def check_pass(self, counter: Counter) -> tuple[int, int]:
        """Check every query output of the last pass; (rows, bytes)."""
        import duckdb

        from checks import footer_stats, output_digest

        rows = size = 0
        con = duckdb.connect()
        try:
            for q in QUERIES:
                out = os.path.join(self.out_root, q)
                got = output_digest(con, out)
                want = self.expected[q]
                counter.record(q, [] if got == want else [f"digest/rows {got} != {want}"])
                fs = footer_stats(out)
                rows += fs["rows"]
                size += fs["bytes"]
        finally:
            con.close()
        return rows, size

    def unit(self, counter: Counter) -> dict:
        """One memo-cold pass in a fresh application."""
        self.fresh_app()
        per_query = {}
        for q in QUERIES:
            t0 = now()
            try:
                self.write(q, os.path.join(self.out_root, q))
            except Exception:  # noqa: BLE001 - a failed query is counted
                traceback.print_exc()
                counter.record(q, ["raised"])
                return {}
            per_query[q] = now() - t0
        rows, size = self.check_pass(counter)
        return {"s": sum(per_query.values()), "per_query": per_query,
                "rows": rows, "bytes": size, "out_rows": rows}

    def traced_unit(self, tr: Tracer, counter: Counter) -> dict:
        """A memo-cold pass with each builder call and each write in a span
        and each query under its own job group; then a memo-warm pass in
        the same application and sink-only writes of every result."""
        from checks import footer_stats
        from data_to_parquet_spark.sinks.parquet import to_parquet

        self.fresh_app()
        spark = self.spark
        n0 = len(tr.spans)
        p: dict = {}
        t0 = now()
        with tr.span("pass"):
            for q in QUERIES:
                with job_group(spark, f"{APP_NAME}-q-{q}"), \
                        tr.span(f"operators.{self.modules[q]}"), tr.span(f"query.{q}"):
                    with tr.span(f"query.{q}.build"):
                        df = self.builders[q](spark, SF_DIR)
                    with tr.span(f"query.{q}.write"):
                        to_parquet(df, os.path.join(self.out_root, q))
        p["traced_s"] = now() - t0
        p["jobs"] = p["tasks"] = 0
        for q in QUERIES:
            jobs, tasks = spark_tasks(spark, f"{APP_NAME}-q-{q}")
            p["jobs"] += jobs
            p["tasks"] += tasks
            p[f"query.{q}.tasks"] = tasks
        _, p["bytes"] = self.check_pass(counter)

        t0 = now()
        with tr.span("operators.warm_pass"):
            for q in QUERIES:
                self.write(q, os.path.join(WORK, "out", "warm", q))
        p["operators.warm_pass_s"] = now() - t0

        p["row_groups"] = 0
        for q in QUERIES:
            src = os.path.join(self.out_root, q)
            fs = footer_stats(src)
            p[f"query.{q}.rows"] = fs["rows"]
            p["row_groups"] += fs["row_groups"]
            sink_probes(spark, tr, src, q)

        st = self_time_by_name(tr.spans[n0:])
        p["self"] = st
        for q in QUERIES:
            p[f"query.{q}.build_s"] = st[f"query.{q}.build"]
            p[f"query.{q}.write_s"] = st[f"query.{q}.write"]
        for mod in set(self.modules.values()):
            p[f"operators.{mod}_s"] = sum(
                p[f"query.{q}.build_s"] + p[f"query.{q}.write_s"]
                for q in QUERIES if self.modules[q] == mod
            )
        p["plan_s"] = sum(p[f"query.{q}.build_s"] for q in QUERIES)
        p["write_s"] = sum(p[f"query.{q}.write_s"] for q in QUERIES)
        return p


# -- runs ------------------------------------------------------------------

def warmup(spark) -> None:
    """A first job through the program's Parquet sink."""
    from data_to_parquet_spark.sinks.parquet import to_parquet

    to_parquet(spark.range(1000), os.path.join(WORK, "out", "warmup"))


def setup(workload, tr: Tracer) -> dict:
    """SETUP_REPS set-ups, each a JVM launch and a Spark session from
    ``session.get_spark``, then a first job on the last one. Leaves that
    session in ``workload.spark``; returns the seconds of each step."""
    from data_to_parquet_spark.session import get_spark

    reps: dict[str, list[float]] = {"setup_s": []}
    for _ in range(SETUP_REPS):
        stop_spark(workload.spark)
        t0 = now()
        with tr.span("session.get_spark"):
            workload.spark = get_spark(APP_NAME)
        reps["setup_s"].append(now() - t0)
        workload.spark.sparkContext.setLogLevel("ERROR")
    t0 = now()
    with tr.span("session.warmup"):
        warmup(workload.spark)
    reps["session.warmup_s"] = [now() - t0]
    return reps


def timed_loop(seconds: float, unit) -> list[dict]:
    """Call ``unit`` until the seconds it timed reach ``seconds``, and at
    least MIN_UNITS times; a failed unit ends the loop."""
    samples: list[dict] = []
    timed = 0.0
    while len(samples) < MIN_UNITS or timed < seconds:
        s = unit()
        if not s:
            break
        samples.append(s)
        timed += s["s"]
    return samples


def untraced(args, workload, counter: Counter, setup_reps: dict, record: dict) -> dict:
    """End-to-end run. Returns {metric: (value, unit)}."""
    samples = timed_loop(args.seconds, lambda: workload.unit(counter))
    if not samples:
        return {}
    secs = [s["s"] for s in samples]
    full = {
        "setup_s": (median(setup_reps["setup_s"]), "s", SETUP_REPS),
        "call_s_p50": (median(secs), "s", len(secs)),
        "rows_per_s": (median([s["rows"] / s["s"] for s in samples]), "1/s", len(secs)),
        "out_bytes_per_row": (
            median([s["bytes"] / s["out_rows"] for s in samples]), "B/row", len(samples)
        ),
        "driver_peak_rss_mb": (host.peak_rss_mb(), "MB", 1),
    }
    if isinstance(workload, QueryMix):
        per_q = {q: median([s["per_query"][q] for s in samples]) for q in QUERIES}
        full["query_s_geomean"] = (geomean(list(per_q.values())), "s", len(samples))
        record["query_s_p50"] = per_q
    record["unit_s"] = secs
    record["end_to_end"] = {
        k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in full.items()
    }
    return {k: (v, u) for k, (v, u, _) in full.items() if k in E2E_METRICS}


def traced(args, workload, tr: Tracer, counter: Counter, setup_reps: dict, record: dict) -> dict:
    """Per-layer run. Each iteration: an untraced unit, the traced unit with
    the per-layer probes, and a second untraced unit; the two untraced units
    bracket the traced one, so a drift from run order (JIT still warming)
    does not read as tracing overhead. Returns {metric: (value, unit)}."""
    iters: list[dict] = []
    start = now()
    while not iters or now() - start < args.seconds:
        before = workload.unit(counter)
        p = before and workload.traced_unit(tr, counter)
        after = p and workload.unit(counter)
        if not after:
            break
        p["untraced_s"] = (before["s"] + after["s"]) / 2
        iters.append(p)
    if not iters:
        return {}

    def med(key):
        return median([p[key] for p in iters])

    def med_self(name):
        return median([p["self"][name] for p in iters])

    untraced_p50 = med("untraced_s")
    metrics = {
        "session.get_spark_s": (median(setup_reps["setup_s"]), "s"),
        "session.warmup_s": (median(setup_reps["session.warmup_s"]), "s"),
        "unit.plan_s": (med("plan_s"), "s"),
        "unit.write_s": (med("write_s"), "s"),
        "unit.traced_s": (med("traced_s"), "s"),
        "trace.overhead_s": (med("traced_s") - untraced_p50, "s"),
        "trace.gap_s": (untraced_p50 - median([p["plan_s"] + p["write_s"] for p in iters]), "s"),
        "sinks.parquet.to_parquet_s": (med_self("sinks.parquet.to_parquet"), "s"),
        "sinks.parquet.single_file_s": (med_self("sinks.parquet.single_file"), "s"),
        "sinks.parquet.out_bytes": (med("bytes"), "count"),
        "sinks.parquet.row_groups": (med("row_groups"), "count"),
        "spark.jobs": (med("jobs"), "count"),
        "spark.tasks": (med("tasks"), "count"),
    }
    named = sorted(k for k in iters[0] if k.startswith(("query.", "operators.", "sources.")))
    record["per_layer"] = {k: v for k, (v, _) in metrics.items()}
    record["per_layer_named"] = {k: med(k) for k in named}
    record["self_time_s"] = {
        k: median([p["self"].get(k, 0.0) for p in iters])
        for k in sorted({k for p in iters for k in p["self"]})
    }
    record["trace_iterations"] = len(iters)
    path = os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json")
    tr.write(path)
    record["trace_file"] = os.path.relpath(path, ROOT)
    return metrics


def stop_spark(spark) -> None:
    """Stop the application, then the JVM, and wait for it to exit; the
    next ``get_spark`` launches a new JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args) -> tuple[dict, dict, Counter]:
    """Returns (record, {metric: (value, unit)}, counter)."""
    prepare_environment()
    t0 = now()
    import_program()
    record: dict = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "git_sha": host.git_sha(ROOT), "nproc": host.nproc(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_start": host.loadavg(), "import_s": now() - t0,
    }
    ticks = host.cpu_ticks()
    tr = Tracer(f"{args.workload}-s{args.seed}", enabled=bool(args.trace))
    counter = Counter()
    if args.workload == "query_mix":
        workload = QueryMix()
    else:
        workload = ExcelWorkload(args.seed, fleet=args.workload == "excel_fleet")
    try:
        setup_reps = setup(workload, tr)
        record["setup_reps"] = setup_reps
        workload.prime(counter, record)
        host.reset_peak_rss()
        if args.trace:
            metrics = traced(args, workload, tr, counter, setup_reps, record)
        else:
            metrics = untraced(args, workload, counter, setup_reps, record)
        if isinstance(workload, QueryMix):
            ids = workload.app_ids
            if len(set(ids)) != len(ids):
                counter.record("distinct applicationId per pass", [f"repeated {ids}"])
            record["pass_application_ids"] = ids
    finally:
        stop_spark(workload.spark)
    record.update(
        loadavg_end=host.loadavg(), steal_pct=host.steal_pct(ticks, host.cpu_ticks()),
        attempted=counter.attempted, failed=counter.failed,
        ops_failed_frac=counter.failed / max(counter.attempted, 1),
        problems=counter.problems,
    )
    return record, metrics, counter


def print_table(record: dict) -> None:
    """Human-readable summary, one metric per line."""
    print(f"perfbench {record['workload']} seed={record['seed']} trace={record['trace']} "
          f"sha={record['git_sha'][:12]} nproc={record['nproc']} "
          f"SPARK_GRAFT_CPUS={record['SPARK_GRAFT_CPUS']} "
          f"load={record['loadavg_start']:.2f}->{record['loadavg_end']:.2f} "
          f"steal={record['steal_pct']:.2f}%")
    for k, m in record.get("end_to_end", {}).items():
        print(f"  {k:<28} {m['value']:>14.6g} {m['unit']:<6} n={m['samples']}")
    print(f"  {'ops_failed_frac':<28} {record['ops_failed_frac']:>14.6g} "
          f"       ({record['failed']}/{record['attempted']})")
    for section in ("per_layer", "per_layer_named", "self_time_s"):
        for k, v in record.get(section, {}).items():
            print(f"  {section}: {k:<44} {v:>14.6g}")
    print(f"  output checks: {'all passed' if not record['failed'] else record['problems']}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="data-to-Parquet engine benchmark")
    ap.add_argument("--workload", required=True,
                    choices=["excel_single", "excel_fleet", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    record, metrics, counter = run(args)
    print_table(record)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": counter.failed == 0 and bool(metrics),
        "attempted": counter.attempted,
        "failed": counter.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
