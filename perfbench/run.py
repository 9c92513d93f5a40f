#!/usr/bin/env python3
"""KG-construction benchmark for jsonld_spark.

    python3 perfbench/run.py --workload extract_stock --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout.  The pipeline runs at
``local[nproc]`` in this one driver process and is driven only through
its public entry points.  Corpora are built from the seed and cached
under ``.perfbench/``; building them is not timed.  Every run checks the
program's output; the last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` reports the
per-layer metrics: an in-process decomposition of ``page_to_rows``, and
a Spark session with the event log on, in which each layer call runs
under its own job group, between two untraced sessions.  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("extract_stock", "extract_bulky", "build_linked")
SETUPS = 5  # set-ups per run; setup_s is their median
MIN_PASSES = 3
# Untimed passes before the first timed one in a JVM; on the extract
# workloads the census is a whole extract pass as well.  run() passes keep
# speeding up over its first ~8 passes on this 4-core box (its ~55 jobs a
# pass are planned on the driver), so build_linked warms for longer.
WARM_PASSES = {"extract_stock": 2, "extract_bulky": 2, "build_linked": 3}
NUM_BUCKETS = 8
SAMPLE_PAGES = 1000  # pages in the in-process decomposition sample


class CheckFailed(Exception):
    pass


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _prepare_env() -> None:
    """Workers launched by the JVM must import jsonld_spark from this
    checkout, and every scratch file must stay inside it."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM, the spark-submit launcher's too: no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float):
        import corpus
        from jsonld_spark.sources.pages import build_context_cache_entries

        self.workload = workload
        self.seconds = seconds
        self.nproc = len(os.sched_getaffinity(0))
        self.entries = build_context_cache_entries()
        self.path, self.meta = corpus.ensure_corpus(
            os.path.join(WORK, "corpus"), workload, seed
        )
        self.n_pages = self.meta["pages"]
        self.check_file = os.path.join(self.path, "part-00000.parquet")
        self.tag = f"{workload}-s{seed}"
        self.run_dir = os.path.join(WORK, "runs", f"{self.tag}-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.spark = None
        self.pipe = None
        self.attempted = 0
        self.failed = 0
        self.rss_peak_mb = 0.0
        self.census = None
        self.warmed = False

    # -- session ----------------------------------------------------------

    def _conf(self, event_dir: str | None) -> dict:
        conf = {
            "spark.driver.memory": "2g",
            # the whole heap from the start: while the heap grows, the
            # first passes of a run spend longer in GC than the later ones
            "spark.driver.extraJavaOptions": "-Xms2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }
        if event_dir is not None:
            os.makedirs(event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": event_dir,
                    # the reader takes plain, single-file logs
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def setup(self, event_dir: str | None = None) -> float:
        """Session start, context broadcast and warm-up; returns seconds.

        Without a live session this also starts the JVM, the Spark context
        and its Python workers; with one, it starts a new session on the
        same context."""
        from jsonld_spark.pipeline import KGPipeline, default_session

        warm = self.sample_pages(32)
        t0 = time.perf_counter()
        if self.spark is None:
            spark = default_session(
                cores=self.nproc,
                shuffle_partitions=self.nproc,
                app_name=f"perfbench-{self.workload}",
                extra_conf=self._conf(event_dir),
            )
            spark.sparkContext.setCheckpointDir(
                os.path.join(self.run_dir, "checkpoint")
            )
        else:
            spark = self.spark.newSession()
        self.spark = spark
        self.pipe = KGPipeline(spark, self.entries, num_buckets=NUM_BUCKETS)
        df = spark.createDataFrame(warm, "url string, html binary")
        self.pipe.extract(df).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        self.pages = spark.read.parquet(self.path)
        return dt

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @staticmethod
    def shutdown_jvm() -> None:
        """End the JVM and wait for it.  The gateway exits when its stdin
        closes; its Python workers end with it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is None:
            return
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None

    # -- inputs and reference outputs -------------------------------------

    def sample_pages(self, n: int | None) -> list[tuple]:
        """The first ``n`` (url, html) pairs of the check file; all if None."""
        import pyarrow.parquet as pq

        t = pq.read_table(self.check_file, columns=["url", "html"]).slice(0, n)
        return list(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))

    def _record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            raise CheckFailed(what)

    def check_extract_parity(self) -> None:
        """Spark ``extract`` on one input file equals, as a multiset,
        in-process ``page_to_rows`` over the same rows."""
        from jsonld_spark.context import ContextCache
        from jsonld_spark.udfs import page_to_rows

        cache = ContextCache(self.entries, version="v1")
        want = Counter(
            row
            for url, html in self.sample_pages(None)
            for row in page_to_rows(url, html, cache)
        )
        table = self.pipe.extract(self.spark.read.parquet(self.check_file)).toArrow()
        got = Counter(zip(*(table.column(c).to_pylist() for c in table.column_names)))
        self._record(got == want, "extract rows differ from page_to_rows on the check file")

    def _spark_census(self) -> dict:
        """Exact row counts of one Spark extract of the whole corpus.
        Also warms the timed code path."""
        from pyspark.sql import functions as F

        ex = self.pipe.extract(self.pages)
        err = F.col("error")
        warn = err.startswith("warning:")
        failed = err.isNotNull() & ~warn
        string_cols = [c for c, t in ex.dtypes if t == "string"]
        row = ex.agg(
            F.count(F.lit(1)).alias("rows"),
            F.count(F.when(err.isNull(), 1)).alias("triples"),
            F.countDistinct(F.when(failed, F.col("url"))).alias("failed_pages"),
            F.sum(
                sum(F.coalesce(F.octet_length(c), F.lit(0)) for c in string_cols)
            ).alias("row_bytes"),
        ).collect()[0]
        return dict(row.asDict(), pages=self.n_pages)

    def take_census(self) -> dict:
        """The counts every pass is checked against."""
        if self.workload == "build_linked":
            return self._reference_census()
        return self._spark_census()

    def _reference_census(self) -> dict:
        """The rows ``run(dedup=True)`` must extract, computed in process:
        ``page_to_rows`` over the pages dedup keeps, which are one per
        distinct html, the one with the least (url, warc_ts)."""
        import pyarrow.parquet as pq
        from jsonld_spark.context import ContextCache
        from jsonld_spark.udfs import page_to_rows

        t = pq.read_table(self.path, columns=["url", "warc_ts", "html"])
        keep: dict[bytes, tuple] = {}
        for url, ts, html in zip(*(t.column(c).to_pylist() for c in t.column_names)):
            if html not in keep or (url, ts) < keep[html]:
                keep[html] = (url, ts)
        cache = ContextCache(self.entries, version="v1")
        triples = failed = 0
        for html, (url, _) in keep.items():
            errors = [r[8] for r in page_to_rows(url, html, cache)]
            triples += errors.count(None)
            failed += any(e is not None and not e.startswith("warning:") for e in errors)
        return {"pages": len(keep), "triples": triples, "failed_pages": failed}

    # -- timed passes -------------------------------------------------------

    def extract_pass(self, i: int) -> tuple[float, int]:
        from pyspark.sql import Observation, functions as F

        obs = Observation(f"pass{i}")
        df = self.pipe.extract(self.pages).observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.count(F.when(F.col("error").isNull(), 1)).alias("triples"),
        )
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        got = obs.get
        self._record(
            (got["rows"], got["triples"]) == (self.census["rows"], self.census["triples"]),
            f"pass {i}: {got} rows, census {self.census}",
        )
        return dt, got["triples"]

    def build_pass(self, i: int) -> tuple[float, int]:
        out = os.path.join(self.run_dir, f"out{i}")
        t0 = time.perf_counter()
        stats = self.pipe.run(
            self.pages, out, run_id=f"pass{i}", resume=False,
            link_entities=True, dedup=True,
        )
        dt = time.perf_counter() - t0
        written = stats["written_triples"]
        self._record(
            stats["triples"] == self.census["triples"]
            and (self.written is None or written == self.written),
            f"pass {i}: {stats}, census {self.census}",
        )
        self.written = written
        if self.last_out is not None:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out
        return dt, written

    def check_build_output(self, run_id: str) -> None:
        """On-disk rows equal ``written_triples``; exactly one complete
        lineage row per bucket for the run, summing to the extracted
        triple rows; a resume run skips every bucket and writes nothing."""
        from pyspark.sql import functions as F

        out = self.last_out
        triples_dir = os.path.join(out, "triples")
        on_disk = self.spark.read.parquet(triples_dir).count()
        self._record(on_disk == self.written, f"on-disk {on_disk} != written {self.written}")
        lin = (
            self.spark.read.parquet(os.path.join(out, "_lineage"))
            .filter(F.col("run_id") == run_id)
            .collect()
        )
        per_bucket = Counter(r.part_id for r in lin)
        self._record(
            len(lin) == NUM_BUCKETS
            and set(per_bucket.values()) == {1}
            and all(r.status == "complete" for r in lin)
            and sum(r.triple_count for r in lin) == self.census["triples"],
            f"lineage of {run_id}: {len(lin)} rows over {len(per_bucket)} buckets",
        )
        stats = self.pipe.run(
            self.pages, out, run_id="resume", resume=True,
            link_entities=True, dedup=True,
        )
        after = self.spark.read.parquet(triples_dir).count()
        self._record(
            stats["skipped_buckets"] == NUM_BUCKETS and after == on_disk,
            f"resume: {stats}, on-disk {on_disk} -> {after}",
        )
        self.out_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(triples_dir)
            for f in files
        )

    def timed_passes(self, group: str | None = None, seconds: float | None = None) -> dict:
        """Passes until ``seconds`` (default: the run's) have elapsed and at
        least MIN_PASSES ran; returns the median rates."""
        seconds = self.seconds if seconds is None else seconds
        self.written = None
        self.last_out = None
        one = self.build_pass if self.workload == "build_linked" else self.extract_pass
        if group is not None:
            self.spark.sparkContext.setJobGroup(group, group)
        if not self.warmed:
            # the first passes in a JVM run well below the later ones (JIT
            # and code generation; for run(), of the dedup, connected
            # components, write and lineage plans)
            warm = [one(f"warm{k}")[0] for k in range(WARM_PASSES[self.workload])]
            log(f"warm-up passes {[round(x, 2) for x in warm]} s")
            self.warmed = True
        pages_ps, triples_ps, steal = [], [], []
        t_start = time.perf_counter()
        i = 0
        while i < MIN_PASSES or time.perf_counter() - t_start < seconds:
            s0 = steal_ticks()
            dt, triples = one(i)
            steal.append((steal_ticks() - s0) / (dt * CLK_TCK * self.nproc))
            pages_ps.append(self.n_pages / dt)
            triples_ps.append(triples / dt)
            self.rss_peak_mb = max(self.rss_peak_mb, worker_hwm_mb())
            i += 1
        if group is not None:
            self.spark.sparkContext.setJobGroup("", "")
        log(f"{i} passes, pages/s {[round(x) for x in pages_ps]}")
        log(f"CPU steal share per pass {[round(x, 3) for x in steal]}")
        return {
            "pages_per_s": statistics.median(pages_ps),
            "triples_per_s": statistics.median(triples_ps),
            "passes": i,
        }

    def session_passes(self, group: str | None = None, seconds: float | None = None) -> dict:
        """The parity check, which also warms a session's fresh Python
        workers, then the timed passes."""
        self.check_extract_parity()
        return self.timed_passes(group, seconds)

    # -- the two kinds of run ---------------------------------------------

    def end_to_end(self) -> dict:
        setups = [self.setup() for _ in range(SETUPS)]
        log(f"setup_s {[round(s, 3) for s in setups]}")
        self.census = self.take_census()
        log(f"census {self.census}")
        rates = self.session_passes()
        if self.workload == "build_linked":
            self.check_build_output(f"pass{rates['passes'] - 1}")
            log("build output checked")
            out_bytes = self.out_bytes / self.n_pages
        else:
            # no sink: the bytes of the emitted rows' string fields
            out_bytes = self.census["row_bytes"] / self.n_pages
        return {
            "setup_s": (statistics.median(setups), "s"),
            "pages_per_s": (rates["pages_per_s"], "1/s"),
            "triples_per_s": (rates["triples_per_s"], "1/s"),
            "failed_page_frac": (
                self.census["failed_pages"] / self.census["pages"], "frac"
            ),
            "worker_rss_peak_mb": (self.rss_peak_mb, "MB"),
            "out_bytes_per_page": (out_bytes, "B"),
        }

    def traced(self) -> dict:
        import eventlog
        import layers
        from jsonld_spark.context import ContextCache

        from spans import Spans

        sample = self.sample_pages(SAMPLE_PAGES)
        try:
            m, spans = layers.measure(
                sample, ContextCache(self.entries, version="v1"), self.entries
            )
        except AssertionError as e:
            self._record(False, str(e))
        self._record(True, "composed rows equal page_to_rows")
        metrics = dict(m)

        # untraced sessions before and after the traced one: the JVM keeps
        # warming over a run, so their mean is the fair reference.  Each
        # session runs the parity check before its passes, which warms its
        # fresh Python workers alike.
        share = self.seconds / 3  # the three sessions share the run's time
        self.setup()
        self.census = self.take_census()
        before = self.session_passes(seconds=share)
        self.stop()  # the event log is set when a context starts
        event_dir = os.path.join(self.run_dir, "eventlog")
        self.setup(event_dir)
        app_id = self.spark.sparkContext.applicationId
        traced = self.session_passes(group="pass", seconds=share)
        spark_spans = Spans()
        counts = self.traced_layers(spark_spans)
        self.stop()
        self.setup()
        after = self.session_passes(seconds=share)
        untraced = (before["pages_per_s"] + after["pages_per_s"]) / 2
        self.stop()
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        spans.write(os.path.join(traces, f"{self.tag}-inprocess.jsonl"))
        spark_spans.write(os.path.join(traces, f"{self.tag}-spark.jsonl"))

        ev = eventlog.read(os.path.join(event_dir, app_id))
        metrics.update(self.pipeline_metrics(ev, traced["passes"]))
        wall = {n: t["total_s"] for n, t in spark_spans.totals().items()}
        n = self.n_pages
        metrics.update(
            {
                "pipeline.dedup_pages.s": (wall["dedup_pages"], "s"),
                "pipeline.dedup_pages.kept_frac": (counts["kept"] / n, "frac"),
                "graph.canonical_mapping.s": (wall["canonical_mapping"], "s"),
                "graph.canonical_mapping.jobs": (counts["canonical_mapping"], "count"),
                "graph.link_entities.s": (wall["link_entities"], "s"),
                "pipeline.run.jobs": (counts["run"], "count"),
                "pipeline.completed_buckets.s": (wall["completed_buckets"], "s"),
                "pipeline.run.resume_noop_s": (wall["resume"], "s"),
                "spark.efficiency": (
                    untraced / (self.nproc * m["udfs.pages_per_s_1proc"][0]), "frac"
                ),
                "trace.overhead_frac": (1 - traced["pages_per_s"] / untraced, "frac"),
            }
        )
        run_tasks = ev.tasks_in("run")
        metrics.update(
            {
                "pipeline.run.shuffle_write_bytes_per_page": (
                    sum(_shuffle_written(t) for t in run_tasks) / n, "B"
                ),
                "pipeline.run.spill_bytes": (
                    sum(t.metrics.get("Disk Bytes Spilled", 0) for t in run_tasks), "B"
                ),
                "pipeline.run.bytes_written_per_page": (
                    sum(
                        (t.metrics.get("Output Metrics") or {}).get("Bytes Written", 0)
                        for t in run_tasks
                    ) / n,
                    "B",
                ),
            }
        )
        return metrics

    def traced_layers(self, spans) -> dict[str, int]:
        """The graph and pipeline calls, each under its own job group and
        span.  The graph calls run on a persisted extract output.  Returns
        the pages dedup kept and the job counts of two groups."""
        from pyspark.sql import Observation, functions as F

        from jsonld_spark.operators import graph

        sc = self.spark.sparkContext

        def call(name, fn):
            sc.setJobGroup(name, name)
            with spans.span(name):
                out = fn()
            sc.setJobGroup("", "")
            return out

        obs = Observation("dedup")

        def dedup():
            self.pipe.dedup_pages(self.pages).observe(
                obs, F.count(F.lit(1)).alias("n")
            ).write.format("noop").mode("overwrite").save()

        call("dedup_pages", dedup)
        triples = (
            self.pipe.extract(self.pages)
            .filter(F.col("error").isNull())
            .drop("error")
            .persist()
        )
        call("extract_persist", triples.count)
        edges = graph.sameas_edges(triples)

        def mapping():
            m = graph.canonical_mapping(edges).persist()
            m.count()
            return m

        mp = call("canonical_mapping", mapping)
        call(
            "link_entities",
            lambda: graph.link_entities(triples, mp)
            .write.format("noop").mode("overwrite").save(),
        )
        out = os.path.join(self.run_dir, "traced_out")
        call(
            "run",
            lambda: self.pipe.run(
                self.pages, out, run_id="traced", resume=False,
                link_entities=True, dedup=True,
            ),
        )
        call("completed_buckets", lambda: self.pipe.completed_buckets(out))
        stats = call(
            "resume",
            lambda: self.pipe.run(
                self.pages, out, run_id="traced-resume", resume=True,
                link_entities=True, dedup=True,
            ),
        )
        self._record(stats["skipped_buckets"] == NUM_BUCKETS, f"traced resume: {stats}")
        mp.unpersist()
        triples.unpersist()
        tracker = sc.statusTracker()
        counts = {g: len(tracker.getJobIdsForGroup(g)) for g in ("canonical_mapping", "run")}
        return dict(counts, kept=obs.get["n"])

    def pipeline_metrics(self, ev, passes: int) -> dict:
        """Per-pass figures of the extract stage, read from the event log
        of the timed passes (extract → noop, or run() on build_linked)."""
        tasks = ev.tasks_in("pass")
        py_tasks = ev.tasks_with(tasks, "MapInPandas")
        sent = ev.sql_metric(tasks, "MapInPandas", "data sent to Python workers")
        got = ev.sql_metric(tasks, "MapInPandas", "data returned from Python workers")
        py_rows = ev.sql_metric(tasks, "MapInPandas", "number of output rows")
        py_ms = ev.sql_metric(tasks, "MapInPandas", "time to run Python workers")
        scan_ms = ev.sql_metric(tasks, "Scan parquet", "scan time")
        passed = ev.sql_metric(tasks, "Filter", "number of output rows", "ld+json")
        run_ms = sum(t.metrics.get("Executor Run Time", 0) for t in py_tasks)
        durations = sorted(t.duration_ms / 1e3 for t in py_tasks)
        gc_ms = sum(t.metrics.get("JVM GC Time", 0) for t in tasks)
        pages = self.n_pages * passes
        return {
            "pipeline.scan.s": (scan_ms / 1e3 / passes, "s"),
            "pipeline.extract.bytes_to_python_per_page": (sent / pages, "B"),
            "pipeline.extract.prefilter_pass_frac": (passed / pages, "frac"),
            "pipeline.extract.bytes_from_python_per_row": (got / max(1, py_rows), "B"),
            "pipeline.extract.python_run_s": (py_ms / 1e3 / passes, "s"),
            "pipeline.extract.python_share": (py_ms / max(1, run_ms), "frac"),
            "pipeline.extract.task_p50_s": (statistics.median(durations), "s"),
            "pipeline.extract.task_max_s": (durations[-1], "s"),
            "pipeline.extract.gc_s": (gc_ms / 1e3 / passes, "s"),
        }


def _shuffle_written(task) -> int:
    return (task.metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)


CLK_TCK = os.sysconf("SC_CLK_TCK")


def steal_ticks() -> int:
    """Clock ticks stolen from this machine's CPUs by other tenants."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def worker_hwm_mb() -> float:
    """Peak RSS (VmHWM) of the largest live Python worker under this
    process, in MB."""
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    best = 0.0
    stack = [os.getpid()]
    while stack:
        for pid in kids.get(stack.pop(), ()):
            stack.append(pid)
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read()
                if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                    continue
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            best = max(best, int(line.split()[1]) / 1024)
            except OSError:
                continue
    return best


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _prepare_env()
    bench = Bench(args.workload, args.seed, args.seconds)
    log(f"corpus {bench.meta}")
    correct = True
    try:
        metrics = bench.traced() if args.trace else bench.end_to_end()
    except CheckFailed as e:
        log(f"output check failed: {e}")
        correct = False
        metrics = {}
    finally:
        bench.stop()
        bench.shutdown_jvm()
        shutil.rmtree(bench.run_dir, ignore_errors=True)
        log("stopped")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(1, bench.attempted),
                "failed": bench.failed if correct else max(1, bench.failed),
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
