"""End-to-end benchmark of the graphene-spark KG job (``graphene_spark.job.main``).

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 1 --trace 0

Run from the root of a source checkout.  One process drives ``job.main``
in-process, one job at a time: a closed loop with one client on a pinned
``local[CORES]`` session.  Set-up starts the session and stages the inputs
the seed generates (transcripts from ``datagen_spark.make_transcripts_df``
as parquet, the dictionary from ``datagen.make_entity_dictionary``); the
program sees only the staged paths.  Timed jobs then run, each into a fresh
output, until ``--seconds`` have passed (at least one job).  After each job
the benchmark checks the output and times a full scan of the graph through
the sink.  ``perfbench/README.md`` describes the workloads and metrics.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` then runs one
traced job, after a warm untraced one (``perfbench/tracing.py``) and prints
the per-layer metrics; the report, with the decisions the run took and the
tracing overhead, goes to ``.perfbench/<workload>-seed<seed>.json`` and to
stderr.

The last line of stdout is one JSON object: correct, attempted, failed
(buckets) and metrics.  The exit code is 1 when a check failed, and 2 when
the run could not complete.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter

import tracing
from tracing import parquet_files

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench")

CORES = 4               # local[CORES] and SPARK_GRAFT_CPUS, fixed for every run
SHUFFLE_PARTITIONS = 8  # what get_spark derives from CORES; job.main re-applies it
DRIVER_MEM = "2g"       # the machine is shared; get_spark's default is 8g
RUN_LIMIT_S = 178       # hard stop for one invocation, teardown included
TURNS_PER_CONV = 20
TABLES = ("triples", "nodes", "edges")
KEYS = {"triples": ["subj", "pred", "obj"], "nodes": ["node_id"],
        "edges": ["src", "rel_type", "dst"]}

# Workloads.  A bucket of ``job.main`` is mostly fixed cost whatever its
# size (about 100 Spark jobs, eight extraction passes and up to two thousand
# small files), and the first job in a JVM is 30-45 % slower still.  All
# runs of the benchmark must fit one hour, so each run holds a session start
# and at most two jobs: the inputs are small and bucket counts low.  Per-row
# work is then under 1 % of a job (README.md, "What bulk cannot see").
WORKLOADS = {
    # one fresh run in one bucket with a parquet dictionary (the distributed
    # alias map) and postprocess; its timed job is the first in the JVM, as
    # for a spark-submit user
    "bulk": {"turns": 600, "buckets": 1, "dictionary": "parquet",
             "flags": ["--postprocess"], "snapshot": False},
    # the whole input runs once in set-up (the snapshot, which also warms
    # the JVM); each timed run resumes a copy whose last half of lineage is
    # lost: skip and replay, every merge hits all its keys and writes nothing
    "resume": {"turns": 400, "buckets": 2, "dictionary": "synthetic",
               "flags": [], "snapshot": True},
}
TOY_TURNS = 200

END_TO_END = {
    "setup_s": "s", "turns_per_s": "1/s", "graph_read_s": "s", "out_files": "count",
    "out_mb": "MB", "ok_frac": "ratio",
    "triple_precision": "ratio", "triple_recall": "ratio",
}


class RunAborted(BaseException):
    """SIGTERM or the run's time limit arrived.  Like KeyboardInterrupt it is
    no ``Exception``, so the ``except Exception`` of a layer it passes
    through (Py4J's, or the one around a timed job) does not swallow it."""


# set by the handler: main() tests it, so an abort that some layer still
# turned into an error of its own ends the run as an abort too
ABORTED = threading.Event()


def _abort(signum, _frame):
    ABORTED.set()
    raise RunAborted(f"signal {signum}")


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants (the JVM and its Python workers)."""
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            pass
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssPeak:
    """Peak RSS of the JVM plus its Python workers, sampled every 0.1 s."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid, self.peak = jvm_pid, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _poll(self):
        while not self._stop.wait(0.1):
            self.peak = max(self.peak, _rss_mb(process_tree(self.jvm_pid)))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _rss_mb(process_tree(self.jvm_pid)))


def stop_session(spark) -> None:
    """Stop Spark and the Py4J gateway, then make sure the JVM and every
    Python worker it started has exited (SIGKILL after a grace period)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = process_tree(proc.pid) if proc is not None else []
    # each step runs even when the one before failed; the checks below
    # decide whether teardown worked
    for what, step in (("spark.stop", spark and spark.stop),
                       ("gateway.shutdown", gateway and gateway.shutdown),
                       ("JVM stdin close", proc and proc.stdin.close)):  # the JVM exits on EOF
        if step:
            try:
                step()
            except Exception as e:  # noqa: BLE001 — teardown must go on
                print(f"teardown: {what} failed: {e!r}", file=sys.stderr)
    if proc is not None:
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in tree) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in tree:
        if _alive(p):
            with contextlib.suppress(OSError):
                os.kill(p, signal.SIGKILL)
    deadline = time.monotonic() + 5
    while any(_alive(p) for p in tree) and time.monotonic() < deadline:
        time.sleep(0.1)
    left = [p for p in tree if _alive(p)]
    SparkContext._gateway = SparkContext._jvm = None
    if left:
        raise RuntimeError(f"processes still running after teardown: {left}")


# ---------------------------------------------------------------------------
# session, inputs, checks
# ---------------------------------------------------------------------------

def pin_environment(work: str) -> None:
    """Everything the run writes stays under ``work``; the core count is
    pinned so the ``get_spark`` call inside ``job.main`` re-applies the same
    master and shuffle partitions instead of retuning the session."""
    tmp = os.path.join(WORK_ROOT, "tmp")  # shared: the native scanner's build cache
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": os.path.abspath(tmp),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })


def start_session(work: str, event_log: str | None):
    from graphene_spark.session import get_spark

    java_tmp = os.path.join(work, "java")
    os.makedirs(java_tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file: the JVM would write it under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={java_tmp} -XX:-UsePerfData",
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "hadoop"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Inputs:
    """The staged input of one seed, and the oracle's answer for it."""

    def __init__(self, spark, spec: dict, seed: int, work: str, turns: int):
        from pyspark.sql import functions as F

        from graphene_spark import datagen, datagen_spark, materialize

        self.buckets = spec["buckets"]
        self.transcripts = os.path.join(work, "input", "transcripts")
        tx = datagen_spark.make_transcripts_df(
            spark, n_convs=turns // TURNS_PER_CONV, turns_per_conv=TURNS_PER_CONV,
            seed=seed, partitions=CORES,
        )
        tx.write.mode("overwrite").parquet(self.transcripts)
        if spec["dictionary"] == "parquet":
            self.dictionary_pdf = datagen.make_entity_dictionary(n_entities=500, n_hot=10, seed=seed)
            self.dictionary = os.path.join(work, "input", "dictionary.parquet")
            datagen.write_parquet(self.dictionary_pdf, self.dictionary)
        else:
            # job.main's own synthetic dictionary
            self.dictionary_pdf = datagen.make_entity_dictionary(n_entities=500, n_hot=10, seed=42)
            self.dictionary = "synthetic"
        counts = (
            spark.read.parquet(self.transcripts)
            .groupBy(materialize.conv_bucket(F.col("conv_id"), self.buckets).alias("b"))
            .count()
            .collect()
        )
        self.bucket_turns = {r["b"]: r["count"] for r in counts}

    def expected_triples(self, spark):
        from graphene_spark import oracle

        pdf = spark.read.parquet(self.transcripts).toPandas()
        return oracle.run_oracle(pdf, self.dictionary_pdf).triples

    def argv(self, spec: dict, out: str, resume: bool) -> list[str]:
        argv = ["--transcripts", self.transcripts, "--dictionary", self.dictionary,
                "--out", out, "--buckets", str(self.buckets), "--master", f"local[{CORES}]",
                *spec["flags"]]
        return argv + ["--resume"] if resume else argv


def read_table(path: str, columns=None) -> list[dict]:
    """All rows of a parquet table directory, read straight from its files
    (the ``_kb`` layout column lives in directory names and is left out)."""
    import pyarrow.dataset as ds

    files = parquet_files(path)
    if not files:
        return []
    return ds.dataset(files, format="parquet").to_table(columns=columns).to_pylist()


def lineage_rows(out: str) -> list[dict]:
    return read_table(os.path.join(out, "lineage"),
                      ["bucket", "status", "run_id", "n_triples", "n_nodes", "n_edges"])


def drop_lineage_tail(out: str, buckets: int) -> list[int]:
    """Delete the lineage rows of the last half of the buckets: the state a
    crash leaves after the merges commit but before lineage does.  Each
    lineage append writes one row, so the rows go with their files."""
    import pyarrow.parquet as pq

    lost = set(range(buckets - buckets // 2, buckets))
    for f in parquet_files(os.path.join(out, "lineage")):
        rows = set(pq.read_table(f, columns=["bucket"]).column(0).to_pylist())
        if rows and rows <= lost:
            os.remove(f)
            crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
            with contextlib.suppress(FileNotFoundError):
                os.remove(crc)
        elif rows & lost:
            raise RuntimeError(f"lineage file {f} mixes kept and lost buckets")
    return sorted(lost)


def table_stats(out: str) -> tuple[int, float]:
    files = [f for t in TABLES for f in parquet_files(os.path.join(out, t))]
    return len(files), sum(os.path.getsize(f) for f in files) / 2**20


def graph_read_seconds(spark, out: str) -> float:
    """A downstream reader's full scan of the three tables through the sink:
    the median of three timed scans after an untimed one, which right after
    the JVM's first job still pays for its own warm-up."""
    from graphene_spark import materialize

    sink = materialize.ParquetMergeSink(spark, out)
    times = []
    for _ in range(4):
        t0 = time.perf_counter()
        for t in TABLES:
            sink.read(t).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times[1:])


def _row_key(row: dict) -> tuple:
    """A hashable form of a row: map entries sorted, arrays kept in order."""
    def norm(v):
        if isinstance(v, list):
            if v and isinstance(v[0], tuple):  # a map, as (key, value) pairs
                return tuple(sorted(v))
            return tuple(v)
        return v

    return tuple(norm(v) for v in row.values())


def check_output(out: str, inputs: Inputs, expected, prior_runs: set,
                 snapshot: str | None) -> tuple[list[str], list[str], dict]:
    """Checks of one finished job: the failures, the checks run, and its
    precision/recall against the oracle.  The tables are read from their
    files, so the checks launch no Spark job."""
    import pandas as pd

    from graphene_spark import oracle

    failures, checks = [], ["precision_recall", "unique_keys", "lineage_done"]
    tables = {t: read_table(os.path.join(out, t)) for t in TABLES}
    got = pd.DataFrame(tables["triples"], columns=["subj", "pred", "obj"])
    p, r = oracle.precision_recall(got, expected)
    if (p, r) != (1.0, 1.0):
        failures.append(f"triples P/R {p:.4f}/{r:.4f} against the oracle")
    for t, rows in tables.items():
        keys = Counter(tuple(row[k] for k in KEYS[t]) for row in rows)
        dup = sum(1 for n in keys.values() if n > 1)
        if dup:
            failures.append(f"{t}: {dup} duplicate identity keys")
    lineage = lineage_rows(out)
    done = sorted(x["bucket"] for x in lineage if x["status"] == "done")
    if done != list(range(inputs.buckets)):
        failures.append(f"lineage done rows {done}, want one per bucket")
    if snapshot is not None:
        # multiset equality: exceptAll in both directions is empty
        checks += ["snapshot_equal", "replay_inserts_nothing"]
        for t, rows in tables.items():
            a = Counter(map(_row_key, rows))
            b = Counter(map(_row_key, read_table(os.path.join(snapshot, t))))
            extra, missing = sum((a - b).values()), sum((b - a).values())
            if extra or missing:
                failures.append(f"{t}: {extra} rows not in the snapshot, {missing} missing")
        replayed = [x for x in lineage if x["run_id"] not in prior_runs]
        inserted = sum(x["n_triples"] + x["n_nodes"] + x["n_edges"] for x in replayed)
        if inserted:
            failures.append(f"replayed buckets inserted {inserted} rows")
    return failures, checks, {"precision": p, "recall": r}


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def run_job(job, argv: list[str]) -> dict:
    """One ``job.main``; returns its printed summary."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        job.main(argv)
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def quiesce(spark) -> None:
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def loadavg() -> str:
    with open("/proc/loadavg") as fh:
        return " ".join(fh.read().split()[:3])


class Bench:
    def __init__(self, args):
        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.turns = TOY_TURNS if args.toy else self.spec["turns"]
        self.resume = self.spec["snapshot"]
        self.work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.runs: list[dict] = []
        self.count = 0

    def fresh_out(self) -> str:
        self.count += 1
        out = os.path.join(self.work, f"out{self.count}")
        if self.resume:
            shutil.copytree(self.snapshot, out)
            drop_lineage_tail(out, self.inputs.buckets)
        return out

    def setup(self) -> dict:
        from graphene_spark import job

        t0 = time.perf_counter()
        event_log = os.path.join(self.work, "events") if self.args.trace else None
        self.spark = start_session(self.work, event_log)
        session_s = time.perf_counter() - t0
        self.inputs = Inputs(self.spark, self.spec, self.args.seed, self.work, self.turns)
        self.snapshot = None
        if self.resume:
            self.snapshot = os.path.join(self.work, "snapshot")
            run_job(job, self.inputs.argv(self.spec, self.snapshot, False))
        return {"setup_s": time.perf_counter() - t0, "session_s": session_s}

    def timed_job(self, job, tracer=None, read_graph: bool = True) -> dict:
        """One timed ``job.main`` into a fresh output, then its checks and,
        with ``read_graph``, the timed scan of the graph it wrote."""
        out = self.fresh_out()
        before = lineage_rows(out)
        expect_run = self.inputs.buckets - len(before)
        turns = sum(
            n for b, n in self.inputs.bucket_turns.items()
            if b >= self.inputs.buckets - expect_run
        )
        quiesce(self.spark)
        run = {"buckets": expect_run, "turns": turns, "load_before": loadavg()}
        try:
            # RSS sampling runs in the traced job only: it is a per-layer figure
            with RssPeak(self.jvm_pid) if tracer else contextlib.nullcontext() as rss:
                if tracer is not None:
                    tracer.install()
                    root = tracer.enter("job.main", "job")
                run["epoch_ms"] = [int(time.time() * 1000), 0]
                t0 = time.perf_counter()
                try:
                    summary = run_job(job, self.inputs.argv(self.spec, out, self.resume))
                finally:
                    run["wall_s"] = time.perf_counter() - t0
                    run["epoch_ms"][1] = int(time.time() * 1000)
                    if tracer is not None:
                        tracer.exit(root)
                        tracer.uninstall()
            run["load_after"] = loadavg()
            if rss is not None:
                run["peak_rss_mb"] = rss.peak
            failures, checks, info = check_output(
                out, self.inputs, self.expected, {x["run_id"] for x in before},
                self.snapshot
            )
            if summary["buckets"]["buckets_run"] != expect_run:
                failures.append(f"job ran {summary['buckets']['buckets_run']} buckets, "
                                f"want {expect_run}")
            run.update(info, failures=failures, checks=checks, summary=summary)
            files, mb = table_stats(out)
            run.update(out_files=files, out_mb=mb)
            if read_graph:
                run["graph_read_s"] = graph_read_seconds(self.spark, out)
        except Exception as e:  # noqa: BLE001 — a failed job is a measured outcome
            run.update(failures=[f"{type(e).__name__}: {e}"], precision=0.0, recall=0.0,
                       checks=run.get("checks", []))
        run["ok"] = not run["failures"]
        run["turns_per_s"] = turns / run["wall_s"] if run["ok"] else 0.0
        shutil.rmtree(out, ignore_errors=True)
        self.runs.append(run)
        return run

    def measure(self) -> None:
        from graphene_spark import job

        t_end = time.perf_counter() + self.args.seconds
        while not self.runs or time.perf_counter() < t_end:
            self.timed_job(job)

    def end_to_end(self, setup: dict) -> dict:
        runs = self.runs
        ok = [r for r in runs if r["ok"]] or runs
        attempted, failed = self.bucket_counts()
        med = lambda k: statistics.median(r[k] for r in ok)  # noqa: E731
        return {
            "setup_s": setup["setup_s"],
            "turns_per_s": statistics.median(r["turns_per_s"] for r in runs),
            "graph_read_s": med("graph_read_s") if "graph_read_s" in ok[0] else 0.0,
            "out_files": med("out_files") if "out_files" in ok[0] else 0,
            "out_mb": med("out_mb") if "out_mb" in ok[0] else 0.0,
            "ok_frac": (attempted - failed) / attempted,
            "triple_precision": min(r["precision"] for r in runs),
            "triple_recall": min(r["recall"] for r in runs),
        }

    def bucket_counts(self) -> tuple[int, int]:
        """Buckets attempted, and failed: every bucket of a run that raised
        or failed a check."""
        return (sum(r["buckets"] for r in self.runs),
                sum(r["buckets"] for r in self.runs if not r["ok"]))

    def traced(self, untraced_median: float) -> tuple[dict, dict]:
        """One traced job; returns the per-layer metrics and the report.  The
        tracing overhead compares it with the untraced job just before it,
        which must not be the JVM's first (that one runs cold)."""
        from graphene_spark import job, native_scan

        if len(self.runs) < 2 and not self.resume:
            self.timed_job(job, read_graph=False)
        ref = self.runs[-1]["turns_per_s"]
        tracer = tracing.Tracer(self.spark)
        run = self.timed_job(job, tracer, read_graph=False)
        rows_fed = tracer.rows_fed.value
        job_end = max(s.end for s in tracer.spans)
        alias_maps = tracer.returns.get("linking.alias_map", [])
        local_alias_map = bool(alias_maps) and all(
            df._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
            for df in alias_maps
        )
        strategies = tracer.returns.get("linking.resolve_link_strategy", [])
        aliases = tuple(sorted(set(a for al in self.inputs.dictionary_pdf["aliases"] for a in al)))
        native = native_scan.scanner_for(aliases) is not None
        plan_spans = tracer.layer_spans(tracing.PLAN_LAYERS)
        buckets_s = tracer.bucket_seconds()
        merges = tracer.merges
        files_written = sum(m["files"] for m in merges)
        kb_dirs = sum(m["kb_dirs"] for m in merges)
        # Spark counters come from the event log, complete only once stopped
        stop_session(self.spark)
        self.spark = None
        log = tracing.read_event_log(
            tracing.event_log_file(os.path.join(self.work, "events")),
            tuple(run["epoch_ms"]), os.path.join(self.work, f"out{self.count}"),
        )
        layer = lambda name: log["layers"].get(name, {})  # noqa: E731
        arrow = [v for v in log["layers"].values() if v["arrow_stages"]]
        eng = log["engine"]
        buckets = max(run["buckets"], 1)
        metrics = {
            "session.start_s": self.setup_info["session_s"],
            "pipeline.plan_s": sum(s.seconds for s in plan_spans),
            "pipeline.py4j_calls": sum(s.py4j for s in plan_spans),
            "py4j.calls": tracer.py4j_calls,
            "extract.task_s": sum(v["arrow_task_s"] for v in arrow),
            "extract.passes": sum(v["arrow_stages"] for v in arrow) / buckets,
            "extract.rows_per_turn": rows_fed / max(run["turns"], 1),
            "native_scan.enabled": int(native),
            "linking.s": tracer.seconds("linking"),
            "linking.jobs": layer("linking").get("jobs", 0),
            "linking.broadcast": int(bool(strategies) and set(strategies) == {"broadcast"}),
            "linking.local_alias_map": int(local_alias_map),
            "materialize.merge_s": tracer.seconds("merge"),
            "materialize.merge_jobs": layer("merge").get("jobs", 0),
            "materialize.files_written": files_written,
            "materialize.files_per_touched_kb": files_written / kb_dirs if kb_dirs else 0.0,
            "materialize.scan_files": layer("merge").get("scan_files", 0),
            "materialize.rows_inserted": sum(m["rows"] for m in merges),
            "materialize.lineage_s": tracer.seconds("lineage"),
            "materialize.lineage_jobs": layer("lineage").get("jobs", 0),
            "materialize.bucket_s_p50": statistics.median(buckets_s) if buckets_s else 0.0,
            "postprocess.s": tracer.seconds("postprocess"),
            "postprocess.jobs": layer("postprocess").get("jobs", 0),
            "sink.read_s": tracer.seconds("sink"),
            "job.summary_s": tracer.summary_seconds(job_end),
            "spark.jobs": eng["jobs"],
            "spark.stages": eng["stages"],
            "spark.tasks": eng["tasks"],
            "spark.task_s": eng["task_s"],
            "spark.sched_gap_s": eng["sched_gap_s"],
            "spark.busy_frac": eng["task_wall_s"] / (CORES * eng["wall_s"]),
            "shuffle.write_mb": eng["shuffle_write_b"] / 2**20,
            "shuffle.read_mb": eng["shuffle_read_b"] / 2**20,
            "jvm.peak_rss_mb": run.get("peak_rss_mb", 0.0),
            "trace.turns_per_s": run["turns_per_s"],
            "trace.overhead_frac": ref / run["turns_per_s"] - 1.0 if run["turns_per_s"] else 0.0,
        }
        report = {
            "decisions": {
                "link_strategy": sorted(set(strategies)) or ["(given)"],
                "native_scan": "on" if native else "off",
                "alias_map": "local" if local_alias_map else "spark",
                "dictionary": self.spec["dictionary"],
            },
            "tracing_overhead": {
                "untraced_turns_per_s_median": untraced_median,
                "untraced_turns_per_s_before_trace": ref,
                "traced_turns_per_s": run["turns_per_s"],
                "note": "the event log is on for the whole traced process",
                "overhead_frac": metrics["trace.overhead_frac"],
            },
            "merges": merges,
            "bucket_s": buckets_s,
            "layers": log["layers"],
            "engine": eng,
            "spans": tracer.span_records(tracer.spans[-1].start),
        }
        return metrics, report

    def report(self, payload: dict) -> None:
        os.makedirs(WORK_ROOT, exist_ok=True)
        path = os.path.join(WORK_ROOT, f"{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w") as fh:
            json.dump(payload, fh, indent=1, default=str)
        print(f"report: {path}", file=sys.stderr)

    def main(self) -> int:
        self.setup_info = self.setup()
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.expected = self.inputs.expected_triples(self.spark)
        self.measure()
        e2e = self.end_to_end(self.setup_info)
        payload = {"workload": self.args.workload, "seed": self.args.seed,
                   "turns": self.turns, "buckets": self.inputs.buckets,
                   "setup": self.setup_info, "runs": self.runs,
                   "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}}
        if self.args.trace:
            layer, payload["trace"] = self.traced(e2e["turns_per_s"])
            metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in layer.items()}
            print(json.dumps({"decisions": payload["trace"]["decisions"],
                              "tracing_overhead": payload["trace"]["tracing_overhead"],
                              "per_layer": layer}, indent=1), file=sys.stderr)
        else:
            metrics = payload["end_to_end"]
        if ABORTED.is_set():  # an abort that a layer turned into a failure
            raise RunAborted("aborted")
        self.report(payload)
        attempted, failed = self.bucket_counts()
        correct = all(r["ok"] for r in self.runs)
        for r in self.runs:
            for f in r["failures"]:
                print(f"check failed: {f}", file=sys.stderr)
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1


PER_LAYER_UNITS = {
    "session.start_s": "s", "pipeline.plan_s": "s", "pipeline.py4j_calls": "count",
    "py4j.calls": "count", "extract.task_s": "s", "extract.passes": "count",
    "extract.rows_per_turn": "ratio", "native_scan.enabled": "bool", "linking.s": "s",
    "linking.jobs": "count", "linking.broadcast": "bool", "linking.local_alias_map": "bool",
    "materialize.merge_s": "s", "materialize.merge_jobs": "count",
    "materialize.files_written": "count", "materialize.files_per_touched_kb": "ratio",
    "materialize.scan_files": "count", "materialize.rows_inserted": "count",
    "materialize.lineage_s": "s", "materialize.lineage_jobs": "count",
    "materialize.bucket_s_p50": "s", "postprocess.s": "s", "postprocess.jobs": "count",
    "sink.read_s": "s", "job.summary_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.task_s": "s",
    "spark.sched_gap_s": "s", "spark.busy_frac": "ratio", "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB", "jvm.peak_rss_mb": "MB", "trace.turns_per_s": "1/s",
    "trace.overhead_frac": "ratio",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true",
                    help=f"{TOY_TURNS} turns instead of the workload's size (smoke test)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "graphene_spark", "job.py")):
        print(f"no graphene_spark sources under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    bench = Bench(args)
    pin_environment(bench.work)
    signal.signal(signal.SIGTERM, _abort)
    signal.signal(signal.SIGALRM, _abort)
    signal.alarm(RUN_LIMIT_S - 15)
    try:
        return bench.main()
    except (RunAborted, Exception) as e:
        if not ABORTED.is_set():
            raise
        print(f"run aborted: {e!r}", file=sys.stderr)
        return 2
    finally:
        # teardown must finish: its own waits are bounded
        signal.alarm(0)
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            if bench.spark is not None or _gateway_running():
                stop_session(bench.spark)
        finally:
            shutil.rmtree(bench.work, ignore_errors=True)


def _gateway_running() -> bool:
    from pyspark import SparkContext

    return SparkContext._gateway is not None


if __name__ == "__main__":
    sys.exit(main())
