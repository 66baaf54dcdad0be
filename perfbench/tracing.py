"""Per-layer tracing of one ``graphene_spark.job.main`` run, applied from outside.

The tracer wraps the public functions of each program module with a span
(name, layer, start, end, parent) and, while a span is open, tags the Spark
jobs it launches with the job group ``gs:<layer>``.  It also counts Py4J
commands (the driver-to-JVM round-trips of plan construction), counts the
rows fed into the Python extraction through an accumulator on
``mapInArrow``, and records the data files each merge writes.  After the
session stops, ``read_event_log`` attributes Spark jobs, stages, task time,
shuffle bytes and scanned files to the layers through those job groups.

Nothing here edits the program: every hook is a module attribute swapped for
the duration of the traced run and restored afterwards.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time

GROUP_PREFIX = "gs:"

# (module, function, layer) — the public entry points each span wraps
WRAPPED = [
    ("pipeline", "run_pipeline", "pipeline"),
    ("extract", "extract_rows_arrow", "extract"),
    ("linking", "resolve_link_strategy", "linking"),
    ("linking", "link_mentions", "linking"),
    ("linking", "link_triples", "linking"),
    ("linking", "alias_map", "linking"),
    ("graph", "build_nodes", "graph"),
    ("graph", "build_edges", "graph"),
    ("materialize", "run_with_lineage", "bucket_loop"),
    ("materialize", "merge_insert_absent", "merge"),
    ("materialize", "write_lineage_row", "lineage"),
    ("materialize", "completed_buckets", "lineage"),
    ("postprocess", "two_hop_edges", "postprocess"),
    ("postprocess", "bounded_path_edges", "postprocess"),
]
# layers whose functions only build the per-bucket plan on the driver
PLAN_LAYERS = {"pipeline", "extract", "linking", "graph"}
# spans whose return values the report reads (the decisions the run took)
KEEP_RETURNS = {"linking.alias_map", "linking.resolve_link_strategy"}


def parquet_files(path: str) -> list[str]:
    """Parquet data files under ``path`` (no ``.crc`` sidecars, no markers)."""
    return sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


class Span:
    __slots__ = ("name", "layer", "parent", "start", "end", "py4j")

    def __init__(self, name: str, layer: str, parent: Span | None):
        self.name, self.layer, self.parent = name, layer, parent
        self.start = self.end = None
        self.py4j = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def inside(self, layers) -> bool:
        """True when an enclosing span belongs to one of ``layers``."""
        p = self.parent
        while p is not None:
            if p.layer in layers:
                return True
            p = p.parent
        return False


class Tracer:
    """Spans, job groups and counters for one traced run of ``job.main``."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.py4j_calls = 0
        self.own_calls = False
        self.merges: list[dict] = []
        self.returns: dict[str, list] = {}
        self.rows_fed = self.sc.accumulator(0)
        self._undo: list = []

    # -- spans -------------------------------------------------------------
    def _set_group(self, layer: str | None) -> None:
        self.own_calls = True
        try:
            self.sc.setLocalProperty(
                "spark.jobGroup.id", None if layer is None else GROUP_PREFIX + layer
            )
        finally:
            self.own_calls = False

    def enter(self, name: str, layer: str) -> Span:
        span = Span(name, layer, self.stack[-1] if self.stack else None)
        span.py4j = -self.py4j_calls
        if span.parent is None or span.parent.layer != layer:
            self._set_group(layer)
        self.stack.append(span)
        span.start = time.perf_counter()
        return span

    def exit(self, span: Span) -> None:
        span.end = time.perf_counter()
        span.py4j += self.py4j_calls
        self.stack.pop()
        if span.parent is None:
            self._set_group(None)
        elif span.parent.layer != span.layer:
            self._set_group(span.parent.layer)
        self.spans.append(span)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer.enter(name, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.exit(span)
            if name in KEEP_RETURNS:
                tracer.returns.setdefault(name, []).append(out)
            return out

        return traced

    def _wrap_merge(self, fn):
        """Merge spans also record the data files the merge added, by
        ``_kb`` directory; the directory walks sit outside the span."""
        traced = self._wrap(fn, "materialize.merge_insert_absent", "merge")

        @functools.wraps(fn)
        def merge(spark, df, path, *args, **kwargs):
            before = set(parquet_files(path))
            n = traced(spark, df, path, *args, **kwargs)
            new = set(parquet_files(path)) - before
            self.merges.append({
                "table": os.path.basename(path.rstrip("/")),
                "rows": int(n),
                "files": len(new),
                "kb_dirs": len({os.path.dirname(f) for f in new}),
            })
            return n

        return merge

    # -- hooks -------------------------------------------------------------
    def _patch(self, owner, attr: str, value) -> None:
        had = attr in vars(owner)
        old = vars(owner).get(attr)
        setattr(owner, attr, value)
        self._undo.append((owner, attr, had, old))

    def install(self) -> None:
        import importlib

        for mod_name, fn_name, layer in WRAPPED:
            mod = importlib.import_module(f"graphene_spark.{mod_name}")
            fn = getattr(mod, fn_name)
            if (mod_name, fn_name) == ("materialize", "merge_insert_absent"):
                wrapped = self._wrap_merge(fn)
            else:
                wrapped = self._wrap(fn, f"{mod_name}.{fn_name}", layer)
            self._patch(mod, fn_name, wrapped)

        from graphene_spark import materialize

        sink = materialize.ParquetMergeSink
        self._patch(sink, "read", self._wrap(sink.read, "sink.read", "sink"))

        # rows fed to the Python extraction, counted inside the workers
        frame_cls = type(self.spark.range(1))
        map_in_arrow = frame_cls.mapInArrow
        acc = self.rows_fed

        def counted_map_in_arrow(frame, func, schema, *args, **kwargs):
            def fed(batches):
                def counted():
                    for batch in batches:
                        acc.add(batch.num_rows)
                        yield batch

                return func(counted())

            return map_in_arrow(frame, fed, schema, *args, **kwargs)

        self._patch(frame_cls, "mapInArrow", counted_map_in_arrow)

        # Py4J: count every command the driver sends to the JVM
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def send_command(*args, **kwargs):
            if not self.own_calls:
                self.py4j_calls += 1
            return send(*args, **kwargs)

        self._patch(client, "send_command", send_command)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, had, old = self._undo.pop()
            if had:
                setattr(owner, attr, old)
            else:
                delattr(owner, attr)

    # -- summaries -----------------------------------------------------------
    def layer_spans(self, layers) -> list[Span]:
        """Spans of ``layers`` not nested in another span of ``layers``, so
        no interval counts twice."""
        return [s for s in self.spans if s.layer in layers and not s.inside(layers)]

    def seconds(self, *layers) -> float:
        return sum(s.seconds for s in self.layer_spans(set(layers)))

    def bucket_seconds(self) -> list[float]:
        """Wall time of each processed bucket: from the lineage read that
        opens the loop (or the previous bucket's lineage row) to the
        bucket's own lineage row."""
        marks = sorted(
            (s.end, s.name) for s in self.spans
            if s.name in ("materialize.completed_buckets", "materialize.write_lineage_row")
        )
        out, prev = [], None
        for end, name in marks:
            if prev is not None and name == "materialize.write_lineage_row":
                out.append(end - prev)
            prev = end
        return out

    def summary_seconds(self, job_end: float) -> float:
        """The job's closing counts: from the end of the bucket loop to the
        first postprocess call, or to the end of the job without one."""
        loop = [s for s in self.spans if s.layer == "bucket_loop"]
        post = [s.start for s in self.spans if s.layer == "postprocess"]
        return (min(post) if post else job_end) - loop[-1].end

    def span_records(self, origin: float) -> list[dict]:
        index = {id(s): i for i, s in enumerate(self.spans)}
        return [
            {
                "name": s.name,
                "layer": s.layer,
                "start_s": round(s.start - origin, 6),
                "end_s": round(s.end - origin, 6),
                "parent": index.get(id(s.parent)),
                "py4j": s.py4j,
            }
            for s in self.spans
        ]


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_EVENT = re.compile(r'^\{"Event":"([^"]+)"')
_STAGE_ID = re.compile(r'"Stage ID":(\d+)')
_EXEC_ID = re.compile(r'"executionId":(\d+)')
_SQL = "org.apache.spark.sql.execution.ui."


def event_log_file(log_dir: str) -> str:
    """The one finished (not ``.inprogress``) event log under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    done = [n for n in names if not n.endswith(".inprogress")]
    if len(done) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    return os.path.join(log_dir, done[0])


def _scan_file_accums(plan: dict, table_root: str, out: set) -> None:
    """Accumulator ids of 'number of files read' on parquet scans of the
    output tables (scans of the input transcripts are not merge reads)."""
    if plan.get("nodeName", "").startswith("Scan parquet") and table_root in json.dumps(
        plan.get("metadata", {})
    ):
        for m in plan.get("metrics", []):
            if m["name"] == "number of files read":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _scan_file_accums(child, table_root, out)


def read_event_log(path: str, window_ms: tuple[int, int], table_root: str) -> dict:
    """Per-layer Spark counters of the traced run (jobs tagged ``gs:*``).

    Returns ``{"layers": {layer: {...}}, "engine": {...}}``; ``window_ms``
    bounds the traced run in epoch milliseconds for the scheduler-gap and
    busy-fraction figures."""
    stage_layer: dict[int, str] = {}
    exec_layers: dict[int, set] = {}
    layers: dict[str, dict] = {}

    def layer_of(group: str) -> dict:
        return layers.setdefault(group, {
            "jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
            "arrow_stages": 0, "arrow_task_s": 0.0,
            "shuffle_write_b": 0, "shuffle_read_b": 0, "scan_files": 0,
        })

    with open(path) as fh:
        for line in fh:
            m = _EVENT.match(line)
            if not m or m.group(1) != "SparkListenerJobStart":
                continue
            ev = json.loads(line)
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            if not group.startswith(GROUP_PREFIX):
                continue
            layer = group[len(GROUP_PREFIX):]
            layer_of(layer)["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_layer[sid] = layer
            if "spark.sql.execution.id" in props:
                exec_layers.setdefault(int(props["spark.sql.execution.id"]), set()).add(layer)

    intervals = []
    stage_task_s: dict[int, float] = {}
    scan_accums: dict[int, set] = {}
    accum_value: dict[tuple[int, int], int] = {}
    with open(path) as fh:
        for line in fh:
            m = _EVENT.match(line)
            if not m:
                continue
            kind = m.group(1)
            if kind in ("SparkListenerTaskEnd", "SparkListenerStageCompleted"):
                sid = _STAGE_ID.search(line)
                if sid is None or int(sid.group(1)) not in stage_layer:
                    continue
                ev = json.loads(line)
                if kind == "SparkListenerTaskEnd":
                    layer = layer_of(stage_layer[ev["Stage ID"]])
                    info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    intervals.append((info["Launch Time"], info["Finish Time"]))
                    layer["tasks"] += 1
                    layer["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    sr = tm.get("Shuffle Read Metrics") or {}
                    layer["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = tm.get("Shuffle Write Metrics") or {}
                    layer["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                    sid = ev["Stage ID"]
                    stage_task_s[sid] = stage_task_s.get(sid, 0.0) + tm.get(
                        "Executor Run Time", 0
                    ) / 1000.0
                else:
                    si = ev["Stage Info"]
                    layer = layer_of(stage_layer[si["Stage ID"]])
                    layer["stages"] += 1
                    if any('"MapInArrow"' in (r.get("Scope") or "") for r in si["RDD Info"]):
                        layer["arrow_stages"] += 1
                        layer["arrow_task_s"] += stage_task_s.get(si["Stage ID"], 0.0)
            elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                          _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                eid = _EXEC_ID.search(line)
                if eid is None or "merge" not in exec_layers.get(int(eid.group(1)), ()):
                    continue
                ev = json.loads(line)
                _scan_file_accums(
                    ev["sparkPlanInfo"], table_root,
                    scan_accums.setdefault(ev["executionId"], set()),
                )
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                eid = _EXEC_ID.search(line)
                if eid is None or int(eid.group(1)) not in scan_accums:
                    continue
                ev = json.loads(line)
                for acc_id, value in ev["accumUpdates"]:
                    if acc_id in scan_accums[ev["executionId"]]:
                        accum_value[(ev["executionId"], acc_id)] = int(value)
    if "merge" in layers:
        layers["merge"]["scan_files"] = sum(accum_value.values())

    t0, t1 = window_ms
    busy = 0
    end = t0
    for start, finish in sorted(intervals):
        start, finish = max(start, end), min(finish, t1)
        if finish > start:  # the part of this task no earlier task covered
            busy += finish - start
            end = finish
    wall = max(t1 - t0, 1)
    totals = {k: sum(v[k] for v in layers.values()) for k in layer_of("job")}
    engine = {
        "jobs": totals["jobs"],
        "stages": totals["stages"],
        "tasks": totals["tasks"],
        "task_s": totals["task_s"],
        "sched_gap_s": (wall - busy) / 1000.0,
        "wall_s": wall / 1000.0,
        "task_wall_s": sum(f - s for s, f in intervals) / 1000.0,
        "shuffle_write_b": totals["shuffle_write_b"],
        "shuffle_read_b": totals["shuffle_read_b"],
    }
    return {"layers": layers, "engine": engine}
