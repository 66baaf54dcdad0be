"""Materialization: deduplicated tables, idempotent merge, per-partition lineage.

Prod target is Iceberg (``df.writeTo(...).append()`` / ``MERGE INTO`` keyed on
the natural key) as named in BASELINE.json:6.  The write path is PLUGGABLE:

* ``ParquetMergeSink`` (sandbox default) — emulates
  ``MERGE INTO ... WHEN NOT MATCHED THEN INSERT`` on plain parquet:
  anti-join the incoming batch against the existing table on the key and
  append only new rows, laid out by a key-hash bucket column (``_kb``) that
  readers probing by key prune on.  The anti-join reads the key columns of
  the whole table inside the merge's one action, its write.  Like an
  Iceberg partition spec, the bucket count belongs to the table: its first
  merge picks ``min(spark.sql.shuffle.partitions, KEY_BUCKETS)``, so each
  task of the clustered write gets about one bucket, and every write
  records the count as column metadata in the data files' footers, so it
  travels with the committed data.  Later merges and readers take it from
  the table; a table whose footers record no count (written before counts
  were recorded, or by another tool) has ``KEY_BUCKETS``.  Each merge
  clusters its rows by ``_kb`` before the write, so it adds exactly one
  file per ``_kb`` it touches, and it takes its insert count from the
  write itself.
  Readers get the table's schema from one data file's footer on the
  driver, so a read launches no schema-inference job, and ``rows`` sums
  the footers' row counts, so counting a table launches no job at all.
  Combined with deterministic ids (graph.node_id) this makes every write
  idempotent (A7 / post-import-cypher MERGE; Importer.groovy:36-52).
* ``IcebergMergeSink`` — issues REAL ``MERGE INTO`` SQL against an Iceberg
  catalog when one is configured on the session (runtime jar +
  ``spark.sql.catalog.<name>`` confs).  Same null-safe key semantics
  (``<=>`` in the ON clause mirrors the emulation's eqNullSafe anti-join);
  tables are created bucket-partitioned on the first key, mirroring the
  emulation's ``_kb`` layout.  The sandbox has no Iceberg jar, so this
  backend is exercised by SQL-text parity tests and skipped-with-reason for
  execution (tests/test_job.py).

* ``run_with_lineage`` — partition the input by a stable bucket of conv_id,
  process bucket-by-bucket, and record (bucket, counts, status) in a lineage
  table; a resumed run skips completed buckets (north_rule: 'any partition
  can be resumed idempotently').  Accepts either sink.

At 100 TB the bucket loop runs as independent Spark jobs (or a single job with
Iceberg partition-level commit); the lineage table is exactly the reference's
per-loader progress instrumentation (Importer.groovy:40-43) made durable.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import IntegerType, StructType


# the most key-hash buckets a merged table gets, and the count of a table
# whose footers record none
KEY_BUCKETS = 64
_BUCKETS_KEY = "graphene.key_buckets"  # column-metadata key of a table's recorded count


def layout_bucket(cols: list[str], n_buckets: int):
    """The ``_kb`` layout-partition expression of a merged table with
    ``n_buckets`` buckets (``key_buckets`` gives a table's count).

    Factored out so READERS that want partition pruning (e.g. the streaming
    dedup index probe) compute the exact same hash the writer laid the table
    out with — a reader using a different hash or count silently reads zero
    rows."""
    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")


def key_buckets(spark: SparkSession, path: str) -> tuple[int, str]:
    """The ``_kb`` bucket count of the merged table at ``path`` and where it
    comes from:

    * ``"recorded"`` — the count stored in the table's footers;
    * ``"legacy"`` — the table exists but its footers store no count
      (written before counts were recorded, or by another tool), so it has
      ``KEY_BUCKETS``;
    * ``"chosen"`` — there is no table yet: the count its first merge in
      this session picks, ``min(spark.sql.shuffle.partitions, KEY_BUCKETS)``.
      The clustered write hashes ``_kb`` over the shuffle partitions, so
      each write task gets about one bucket, and one file."""
    if not os.path.exists(path):
        shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        return min(shuffle, KEY_BUCKETS), "chosen"
    schema = _footer_schema(path)
    for f in schema.fields if schema is not None else ():
        if _BUCKETS_KEY in f.metadata:
            return int(f.metadata[_BUCKETS_KEY]), "recorded"
    return KEY_BUCKETS, "legacy"


def merge_insert_absent(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: list[str],
    layout_keys: list[str] | None = None,
) -> int:
    """Insert-if-absent on ``keys`` (idempotent MERGE).  Returns rows inserted.

    The merge is one Spark action, its clustered write: the incoming rows,
    deduplicated on ``keys``, are anti-joined against the key columns of
    every ``_kb`` of the existing table and the survivors appended — the
    parquet emulation of Iceberg's MERGE INTO ... WHEN NOT MATCHED THEN
    INSERT.  The scan is not narrowed to the buckets the batch touches: a
    batch of k distinct keys misses a given one of n buckets with
    probability (1-1/n)^k, so on job-sized batches every bucket is touched
    and a touched-bucket collect would only add an action.  Each merge
    therefore reads its table's key columns once, and a B-bucket resumable
    run reads each table B times; merging each table once per run (ROADMAP
    item 4) removes that factor.  The bucket count is the table's own
    (``key_buckets``): picked by the merge that creates the table, read
    back by every later one, and recorded in every file this merge writes.

    ``layout_keys`` (default: ``keys``) picks WHICH columns the ``_kb``
    layout hashes — the Iceberg analog of choosing the table's PARTITIONED BY
    transform independently of the MERGE identity key.  It must be a SUBSET
    of ``keys``: then equal identity keys imply equal layout keys imply equal
    ``_kb``, which the anti-join matches on and ``read_merged_pruned``
    probes by.  Use it when readers probe the table on a different key than
    the identity (the streaming dedup band index probes on (band_idx,
    band_sig) while the row identity also carries doc_id)."""
    lk = layout_keys or keys
    missing = [c for c in lk if c not in keys]
    if missing:
        raise ValueError(
            f"layout_keys {lk} must be a subset of identity keys {keys} "
            f"(violators: {missing}) — otherwise two rows with equal identity "
            "keys can land in different _kb partitions, the anti-join misses "
            "them and re-inserts duplicates"
        )
    recover_compaction(path)
    exists = os.path.exists(path)
    n_buckets, _ = key_buckets(spark, path)
    incoming = df.dropDuplicates(keys).withColumn("_kb", layout_bucket(lk, n_buckets))
    if exists:
        ex = _read_table(spark, path).select(*keys, "_kb")
        # null-safe equality: a plain equi-anti-join never matches rows with
        # a null key value, so such rows were re-inserted on EVERY replay —
        # dropDuplicates treats nulls as equal, the join must agree with it
        # for the idempotency contract to hold
        for c in [*keys, "_kb"]:
            ex = ex.withColumnRenamed(c, f"_ex_{c}")
        cond = None
        for c in [*keys, "_kb"]:
            e = incoming[c].eqNullSafe(ex[f"_ex_{c}"])
            cond = e if cond is None else cond & e
        incoming = incoming.join(ex, cond, "left_anti")
    n = _write_clustered(incoming, path, "append", n_buckets)
    if not exists and n == 0:
        # an empty write adds no data file but still creates the directory,
        # holding only the commit marker: keep "no rows, no table" for the
        # existence checks of callers and of the next merge
        shutil.rmtree(path)
    return n


def _write_clustered(df: DataFrame, path: str, mode: str, n_buckets: int) -> int:
    """Write ``df`` partitioned by ``_kb`` and return the rows written.

    One shuffle keyed on the layout column gives each ``_kb`` value one
    task, and so one file; the row count is observed on the write itself
    instead of by a separate action.  Every data column carries
    ``n_buckets`` in its metadata, replacing any count it brought from
    another table, and Spark stores that metadata in each file's footer.
    (``withMetadata`` keeps the stamp through the optimizer and costs fewer
    Py4J round-trips than an aliasing projection.)"""
    written = Observation()
    stamped = df
    for f in df.schema.fields:
        if f.name != "_kb":
            stamped = stamped.withMetadata(f.name, {**f.metadata, _BUCKETS_KEY: n_buckets})
    (
        stamped.repartition(F.col("_kb"))
        .observe(written, F.count(F.lit(1)).alias("n"))
        .write.mode(mode)
        .partitionBy("_kb")
        .parquet(path)
    )
    return written.get["n"]


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _committed_files(path: str) -> list[str]:
    """The data files of the parquet table at ``path``, sorted; none for a
    missing table.

    Follows Spark's listing rule at every level: names starting with ``.``,
    and names starting with ``_`` unless they contain ``=``, are skipped.
    So ``_kb=3/`` is read, while uncommitted task output under
    ``_temporary``, the ``_SUCCESS`` marker and ``.crc`` sidecars are not."""
    def hidden(name: str) -> bool:
        return name.startswith(".") or (name.startswith("_") and "=" not in name)

    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not hidden(d))
        files += sorted(os.path.join(root, n) for n in names if not hidden(n))
    return files


def table_rows(path: str) -> int:
    """The row count of the parquet table at ``path`` (0 when it does not
    exist), summed from its data files' footers on the driver: no Spark job."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in _committed_files(path))


def _footer_schema(path: str) -> StructType | None:
    """The schema of a merged table, ``_kb`` included, from the Spark row
    metadata in one committed data file's footer, read on the driver; None
    when the table has no data file or the file has no such key."""
    import pyarrow.parquet as pq

    files = _committed_files(path)
    if not files:
        return None
    meta = pq.read_metadata(files[0]).metadata or {}
    if _SPARK_ROW_METADATA not in meta:
        return None
    schema = StructType.fromJson(json.loads(meta[_SPARK_ROW_METADATA]))
    return schema.add("_kb", IntegerType())


def _read_table(spark: SparkSession, path: str) -> DataFrame:
    """A merged table with its ``_kb`` column: every merged-table read goes
    through here.

    Handing Spark the footer schema skips the footer schema-inference job
    that ``spark.read.parquet`` otherwise runs on every read; the ``_kb``
    directories are listed on the driver because ``session.get_spark`` sets
    the parallel-listing threshold to ``KEY_BUCKETS``, at least any table's
    bucket count.  A table whose files lack Spark's row metadata (written by
    another tool) falls back to inference, which reads the same rows."""
    schema = _footer_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def read_merged(spark: SparkSession, path: str) -> DataFrame:
    """Read a merged table without the layout column."""
    recover_compaction(path)
    return _read_table(spark, path).drop("_kb")


def read_merged_pruned(
    spark: SparkSession,
    path: str,
    layout_keys: list[str],
    probe: DataFrame,
) -> DataFrame:
    """Read a merged table restricted to the ``_kb`` partitions that could
    hold any of ``probe``'s layout-key values — a partition-PRUNED scan: the
    filter lands in the plan's PartitionFilters (PLANS.md §7), so untouched
    ``_kb=`` directories are never opened.  (``df.inputFiles()`` can NOT
    observe this — it lists the relation's full file index.)  The probe is
    hashed with the table's own bucket count (``key_buckets``).

    ``probe`` must carry the ``layout_keys`` columns and MUST be small after
    ``.distinct()`` on them (the bucket set is collected to the driver; it is
    bounded by the table's bucket count, so the collect is at most that many
    ints).  The caller still needs its exact key join/semi-join on top — this
    only narrows the scan to candidate partitions, the Iceberg/bucket-join
    analog of MERGE touching only the buckets the source hits."""
    recover_compaction(path)
    n_buckets, _ = key_buckets(spark, path)
    touched = [
        r["_kb"]
        for r in probe.select(layout_bucket(layout_keys, n_buckets).alias("_kb"))
        .distinct()
        .collect()
    ]
    return _read_table(spark, path).filter(F.col("_kb").isin(touched)).drop("_kb")


def _proc_start_time(pid: int) -> str | None:
    """Kernel start-time ticks of ``pid`` (/proc/<pid>/stat field 22), or
    None when unreadable (non-Linux, or the process is gone).  Stamped into
    the compaction lock so a RECYCLED pid cannot impersonate a live
    compactor: pid-only liveness would leave a crashed compaction
    permanently unrepaired once an unrelated process reuses the pid
    (round-6 ADVICE) — the exact dedup-history-loss scenario
    recover_compaction exists to prevent."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
        # comm (field 2) may contain spaces/parens: split after its closing ')'
        rest = data[data.rindex(b")") + 2:].split()
        return rest[19].decode()  # field 22 overall
    except Exception:  # noqa: BLE001 — liveness degrades to pid-only
        return None


def _compaction_lock_alive(path: str) -> bool:
    """True while another LIVE process holds the compaction lock for ``path``.

    The lock file holds ``pid starttime``; a pid that no longer exists — or
    exists but with a DIFFERENT kernel start time (pid recycled since the
    crash) — is a leftover and does not count.  This is what makes
    ``recover_compaction`` safe to call from every reader/writer entry
    point: without it, a concurrent reader would rmtree the in-flight
    compaction's ``.compact.tmp`` mid-run and the compactor's
    ``os.replace(tmp, path)`` would raise after ``path`` was already renamed
    away — briefly losing the table."""
    lock = path.rstrip("/") + ".compact.lock"
    try:
        with open(lock) as f:
            fields = f.read().split()
        pid = int(fields[0]) if fields else 0
        stamped_start = fields[1] if len(fields) > 1 else "-"
    except (OSError, ValueError):
        return False
    if pid <= 0 or pid == os.getpid():
        # our own lock (compact_merged runs recover_compaction while holding
        # it, to repair a PRIOR crash on entry) never blocks us
        return False
    try:
        os.kill(pid, 0)  # signal 0 = existence check only
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # exists but owned by another user — still check start time
    if stamped_start != "-":
        now_start = _proc_start_time(pid)
        if now_start is not None and now_start != stamped_start:
            return False  # pid recycled: the original holder is dead
    return True


def _acquire_compaction_lock(path: str) -> str:
    """Atomically create the pid+starttime-stamped compaction lock.

    O_CREAT|O_EXCL FIRST, then handle the loser paths — the round-6 shape
    (exists()+remove()+create) was a TOCTOU: two processes could both see a
    stale lock, both reap it, and the second reap would delete the first
    winner's LIVE lock, defeating the single-writer guarantee.  Here a stale
    lock is reaped via an atomic ``os.rename`` to a unique name (exactly one
    reaper can win; the loser's rename raises FileNotFoundError and simply
    retries the O_EXCL create, where it now loses cleanly)."""
    lock = path.rstrip("/") + ".compact.lock"
    for _attempt in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            if _compaction_lock_alive(path):
                raise RuntimeError(
                    f"compaction already in progress for {path} (lock: {lock})"
                ) from None
            grave = f"{lock}.stale.{os.getpid()}"
            try:
                os.rename(lock, grave)  # atomic: one reaper wins
                os.remove(grave)
            except FileNotFoundError:
                pass  # another process reaped (or is acquiring) — retry once
            continue
        with os.fdopen(fd, "w") as f:
            f.write(f"{os.getpid()} {_proc_start_time(os.getpid()) or '-'}")
        return lock
    raise RuntimeError(
        f"compaction lock for {path} is contended (lock: {lock})"
    )


def recover_compaction(path: str) -> bool:
    """Repair a table whose compaction crashed mid-swap; returns True if a
    repair happened.

    ``compact_merged``'s swap is two renames; a kill between them leaves the
    table only at ``<path>.compact.old`` while ``path`` is absent — and a
    missing path would otherwise be silently read as FIRST-RUN state by
    every ``os.path.exists`` caller (dedup_batch would forget its whole
    dedup history).  Every entry point that existence-checks a merged table
    calls this first; the repair itself is a single atomic rename.

    No-op while a LIVE compactor holds the lock — its half-finished state is
    work in progress, not a crash."""
    if _compaction_lock_alive(path):
        return False
    old = path.rstrip("/") + ".compact.old"
    tmp = path.rstrip("/") + ".compact.tmp"
    repaired = False
    if not os.path.exists(path) and os.path.exists(old):
        # crashed between the two renames: old IS the table; tmp may be a
        # complete orphan copy — the original is authoritative either way
        os.replace(old, path)
        repaired = True
    if os.path.exists(path) and os.path.exists(old):
        # crashed after the second rename, before cleanup
        shutil.rmtree(old)
        repaired = True
    if os.path.exists(tmp):
        shutil.rmtree(tmp)  # incomplete (or orphaned) rewrite, always safe to drop
    return repaired


def compact_merged(spark: SparkSession, path: str) -> dict:
    """Rewrite a merged table so each ``_kb`` partition holds ONE file.

    Every ``merge_insert_absent`` call that inserts rows appends one file
    per partition it touches, so a long-running incremental stream
    accumulates up to one file per ``_kb`` per batch, and the probe's pruned
    scan degrades into a file-listing storm.  This is the parquet emulation
    of Iceberg's ``rewrite_data_files`` maintenance action: read the table, rewrite one file per partition into a
    side directory, then atomically swap directories.  A crash mid-swap is
    repaired by ``recover_compaction`` (run here and by every reader/writer
    entry point), so the table is never lost and at worst the compaction
    must be re-run.

    The rewrite keeps the table's bucket count and ``_kb`` values, and its
    files record that count as a merge's do (a table whose footers held
    none now records ``KEY_BUCKETS``, the count it already had).

    Returns {"files_before", "files_after", "rows"} for the caller's lineage.

    Single-writer enforced: a pid+starttime-stamped ``<path>.compact.lock``
    is acquired atomically (O_CREAT|O_EXCL; stale locks reaped via atomic
    rename — see _acquire_compaction_lock) and held for the whole
    rewrite+swap; concurrent ``compact_merged`` calls fail fast, and
    ``recover_compaction`` leaves everything alone while the holder is
    alive.  A crash leaves a stale lock (dead or recycled pid) that the
    next call reaps.
    """
    lock = _acquire_compaction_lock(path)
    old = path.rstrip("/") + ".compact.old"
    tmp = path.rstrip("/") + ".compact.tmp"
    try:
        recover_compaction(path)  # we hold the lock, so this repairs crashes only
        n_buckets, _ = key_buckets(spark, path)
        df = _read_table(spark, path)
        files_before = len(df.inputFiles())
        rows = _write_clustered(df, tmp, "errorifexists", n_buckets)
        os.replace(path, old)
        try:
            os.replace(tmp, path)
        except OSError:
            os.replace(old, path)  # restore — the original is still intact
            raise
        shutil.rmtree(old)
        files_after = len(_read_table(spark, path).inputFiles())
    finally:
        if os.path.exists(lock):
            os.remove(lock)
    return {"files_before": files_before, "files_after": files_after, "rows": rows}


# ---------------------------------------------------------------------------
# pluggable merge sinks
# ---------------------------------------------------------------------------

class ParquetMergeSink:
    """Key-bucketed parquet emulation of MERGE INTO (the sandbox default).

    ``name`` -> a parquet directory under ``root``; all semantics delegate to
    the module-level functions above."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def target(self, name: str) -> str:
        return os.path.join(self.root, name)

    def merge_insert_absent(self, df: DataFrame, name: str, keys: list[str]) -> int:
        return merge_insert_absent(self.spark, df, self.target(name), keys)

    def read(self, name: str) -> DataFrame:
        return read_merged(self.spark, self.target(name))

    def rows(self, name: str) -> int:
        recover_compaction(self.target(name))
        return table_rows(self.target(name))

    def exists(self, name: str) -> bool:
        return os.path.exists(self.target(name))

    def reset(self, names: list[str]) -> None:
        for n in names:
            if os.path.exists(self.target(n)):
                shutil.rmtree(self.target(n))


def build_merge_insert_sql(
    table: str, source_view: str, keys: list[str], columns: list[str]
) -> str:
    """The insert-if-absent MERGE statement the Iceberg backend executes.

    Pure function so the SQL rewrite is unit-testable without Iceberg jars.
    ``<=>`` (null-safe equality) in the ON clause mirrors the parquet
    emulation's eqNullSafe anti-join: rows whose key contains NULL must
    match their replay twins, or every replay re-inserts them."""
    on = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
    cols = ", ".join(columns)
    vals = ", ".join(f"s.{c}" for c in columns)
    return (
        f"MERGE INTO {table} t\n"
        f"USING {source_view} s\n"
        f"ON {on}\n"
        f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
    )


# the exact statement shape build_merge_insert_sql emits — anything else is
# refused by merge_insert_sql_to_exists_form rather than guessed at
_MERGE_SHAPE = re.compile(
    r"\AMERGE INTO (?P<table>\S+) t\n"
    r"USING (?P<view>\S+) s\n"
    r"ON (?P<on>.+)\n"
    r"WHEN NOT MATCHED THEN INSERT \((?P<cols>[^)]*)\) "
    r"VALUES \((?P<vals>[^)]*)\)\Z"
)


def merge_insert_sql_to_exists_form(sql: str) -> str:
    """Mechanically rewrite a ``build_merge_insert_sql`` statement into the
    ANSI ``INSERT ... SELECT ... WHERE NOT EXISTS`` equivalent.

    Two purposes:

    * a fallback sink path for engines without MERGE support (generic JDBC
      targets, older warehouse engines);
    * OFFLINE EXECUTION EVIDENCE for the Iceberg backend: this sandbox has
      no Iceberg runtime jar and no network, so the exact MERGE text cannot
      execute here — instead the parity test derives this form FROM the
      generated MERGE string and executes it in DuckDB against mirrored
      tables, asserting row-set + insert-count parity with ParquetMergeSink
      (tests/test_job.py).  The only transformations are structural
      (MERGE -> INSERT/NOT EXISTS) and ``<=>`` -> ``IS NOT DISTINCT FROM``
      (the same null-safe equality under another spelling).

    Valid ONLY for the WHEN-NOT-MATCHED-THEN-INSERT-only shape this module
    generates, with a key-unique source (the sinks dropDuplicates on the
    identity keys first): both forms evaluate the match against the target
    as of statement start, so they insert identical row sets.  Raises on any
    other statement shape rather than guessing.
    """
    m = _MERGE_SHAPE.match(sql)
    if m is None:
        raise ValueError(
            "merge_insert_sql_to_exists_form only rewrites the insert-if-absent "
            f"MERGE shape produced by build_merge_insert_sql; got: {sql!r}"
        )
    on = m["on"].replace(" <=> ", " IS NOT DISTINCT FROM ")
    return (
        f"INSERT INTO {m['table']} ({m['cols']})\n"
        f"SELECT {m['vals']} FROM {m['view']} s\n"
        f"WHERE NOT EXISTS (SELECT 1 FROM {m['table']} t WHERE {on})"
    )


class IcebergMergeSink:
    """Real ``MERGE INTO`` against an Iceberg catalog (the 100 TB path).

    ``namespace`` is a catalog-qualified namespace, e.g. ``lake.kg``; table
    names map to ``lake.kg.<name>``.  Tables are created on first write with
    ``PARTITIONED BY (bucket(<n>, <first key>))`` — the catalog analog of the
    emulation's ``_kb`` hash-bucket layout, so MERGE's join against existing
    data prunes to the buckets the incoming batch touches.  Insert counts
    come from the committed snapshot's ``added-records`` summary (no second
    table scan).  Reference semantics: Importer.groovy:36-52 + A7.
    """

    def __init__(self, spark: SparkSession, namespace: str, key_buckets: int = KEY_BUCKETS):
        self.spark = spark
        self.namespace = namespace
        self.key_buckets = key_buckets

    @staticmethod
    def available(spark: SparkSession, catalog: str) -> bool:
        """True when ``catalog`` is configured with an Iceberg implementation
        on this session (runtime jar + spark.sql.catalog.<name> conf)."""
        try:
            impl = spark.conf.get(f"spark.sql.catalog.{catalog}")
        except Exception:  # noqa: BLE001 — unset conf raises in Spark 4
            return False
        if not impl:
            return False
        try:
            spark.sql(f"SHOW NAMESPACES IN {catalog}").collect()
            return True
        except Exception:  # noqa: BLE001 — conf set but jar absent
            return False

    def table(self, name: str) -> str:
        return f"{self.namespace}.{name}"

    def _ensure_table(self, df: DataFrame, name: str, keys: list[str]) -> None:
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.table(name)} ({ddl}) USING iceberg "
            f"PARTITIONED BY (bucket({self.key_buckets}, {keys[0]}))"
        )

    def _latest_snapshot(self, name: str):
        """(snapshot_id, added_records) of the newest snapshot, or (None, 0).
        snapshot_id DESC breaks committed_at millisecond ties."""
        rows = self.spark.sql(
            f"SELECT snapshot_id, summary['added-records'] AS n "
            f"FROM {self.table(name)}.snapshots "
            "ORDER BY committed_at DESC, snapshot_id DESC LIMIT 1"
        ).collect()
        if not rows:
            return None, 0
        return rows[0]["snapshot_id"], int(rows[0]["n"] or 0)

    def merge_insert_absent(self, df: DataFrame, name: str, keys: list[str]) -> int:
        self._ensure_table(df, name, keys)
        # snapshot BEFORE the merge: a MERGE that inserts nothing commits no
        # new snapshot, so reading 'the latest summary' afterwards would
        # return the PREVIOUS write's added-records (e.g. a replayed bucket
        # would report the prior bucket's count instead of 0)
        before_id, _ = self._latest_snapshot(name)
        view = f"_incoming_{uuid.uuid4().hex[:12]}"
        df.dropDuplicates(keys).createOrReplaceTempView(view)
        try:
            self.spark.sql(build_merge_insert_sql(self.table(name), view, keys, df.columns))
        finally:
            self.spark.catalog.dropTempView(view)
        after_id, added = self._latest_snapshot(name)
        return added if after_id != before_id else 0

    def read(self, name: str) -> DataFrame:
        return self.spark.table(self.table(name))

    def rows(self, name: str) -> int:
        # Iceberg answers an unfiltered count from snapshot metadata
        return self.read(name).count()

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self.table(name))

    def reset(self, names: list[str]) -> None:
        """Drop the named tables — the catalog analog of wiping the parquet
        output dir on a non-resume run (without this, insert-if-absent keeps
        every stale row from previous runs and a 'fresh' run isn't fresh)."""
        for n in names:
            self.spark.sql(f"DROP TABLE IF EXISTS {self.table(n)} PURGE")


def conv_bucket(col, n_buckets: int):
    """Stable bucket of conv_id — the partition unit for resume/lineage.
    Matches Iceberg's bucket(n, conv_id) partition transform."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def read_lineage(spark: SparkSession, lineage_path: str) -> DataFrame | None:
    if not os.path.exists(lineage_path):
        return None
    # mergeSchema: lineage schemas have grown over time (counters_json was
    # added after the first release); without it Spark resolves the schema
    # from an arbitrary footer and newer columns can silently disappear on
    # upgraded tables.  The table is tiny (one row per bucket per run), so
    # footer merging costs nothing.
    return spark.read.option("mergeSchema", "true").parquet(lineage_path)


def completed_buckets(spark: SparkSession, lineage_path: str) -> set[int]:
    lin = read_lineage(spark, lineage_path)
    if lin is None:
        return set()
    rows = lin.filter(F.col("status") == "done").select("bucket").distinct().collect()
    return {r["bucket"] for r in rows}


_LINEAGE_COLUMNS = [
    ("bucket", "int"), ("status", "string"), ("run_id", "string"),
    ("n_turns", "long"), ("n_triples", "long"), ("n_nodes", "long"),
    ("n_edges", "long"), ("n_dangling", "long"), ("n_errors", "long"),
    ("counters_json", "string"),
]


def write_lineage_row(
    spark: SparkSession,
    lineage_path: str,
    bucket: int,
    status: str,
    counters: dict[str, int],
    run_id: str,
) -> None:
    """Append one lineage row.  The row is a one-partition projection of
    literals, so the append is a single one-task job: no Python rows are
    pickled and no local relation is split over the default parallelism."""
    values = {
        "bucket": int(bucket),
        "status": status,
        "run_id": run_id,
        **{c: int(counters.get(c, 0)) for c, t in _LINEAGE_COLUMNS if t == "long"},
        # full counters verbatim: non-KG writers (e.g. the dedup stream)
        # carry counter names the fixed columns don't cover — without
        # this they were silently recorded as all zeros
        "counters_json": json.dumps(counters, sort_keys=True),
    }
    row = spark.range(1, numPartitions=1).select(
        *[F.lit(values[c]).cast(t).alias(c) for c, t in _LINEAGE_COLUMNS]
    )
    row.write.mode("append").parquet(lineage_path)


def run_with_lineage(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    process_bucket,
    n_buckets: int = 8,
    run_id: str | None = None,
    sink=None,
) -> dict:
    """Resumable bucket loop.

    ``process_bucket(bucket_df) -> dict`` must return
    {"triples": df, "nodes": df, "edges": df, counters: {...}}; outputs are
    merged insert-if-absent so re-processing a bucket is a no-op.

    The result may also carry ``"cached"``: a DataFrame that
    ``process_bucket`` persisted for the bucket's merges to read (job.py
    persists the bucket's extraction).  It is unpersisted once the
    bucket's lineage row is written, or when a merge or the lineage write
    raises, and the release blocks until its blocks are gone.  So the
    cache holds at most one bucket's extraction rows at any time: about
    one row per turn, mention and raw triple of that bucket.

    ``sink`` is any merge sink (ParquetMergeSink by default, or an
    IcebergMergeSink for a real lakehouse).  Lineage stays a parquet table
    under ``out_dir`` regardless of sink — it is tiny (one row per bucket
    per run) and must be readable even when the catalog is down, since it
    gates the resume decision.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    sink = sink or ParquetMergeSink(spark, out_dir)
    lineage_path = os.path.join(out_dir, "lineage")
    done = completed_buckets(spark, lineage_path)
    bucketed = transcripts.withColumn("_bucket", conv_bucket(F.col("conv_id"), n_buckets))
    totals = {"buckets_run": 0, "buckets_skipped": 0}
    for b in range(n_buckets):
        if b in done:
            totals["buckets_skipped"] += 1
            continue
        part = bucketed.filter(F.col("_bucket") == b).drop("_bucket")
        result = process_bucket(part)
        try:
            counters = dict(result.get("counters", {}))
            counters["n_triples"] = sink.merge_insert_absent(
                result["triples"], "triples", ["subj", "pred", "obj"]
            )
            counters["n_nodes"] = sink.merge_insert_absent(result["nodes"], "nodes", ["node_id"])
            counters["n_edges"] = sink.merge_insert_absent(
                result["edges"], "edges", ["src", "rel_type", "dst"]
            )
            write_lineage_row(spark, lineage_path, b, "done", counters, run_id)
        finally:
            if result.get("cached") is not None:
                result["cached"].unpersist(blocking=True)
        totals["buckets_run"] += 1
    return totals


def reset_output(out_dir: str) -> None:
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
