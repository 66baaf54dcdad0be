"""End-to-end job driver: run, resume, idempotence (FIXTURES.md §4)."""

from __future__ import annotations

import os

import pytest

from graphene_spark import datagen, materialize, pipeline


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "kg_out")


def _run(spark, transcripts_df, dictionary_df, aliases, out_dir, n_buckets=3):
    def process_bucket(bucket_df):
        res = pipeline.run_pipeline(spark, bucket_df, dictionary_df, aliases)
        return {
            "triples": res["triples"],
            "nodes": res["nodes"],
            "edges": res["edges"],
            "counters": {"n_turns": bucket_df.count()},
        }

    return materialize.run_with_lineage(
        spark, transcripts_df, out_dir, process_bucket, n_buckets=n_buckets
    )


def test_run_resume_idempotent(spark, transcripts_df, dictionary_df, dictionary_pdf, out_dir):
    aliases = pipeline.all_aliases(dictionary_pdf)
    t1 = _run(spark, transcripts_df, dictionary_df, aliases, out_dir)
    assert t1 == {"buckets_run": 3, "buckets_skipped": 0}
    triples_1 = spark.read.parquet(os.path.join(out_dir, "triples"))
    n1 = triples_1.count()
    set1 = {tuple(r) for r in triples_1.select("subj", "pred", "obj").collect()}

    # full re-run: all buckets skipped, outputs byte-identical in content
    t2 = _run(spark, transcripts_df, dictionary_df, aliases, out_dir)
    assert t2 == {"buckets_run": 0, "buckets_skipped": 3}
    triples_2 = spark.read.parquet(os.path.join(out_dir, "triples"))
    assert triples_2.count() == n1
    set2 = {tuple(r) for r in triples_2.select("subj", "pred", "obj").collect()}
    assert set1 == set2

    # partial resume: delete one bucket's lineage rows -> exactly that bucket re-runs,
    # and the insert-if-absent merge adds nothing new (idempotence)
    lin_path = os.path.join(out_dir, "lineage")
    lin = spark.read.parquet(lin_path)
    kept = lin.filter("bucket <> 1")
    kept_pdf = kept.toPandas()
    materialize.reset_output(lin_path)
    spark.createDataFrame(kept_pdf, schema=lin.schema).write.parquet(lin_path)
    t3 = _run(spark, transcripts_df, dictionary_df, aliases, out_dir)
    assert t3 == {"buckets_run": 1, "buckets_skipped": 2}
    triples_3 = spark.read.parquet(os.path.join(out_dir, "triples"))
    assert triples_3.count() == n1

    # lineage records counters per bucket
    lin = spark.read.parquet(lin_path)
    assert lin.filter("status = 'done'").count() >= 3
    assert lin.filter("n_turns > 0").count() >= 3


def test_job_cli_main(spark, tmp_path):
    """Drive the spark-submit entrypoint end to end via its argv interface."""
    from graphene_spark import job

    out = str(tmp_path / "cli_out")
    job.main(
        [
            "--transcripts", "synthetic:400",
            "--dictionary", "synthetic",
            "--out", out,
            "--buckets", "2",
            "--master", "local[4]",
        ]
    )
    assert os.path.exists(os.path.join(out, "triples"))
    assert os.path.exists(os.path.join(out, "lineage"))
    n = spark.read.parquet(os.path.join(out, "triples")).count()
    assert n > 0
    # resume run adds nothing
    job.main(
        [
            "--transcripts", "synthetic:400",
            "--dictionary", "synthetic",
            "--out", out,
            "--buckets", "2",
            "--resume",
            "--master", "local[4]",
        ]
    )
    assert spark.read.parquet(os.path.join(out, "triples")).count() == n


def test_collect_aliases_guard(spark, dictionary_df):
    """The broadcast-gazetteer collect is bounded by an explicit cap with a
    design-point error message (the driver-side alias collect is safe only
    because it scales with the DICTIONARY, not the corpus)."""
    import pytest

    from graphene_spark.job import collect_aliases

    aliases = collect_aliases(dictionary_df)
    assert len(aliases) > 0
    with pytest.raises(ValueError, match="broadcast-gazetteer design point"):
        collect_aliases(dictionary_df, max_aliases=3)


def test_merge_sink_sql_and_parquet_parity(spark, tmp_path):
    """The Iceberg backend's MERGE statement is pinned (null-safe <=> keys,
    insert-only), and ParquetMergeSink keeps the emulation's idempotency
    contract through the sink interface."""
    sql = materialize.build_merge_insert_sql(
        "lake.kg.edges", "_incoming_x", ["src", "rel_type", "dst"],
        ["src", "rel_type", "dst", "props"],
    )
    assert sql == (
        "MERGE INTO lake.kg.edges t\n"
        "USING _incoming_x s\n"
        "ON t.src <=> s.src AND t.rel_type <=> s.rel_type AND t.dst <=> s.dst\n"
        "WHEN NOT MATCHED THEN INSERT (src, rel_type, dst, props) "
        "VALUES (s.src, s.rel_type, s.dst, s.props)"
    )

    sink = materialize.ParquetMergeSink(spark, str(tmp_path / "out"))
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c")], "k int, v string"
    )
    assert not sink.exists("t")
    assert sink.merge_insert_absent(df, "t", ["k"]) == 3
    # replay is a no-op, INCLUDING the null-key row (eqNullSafe / <=> parity)
    assert sink.merge_insert_absent(df, "t", ["k"]) == 0
    more = spark.createDataFrame([(2, "dup"), (4, "new")], "k int, v string")
    assert sink.merge_insert_absent(more, "t", ["k"]) == 1
    assert sink.exists("t")
    got = {(r["k"], r["v"]) for r in sink.read("t").collect()}
    assert got == {(1, "a"), (2, "b"), (None, "c"), (4, "new")}


def test_iceberg_merge_sql_executes_via_duckdb_parity(spark, tmp_path):
    """Execute the Iceberg backend's generated MERGE semantics OFFLINE.

    The sandbox has no Iceberg runtime jar and no network, so
    test_iceberg_sink_execution_parity skips — this is the next-best
    execution check (VERDICT r4 task #2): take the EXACT statement
    build_merge_insert_sql generates, mechanically rewrite it to the ANSI
    NOT-EXISTS form (the only changes: MERGE->INSERT structure and
    <=> -> IS NOT DISTINCT FROM), execute it in DuckDB against mirrored
    tables batch-by-batch, and assert per-batch insert counts AND the final
    row set match ParquetMergeSink on the same frames — including the
    null-key replay that the null-safe ON clause exists for."""
    import duckdb

    sink = materialize.ParquetMergeSink(spark, str(tmp_path / "pq"))
    con = duckdb.connect()
    con.execute("CREATE TABLE kg_t (k INTEGER, v VARCHAR)")

    def _lit(x):
        if x is None:
            return "NULL"
        if isinstance(x, str):
            return "'" + x.replace("'", "''") + "'"
        return str(x)

    batches = [
        [(1, "a"), (2, "b"), (None, "c")],
        [(1, "a"), (2, "b"), (None, "c")],          # full replay -> 0 inserts
        [(2, "dup"), (4, "new"), (None, "c2")],     # overlap + null-key replay
    ]
    merge_sql = materialize.build_merge_insert_sql("kg_t", "s_view", ["k"], ["k", "v"])
    exists_sql = materialize.merge_insert_sql_to_exists_form(merge_sql)
    # the rewrite is pinned so a drift in build_merge_insert_sql surfaces here
    assert exists_sql == (
        "INSERT INTO kg_t (k, v)\n"
        "SELECT s.k, s.v FROM s_view s\n"
        "WHERE NOT EXISTS (SELECT 1 FROM kg_t t WHERE t.k IS NOT DISTINCT FROM s.k)"
    )
    for rows in batches:
        df = spark.createDataFrame(rows, "k int, v string")
        n_parquet = sink.merge_insert_absent(df, "t", ["k"])
        values = ", ".join(f"({_lit(k)}, {_lit(v)})" for k, v in rows)
        con.execute(
            f"CREATE OR REPLACE VIEW s_view AS "
            f"SELECT * FROM (VALUES {values}) AS x(k, v)"
        )
        n_duck = con.execute(exists_sql).fetchone()[0]
        assert n_duck == n_parquet
    duck = {tuple(r) for r in con.execute("SELECT k, v FROM kg_t").fetchall()}
    pq = {(r["k"], r["v"]) for r in sink.read("t").collect()}
    assert duck == pq == {(1, "a"), (2, "b"), (None, "c"), (4, "new")}


def test_merge_sql_exists_rewrite_rejects_foreign_shapes():
    """The rewrite refuses anything that is not the generated insert-if-
    absent shape — it must never silently mistranslate an UPDATE-carrying
    MERGE."""
    with pytest.raises(ValueError, match="only rewrites the insert-if-absent"):
        materialize.merge_insert_sql_to_exists_form(
            "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v"
        )


def test_iceberg_sink_execution_parity(spark, tmp_path):
    """Run the SAME frames through both sinks and compare inserted counts +
    final row sets.  Skips unless an Iceberg catalog named 'lake' is live on
    the session (runtime jar + spark.sql.catalog.lake confs)."""
    if not materialize.IcebergMergeSink.available(spark, "lake"):
        pytest.skip(
            "Iceberg runtime jar / catalog 'lake' not configured in this "
            "sandbox (no network to fetch it) — the generated MERGE is "
            "text-pinned by test_merge_sink_sql_and_parquet_parity and "
            "EXECUTED offline via the DuckDB NOT-EXISTS stand-in in "
            "test_iceberg_merge_sql_executes_via_duckdb_parity"
        )
    pq = materialize.ParquetMergeSink(spark, str(tmp_path / "pq"))
    ice = materialize.IcebergMergeSink(spark, "lake.parity_test")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c")], "k int, v string"
    )
    for batch in (df, df, spark.createDataFrame([(2, "dup"), (4, "new")], "k int, v string")):
        assert pq.merge_insert_absent(batch, "t", ["k"]) == ice.merge_insert_absent(
            batch, "t", ["k"]
        )
    assert {tuple(r) for r in pq.read("t").collect()} == {
        tuple(r) for r in ice.read("t").collect()
    }


def test_run_with_lineage_accepts_sink(spark, transcripts_df, dictionary_df, dictionary_pdf, out_dir):
    """Explicit-sink run produces the same tables as the default path."""
    aliases = pipeline.all_aliases(dictionary_pdf)
    sink = materialize.ParquetMergeSink(spark, out_dir)

    def process_bucket(bucket_df):
        res = pipeline.run_pipeline(spark, bucket_df, dictionary_df, aliases)
        return {"triples": res["triples"], "nodes": res["nodes"],
                "edges": res["edges"], "counters": {}}

    totals = materialize.run_with_lineage(
        spark, transcripts_df, out_dir, process_bucket, n_buckets=2, sink=sink
    )
    assert totals["buckets_run"] == 2
    assert sink.read("triples").count() > 0
    # resume through the same sink is a no-op
    totals2 = materialize.run_with_lineage(
        spark, transcripts_df, out_dir, process_bucket, n_buckets=2, sink=sink
    )
    assert totals2 == {"buckets_run": 0, "buckets_skipped": 2}


def test_parquet_sink_reset(spark, tmp_path):
    """A non-resume run must start from empty tables: sink.reset drops them
    (the Iceberg analog issues DROP TABLE ... PURGE)."""
    sink = materialize.ParquetMergeSink(spark, str(tmp_path / "out"))
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    sink.merge_insert_absent(df, "t", ["k"])
    assert sink.exists("t")
    sink.reset(["t", "never_written"])
    assert not sink.exists("t")
    # fresh insert after reset sees an empty table
    assert sink.merge_insert_absent(df, "t", ["k"]) == 1


def test_merge_backend_requires_dotted_namespace(spark, tmp_path):
    """'iceberg:lake' (catalog only, no namespace) must be rejected at parse
    time — both halves of the old emptiness check are non-empty, so tables
    would otherwise resolve to 'lake.triples' and fail later with a
    confusing catalog error (round-4 ADVICE)."""
    from graphene_spark import job

    with pytest.raises(SystemExit, match="catalog.namespace"):
        job.main([
            "--transcripts", "synthetic:100", "--out", str(tmp_path / "o"),
            "--merge-backend", "iceberg:lake",
        ])


def test_merge_backend_rejects_empty_namespace_halves(spark, tmp_path):
    """'iceberg:lake.' and 'iceberg:.kg' carry a dot but an empty half and
    must fail at parse time like 'iceberg:lake' does."""
    from graphene_spark import job

    for bad in ("iceberg:lake.", "iceberg:.kg"):
        with pytest.raises(SystemExit, match="catalog.namespace"):
            job.main([
                "--transcripts", "synthetic:100", "--out", str(tmp_path / "o"),
                "--merge-backend", bad,
            ])


# ---------------------------------------------------------------------------
# merge sink I/O: clustered writes, observed insert counts, footer-schema reads
# ---------------------------------------------------------------------------

_JOB_ARGS = ["--transcripts", "synthetic:400", "--dictionary", "synthetic",
             "--buckets", "2", "--postprocess"]
_TABLE_KEYS = {"triples": ["subj", "pred", "obj"], "nodes": ["node_id"],
               "edges": ["src", "rel_type", "dst"]}


def _data_files(path: str) -> set[str]:
    """Committed data files of a merged table."""
    return {
        os.path.join(root, f)
        for root, _dirs, files in os.walk(path)
        if "_temporary" not in root
        for f in files
        if f.endswith(".parquet") and not f.startswith(".")
    }


def _comparable(df):
    """``df`` with each map column as its sorted entry array, so exceptAll
    (which refuses map columns) can compare rows."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import MapType

    return df.select(*[
        F.array_sort(F.map_entries(f.name)).alias(f.name)
        if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ])


def _same_rows(a, b) -> bool:
    a, b = _comparable(a), _comparable(b.select(*a.columns))
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


@pytest.fixture(scope="module")
def clean_run(spark, tmp_path_factory):
    """The output directory of one clean ``job.main`` run (read-only)."""
    from graphene_spark import job

    out = str(tmp_path_factory.mktemp("clean") / "out")
    job.main([*_JOB_ARGS, "--out", out, "--master", "local[4]"])
    return out


def test_merge_writes_one_file_per_touched_kb(spark, tmp_path):
    """Each merge, into a fresh table and into an existing one, adds
    exactly one data file per ``_kb`` it touches; a replay inserts nothing
    and adds no data file; an empty merge into a fresh table leaves no
    table."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "t")

    def frame(lo, hi):
        # spread over 8 input partitions: an unclustered partitioned write
        # would add up to 8 files per touched _kb
        return spark.range(lo, hi, numPartitions=8).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )

    def one_file_per_touched_kb(files, df):
        n_buckets, _ = materialize.key_buckets(spark, path)
        touched = {r["_kb"] for r in df.select(materialize.layout_bucket(["k"], n_buckets)
                                               .alias("_kb")).distinct().collect()}
        dirs = [os.path.basename(os.path.dirname(f)) for f in files]
        return sorted(dirs) == sorted(f"_kb={kb}" for kb in touched)

    assert materialize.merge_insert_absent(spark, frame(0, 500), path, ["k"]) == 500
    files = _data_files(path)
    assert one_file_per_touched_kb(files, frame(0, 500))

    # 100 keys already present, 60 new ones
    assert materialize.merge_insert_absent(spark, frame(400, 560), path, ["k"]) == 60
    assert one_file_per_touched_kb(_data_files(path) - files, frame(500, 560))

    before = _data_files(path)
    assert materialize.merge_insert_absent(spark, frame(400, 560), path, ["k"]) == 0
    assert _data_files(path) == before
    assert materialize.read_merged(spark, path).count() == 560

    fresh = str(tmp_path / "fresh")
    assert materialize.merge_insert_absent(spark, frame(0, 0), fresh, ["k"]) == 0
    assert not os.path.exists(fresh)


def _legacy_table(df, path: str, keys: list[str]) -> None:
    """A merged table as written before bucket counts were recorded:
    ``KEY_BUCKETS`` buckets, one file each, footers without a count."""
    (
        df.withColumn("_kb", materialize.layout_bucket(keys, materialize.KEY_BUCKETS))
        .repartition("_kb")
        .write.partitionBy("_kb")
        .parquet(path)
    )


def _footer_metadata(file: str) -> dict:
    """The column metadata a data file's footer records, by column."""
    import json

    import pyarrow.parquet as pq

    meta = pq.read_metadata(file).metadata[b"org.apache.spark.sql.parquet.row.metadata"]
    return {f["name"]: f["metadata"] for f in json.loads(meta)["fields"]}


def _footer_counts(path: str) -> set:
    """The bucket counts the data files of a table record (None for a file
    that records none); every data column of a file records the same."""
    counts = set()
    for f in _data_files(path):
        found = {m.get("graphene.key_buckets") for m in _footer_metadata(f).values()}
        assert len(found) == 1, (f, found)
        counts |= found
    return counts


def test_read_merged_scan_runs_one_job(spark, tmp_path):
    """A full scan of a merged table with the most buckets a table can have
    (a legacy 64-``_kb`` one) is one Spark job: the ``_kb`` directories are
    listed on the driver and the schema comes from a footer, so neither a
    listing job nor a schema-inference job runs."""
    import uuid

    import pyspark.sql.functions as F

    path = str(tmp_path / "t")
    df = spark.range(2000).select(F.col("id").alias("k"), F.col("id").cast("string").alias("v"))
    _legacy_table(df, path, ["k"])
    assert materialize.key_buckets(spark, path) == (materialize.KEY_BUCKETS, "legacy")
    assert len([d for d in os.listdir(path) if d.startswith("_kb=")]) == materialize.KEY_BUCKETS

    sc = spark.sparkContext
    group = f"read-merged-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "noop scan of a merged table")
    try:
        materialize.read_merged(spark, path).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_footer_schema_read_matches_inference(spark, clean_run):
    """The footer-schema read gives the same schema and rows as
    ``spark.read.parquet`` on every table of a job run, map and array
    columns included."""
    from pyspark.sql.types import ArrayType, MapType

    types = set()
    for name in _TABLE_KEYS:
        path = os.path.join(clean_run, name)
        assert materialize._footer_schema(path) is not None
        got = materialize._read_table(spark, path)
        want = spark.read.parquet(path)
        assert got.schema == want.schema
        assert _same_rows(got, want)
        types |= {type(f.dataType) for f in got.schema.fields}
    assert {MapType, ArrayType} <= types


def test_read_without_spark_footer_falls_back_to_inference(spark, tmp_path):
    """A table whose data file carries no Spark row metadata (written by
    another tool) is read through schema inference, with the same rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    schema = pa.schema([("k", pa.int64()), ("v", pa.string()), ("tags", pa.list_(pa.string()))])
    rows = {0: [(1, "a", ["x"]), (2, "b", [])], 5: [(3, None, ["y", "z"])]}
    for kb, rs in rows.items():
        os.makedirs(f"{path}/_kb={kb}")
        pq.write_table(
            pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rs], schema=schema),
            f"{path}/_kb={kb}/a.parquet",
        )
    assert materialize._footer_schema(path) is None
    got = materialize.read_merged(spark, path)
    want = spark.read.parquet(path).drop("_kb")
    assert got.schema == want.schema
    assert _same_rows(got, want)
    assert sorted((r["k"], r["v"], tuple(r["tags"])) for r in got.collect()) == [
        (1, "a", ("x",)), (2, "b", ()), (3, None, ("y", "z"))
    ]


def test_summary_counts_tables_after_lost_lineage(spark, clean_run, tmp_path, capsys):
    """After one bucket's lineage row is lost and the run resumes, the
    printed counts are the tables' row counts — a sum over lineage would
    miss the replayed bucket, which records 0 inserts."""
    import json
    import shutil

    from graphene_spark import job

    out = str(tmp_path / "out")
    shutil.copytree(clean_run, out)
    lin_path = os.path.join(out, "lineage")
    lin = spark.read.parquet(lin_path)
    kept = lin.filter("bucket <> 1").toPandas()
    materialize.reset_output(lin_path)
    spark.createDataFrame(kept, schema=lin.schema).write.parquet(lin_path)

    capsys.readouterr()
    job.main([*_JOB_ARGS, "--out", out, "--master", "local[4]", "--resume"])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["buckets"] == {"buckets_run": 1, "buckets_skipped": 1}
    lin = spark.read.parquet(lin_path)
    assert lin.filter("bucket = 1").first()["n_triples"] == 0
    # the lineage sum undercounts; the summary does not
    assert lin.agg({"n_triples": "sum"}).first()[0] < summary["triples"]
    for name in _TABLE_KEYS:
        assert summary[name] == spark.read.parquet(os.path.join(out, name)).count()


_KILL_AFTER_MERGE = """
import os, signal, sys
sys.path.insert(0, {repo!r})
from graphene_spark import job, materialize

merge = materialize.merge_insert_absent
merged = []

def merge_then_die(spark, df, path, *args, **kwargs):
    n = merge(spark, df, path, *args, **kwargs)
    if os.path.basename(path.rstrip("/")) == {table!r}:
        merged.append(path)
        if len(merged) == {nth}:
            os.kill(os.getpid(), signal.SIGKILL)
    return n

materialize.merge_insert_absent = merge_then_die
job.main(sys.argv[1:])
"""


def _run_killed_after_merge(spark, out: str, table: str, nth: int = 1) -> None:
    """``job.main`` in a subprocess that SIGKILLs itself right after its
    ``nth`` merge into ``table`` returns.  The subprocess gets the test
    session's shuffle partitions, so its new tables pick the bucket count
    the clean run's did."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEM="1g",
               SPARK_GRAFT_CPUS=spark.conf.get("spark.sql.shuffle.partitions"))
    proc = subprocess.run(
        [sys.executable, "-c", _KILL_AFTER_MERGE.format(repo=repo, table=table, nth=nth),
         *_JOB_ARGS, "--out", out, "--master", "local[2]"],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == -9, proc.stderr[-3000:]


def _assert_resumed_equals_clean(spark, out: str, clean: str) -> None:
    """Every table equals the clean run's, no identity key is duplicated,
    and each bucket has one ``done`` lineage row."""
    for name, keys in _TABLE_KEYS.items():
        got = spark.read.parquet(os.path.join(out, name))
        assert _same_rows(got, spark.read.parquet(os.path.join(clean, name)))
        assert got.groupBy(*keys).count().filter("count > 1").isEmpty()
    lin = spark.read.parquet(os.path.join(out, "lineage")).filter("status = 'done'")
    assert sorted(r["bucket"] for r in lin.select("bucket").collect()) == [0, 1]


def test_resume_after_kill_following_triples_merge(spark, clean_run, tmp_path):
    """A job SIGKILLed right after its first ``triples`` merge commits, then
    resumed, ends with exactly the tables of a clean run: no identity key
    twice, and one ``done`` lineage row per bucket."""
    out = str(tmp_path / "out")
    _run_killed_after_merge(spark, out, "triples")
    assert _data_files(os.path.join(out, "triples"))
    assert not os.path.exists(os.path.join(out, "lineage"))

    from graphene_spark import job

    job.main([*_JOB_ARGS, "--out", out, "--master", "local[4]", "--resume"])
    _assert_resumed_equals_clean(spark, out, clean_run)


def test_resume_after_kill_following_nodes_merge(spark, clean_run, tmp_path, capsys):
    """A job SIGKILLed right after its first ``nodes`` merge, before
    ``edges`` exists, then resumed, ends with exactly the tables of a clean
    run; the resumed run reads the two committed tables' bucket counts back
    and gives the new ``edges`` table the count the clean run chose."""
    import json

    out = str(tmp_path / "out")
    _run_killed_after_merge(spark, out, "nodes")
    assert _data_files(os.path.join(out, "nodes"))
    assert not os.path.exists(os.path.join(out, "edges"))
    assert not os.path.exists(os.path.join(out, "lineage"))

    from graphene_spark import job

    capsys.readouterr()
    job.main([*_JOB_ARGS, "--out", out, "--master", "local[4]", "--resume"])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    _assert_resumed_equals_clean(spark, out, clean_run)
    n_clean = {t: materialize.key_buckets(spark, os.path.join(clean_run, t)) for t in _TABLE_KEYS}
    assert set(n_clean.values()) == {(8, "recorded")}
    for t in _TABLE_KEYS:
        assert materialize.key_buckets(spark, os.path.join(out, t)) == n_clean[t]
    assert summary["layout"] == {
        "triples": {"key_buckets": 8, "source": "recorded"},
        "nodes": {"key_buckets": 8, "source": "recorded"},
        "edges": {"key_buckets": 8, "source": "chosen"},
    }


def test_resume_after_kill_following_postprocess_edges_merge(spark, clean_run, tmp_path, capsys):
    """A job SIGKILLed right after the postprocess ``edges`` merge returns
    (its third ``edges`` merge: one per bucket, then postprocess), with
    both buckets' lineage committed but before the summary prints, then
    resumed with ``--postprocess``, ends with exactly the tables of a clean
    run; the resumed postprocess finds its edges already merged."""
    import json

    out = str(tmp_path / "out")
    _run_killed_after_merge(spark, out, "edges", nth=3)
    lin = spark.read.parquet(os.path.join(out, "lineage")).filter("status = 'done'")
    assert lin.count() == 2

    from graphene_spark import job

    capsys.readouterr()
    job.main([*_JOB_ARGS, "--out", out, "--master", "local[4]", "--resume"])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["buckets"] == {"buckets_run": 0, "buckets_skipped": 2}
    assert summary["postprocess"]["edges_inserted"] == 0
    _assert_resumed_equals_clean(spark, out, clean_run)


# ---------------------------------------------------------------------------
# one extraction pass per bucket, released with the bucket
# ---------------------------------------------------------------------------

def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_job_extracts_once_per_bucket_and_releases_it(spark, tmp_path, monkeypatch):
    """A 2-bucket job plans one extraction per bucket and feeds each turn
    to Python once; every merge of a bucket reads that extraction from the
    cache; and no persisted RDD outlives the run."""
    from graphene_spark import extract, job

    real_extract = extract.extract_rows_arrow
    calls = []
    fed = spark.sparkContext.accumulator(0)

    def count_fed(batches):
        for batch in batches:
            fed.add(batch.num_rows)
            yield batch

    def counted_extract(transcripts, aliases, *args, **kwargs):
        calls.append(kwargs.get("kinds"))
        cols = transcripts.select("conv_id", "turn_idx", "text")
        return real_extract(cols.mapInArrow(count_fed, cols.schema), aliases, *args, **kwargs)

    real_merge = materialize.merge_insert_absent
    plans = {}

    def recording_merge(spark_, df, path, *args, **kwargs):
        plan = df._jdf.queryExecution().executedPlan().toString()
        plans.setdefault(os.path.basename(path), []).append(plan)
        return real_merge(spark_, df, path, *args, **kwargs)

    monkeypatch.setattr(extract, "extract_rows_arrow", counted_extract)
    monkeypatch.setattr(materialize, "merge_insert_absent", recording_merge)
    before = _persistent_rdds(spark)
    job.main(["--transcripts", "synthetic:400", "--dictionary", "synthetic",
              "--buckets", "2", "--out", str(tmp_path / "out"), "--master", "local[4]"])

    assert calls == [None, None]
    assert fed.value == 400
    assert sorted(plans) == sorted(_TABLE_KEYS)
    for table, table_plans in plans.items():
        assert len(table_plans) == 2
        assert all("InMemoryTableScan" in p for p in table_plans), table
    assert _persistent_rdds(spark) == before


def test_failed_bucket_releases_its_extraction(spark, tmp_path, monkeypatch):
    """A bucket whose ``nodes`` merge raises, after its ``triples`` merge
    has filled the extraction cache, leaves no persisted RDD behind and
    writes no lineage row."""
    from graphene_spark import job

    real_merge = materialize.merge_insert_absent
    live_at_fault = []

    def fail_nodes_merge(spark_, df, path, *args, **kwargs):
        if os.path.basename(path) == "nodes":
            live_at_fault.append(_persistent_rdds(spark))
            raise RuntimeError("injected nodes merge fault")
        return real_merge(spark_, df, path, *args, **kwargs)

    monkeypatch.setattr(materialize, "merge_insert_absent", fail_nodes_merge)
    before = _persistent_rdds(spark)
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="injected nodes merge fault"):
        job.main(["--transcripts", "synthetic:400", "--dictionary", "synthetic",
                  "--buckets", "2", "--out", out, "--master", "local[4]"])
    assert live_at_fault == [before + 1]
    assert _persistent_rdds(spark) == before
    assert not os.path.exists(os.path.join(out, "lineage"))


# ---------------------------------------------------------------------------
# per-table bucket count, recorded in the footers
# ---------------------------------------------------------------------------

def test_new_table_records_session_bucket_count(spark, tmp_path):
    """A table created under the test session (8 shuffle partitions) has
    min(8, KEY_BUCKETS) buckets, and every data file's footer records that
    count, also after a second merge and after compaction."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "t")
    n = min(8, materialize.KEY_BUCKETS)
    assert materialize.key_buckets(spark, path) == (n, "chosen")
    df = spark.range(300).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    assert materialize.merge_insert_absent(spark, df, path, ["k"]) == 300
    assert materialize.key_buckets(spark, path) == (n, "recorded")
    assert sorted(d for d in os.listdir(path) if d.startswith("_kb=")) == sorted(
        f"_kb={kb}" for kb in range(n)
    )
    more = spark.range(250, 400).select(F.col("id").alias("k"), F.lit("y").alias("v"))
    assert materialize.merge_insert_absent(spark, more, path, ["k"]) == 100
    assert len(_data_files(path)) == 2 * n
    assert _footer_counts(path) == {n}

    stats = materialize.compact_merged(spark, path)
    assert (stats["files_before"], stats["files_after"], stats["rows"]) == (2 * n, n, 400)
    assert _footer_counts(path) == {n}
    assert materialize.key_buckets(spark, path) == (n, "recorded")
    stored = materialize._read_table(spark, path)
    assert stored.filter(F.col("_kb") != materialize.layout_bucket(["k"], n)).isEmpty()
    assert materialize.read_merged(spark, path).count() == 400


def test_legacy_table_keeps_64_buckets(spark, tmp_path):
    """A table written before counts were recorded keeps KEY_BUCKETS: a
    replay into it inserts nothing, new rows land in its 64-bucket layout
    and record 64, and the pruned read finds its rows."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "t")
    df = spark.range(200).select(F.col("id").alias("k"), F.col("id").cast("string").alias("v"))
    _legacy_table(df, path, ["k"])
    legacy_files = _data_files(path)
    assert _footer_counts(path) == {None}
    assert materialize.key_buckets(spark, path) == (materialize.KEY_BUCKETS, "legacy")

    assert materialize.merge_insert_absent(spark, df, path, ["k"]) == 0
    assert _data_files(path) == legacy_files
    more = spark.range(150, 260).select(F.col("id").alias("k"), F.col("id").cast("string").alias("v"))
    assert materialize.merge_insert_absent(spark, more, path, ["k"]) == 60
    assert materialize.key_buckets(spark, path)[0] == materialize.KEY_BUCKETS
    new_files = _data_files(path) - legacy_files
    assert new_files
    assert {_footer_metadata(f)["v"].get("graphene.key_buckets") for f in new_files} == {
        materialize.KEY_BUCKETS
    }
    stored = materialize._read_table(spark, path)
    assert stored.filter(
        F.col("_kb") != materialize.layout_bucket(["k"], materialize.KEY_BUCKETS)
    ).isEmpty()

    probe = spark.range(0, 260, 13).select(F.col("id").alias("k"))
    got = materialize.read_merged_pruned(spark, path, ["k"], probe).join(probe, "k", "left_semi")
    assert sorted(r["k"] for r in got.collect()) == list(range(0, 260, 13))


def test_incoming_count_is_restamped(spark, tmp_path):
    """An incoming frame whose columns carry another table's count is
    recorded with the target table's count; other column metadata stays."""
    import pyspark.sql.functions as F

    meta = {"graphene.key_buckets": 3, "note": "kept"}
    src = spark.range(100).select(
        F.col("id").alias("k", metadata=meta), F.col("id").cast("string").alias("v", metadata=meta)
    )
    fresh = str(tmp_path / "fresh")
    assert materialize.merge_insert_absent(spark, src, fresh, ["k"]) == 100
    assert materialize.key_buckets(spark, fresh) == (8, "recorded")
    assert _footer_counts(fresh) == {8}
    assert {m["note"] for f in _data_files(fresh) for m in _footer_metadata(f).values()} == {"kept"}

    # a frame read from the 8-bucket table, merged into a legacy one
    legacy = str(tmp_path / "legacy")
    _legacy_table(spark.range(50).select(F.col("id").alias("k"), F.col("id").cast("string").alias("v")),
                  legacy, ["k"])
    read = materialize.read_merged(spark, fresh)
    assert {f.metadata["graphene.key_buckets"] for f in read.schema.fields} == {8}
    before = _data_files(legacy)
    assert materialize.merge_insert_absent(spark, read, legacy, ["k"]) == 50
    assert {_footer_metadata(f)["k"]["graphene.key_buckets"]
            for f in _data_files(legacy) - before} == {materialize.KEY_BUCKETS}


def test_lineage_row_matches_local_relation_writer(spark, tmp_path):
    """The one-task lineage append writes the rows, and the mergeSchema
    read, that the former ``createDataFrame`` writer produced."""
    import json

    counters = {"n_turns": 12, "n_triples": 2**40, "n_errors": 1, "accepted": 3}

    def old_writer(path, bucket, status, counters, run_id):
        row = {c: int(counters.get(c, 0)) for c in
               ("n_turns", "n_triples", "n_nodes", "n_edges", "n_dangling", "n_errors")}
        row.update(bucket=int(bucket), status=status, run_id=run_id,
                   counters_json=json.dumps(counters, sort_keys=True))
        spark.createDataFrame([row], schema=(
            "bucket int, status string, run_id string, n_turns long, n_triples long,"
            " n_nodes long, n_edges long, n_dangling long, n_errors long,"
            " counters_json string"
        )).write.mode("append").parquet(path)

    old, new, mixed = (str(tmp_path / d) for d in ("old", "new", "mixed"))
    for b, status in ((0, "done"), (5, "failed")):
        old_writer(old, b, status, counters, "r1")
        materialize.write_lineage_row(spark, new, b, status, counters, "r1")
    old_writer(mixed, 0, "done", counters, "r1")
    materialize.write_lineage_row(spark, mixed, 5, "failed", counters, "r1")

    want = materialize.read_lineage(spark, old)
    for path in (new, mixed):
        got = materialize.read_lineage(spark, path)
        assert got.schema == want.schema
        assert _same_rows(got, want)
    assert materialize.completed_buckets(spark, new) == {0}


# ---------------------------------------------------------------------------
# one action per merge; a closing summary that runs no Spark job
# ---------------------------------------------------------------------------

def test_merge_into_existing_table_is_one_write(spark, tmp_path, monkeypatch):
    """A merge into an existing table runs its clustered write and no other
    action: it collects, counts and persists nothing, and leaves no
    persisted RDD behind."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "t")

    def frame(lo, hi):
        return spark.range(lo, hi, numPartitions=4).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )

    assert materialize.merge_insert_absent(spark, frame(0, 300), path, ["k"]) == 300

    frame_class = type(frame(0, 1))
    calls = []
    for name in ("collect", "count", "first", "persist", "cache"):
        real = getattr(frame_class, name)

        def recorded(self, *args, _name=name, _real=real, **kwargs):
            calls.append(_name)
            return _real(self, *args, **kwargs)

        monkeypatch.setattr(frame_class, name, recorded)
    real_write = materialize._write_clustered
    writes = []

    def counted_write(*args, **kwargs):
        writes.append(args[1])
        return real_write(*args, **kwargs)

    monkeypatch.setattr(materialize, "_write_clustered", counted_write)
    before = _persistent_rdds(spark)
    assert materialize.merge_insert_absent(spark, frame(250, 400), path, ["k"]) == 100
    assert calls == []
    assert writes == [path]
    assert _persistent_rdds(spark) == before
    monkeypatch.undo()
    assert materialize.read_merged(spark, path).count() == 400


def test_job_summary_runs_no_spark_job(spark, tmp_path, monkeypatch):
    """Without ``--postprocess``, ``job.main`` starts no Spark job once the
    bucket loop has returned: the summary counts come from the footers."""
    import uuid

    from graphene_spark import job

    sc = spark.sparkContext
    listener_bus = sc._jsc.sc().listenerBus()
    group = f"job-summary-{uuid.uuid4().hex}"
    real_loop = materialize.run_with_lineage
    at_loop_end = []

    def recording_loop(*args, **kwargs):
        totals = real_loop(*args, **kwargs)
        listener_bus.waitUntilEmpty()
        at_loop_end.append(set(sc.statusTracker().getJobIdsForGroup(group)))
        return totals

    monkeypatch.setattr(materialize, "run_with_lineage", recording_loop)
    sc.setJobGroup(group, "job.main without --postprocess")
    try:
        job.main(["--transcripts", "synthetic:400", "--dictionary", "synthetic",
                  "--buckets", "2", "--out", str(tmp_path / "out"), "--master", "local[4]"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    listener_bus.waitUntilEmpty()
    assert len(at_loop_end) == 1 and at_loop_end[0]
    assert set(sc.statusTracker().getJobIdsForGroup(group)) == at_loop_end[0]


def test_parquet_sink_rows_match_spark_count(spark, clean_run, tmp_path):
    """``ParquetMergeSink.rows`` counts what ``spark.read.parquet`` reads:
    on the tables and lineage of a job run, on a table holding uncommitted
    task output, a commit marker and checksum files, and on a missing
    table (0)."""
    import shutil

    import pyspark.sql.functions as F

    sink = materialize.ParquetMergeSink(spark, clean_run)
    for name in [*_TABLE_KEYS, "lineage"]:
        rows = sink.rows(name)
        assert rows > 0, name  # the _kb= directories are read
        assert rows == spark.read.parquet(sink.target(name)).count(), name

    path = str(tmp_path / "t")
    df = spark.range(500).select(F.col("id").alias("k"), F.col("id").alias("v"))
    assert materialize.merge_insert_absent(spark, df, path, ["k"]) == 500
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    data = sorted(_data_files(path))
    uncommitted = os.path.join(path, "_temporary", "0", "_temporary", "attempt_0",
                               os.path.basename(os.path.dirname(data[0])))
    os.makedirs(uncommitted)
    shutil.copy(data[0], os.path.join(uncommitted, "part-00000-planted.parquet"))
    shutil.copy(data[0], os.path.join(os.path.dirname(data[0]), ".planted.parquet.crc"))
    sink = materialize.ParquetMergeSink(spark, str(tmp_path))
    assert sink.rows("t") == spark.read.parquet(path).count() == 500

    assert sink.rows("missing") == 0


def test_empty_buckets_record_zero_turns_and_resume(spark, tmp_path, capsys):
    """A run with more buckets than conversations completes: every bucket,
    empty or not, gets a ``done`` lineage row, the empty ones with 0 turns,
    and a resumed run skips them all and inserts nothing."""
    import json

    from graphene_spark import job

    out = str(tmp_path / "out")
    argv = ["--transcripts", "synthetic:100", "--dictionary", "synthetic",
            "--buckets", "16", "--out", out, "--master", "local[4]"]
    capsys.readouterr()
    job.main(argv)
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    lin = spark.read.parquet(os.path.join(out, "lineage")).collect()
    assert sorted(r["bucket"] for r in lin) == list(range(16))
    assert {r["status"] for r in lin} == {"done"}
    turns = [r["n_turns"] for r in lin]
    assert sum(turns) == 100 and turns.count(0) >= 16 - 5

    job.main([*argv, "--resume"])
    resumed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert resumed["buckets"] == {"buckets_run": 0, "buckets_skipped": 16}
    for name in _TABLE_KEYS:
        assert resumed[name] == first[name] > 0
    assert resumed["lineage_rows"] == 16
