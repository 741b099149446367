"""Axis 10 (round 12): schema evolution across a multi-file feed.

A 100 TB lake table is written by YEARS of producers: early files
lack columns later ones carry, and a column's physical type widens.
The reader contract this pins, per mode:

- **Declared schema (production mode)**: a file missing a declared
  column reads as NULL, an extra file column is ignored, and an
  int32-physical file widens into a wider declared type — matching
  DuckDB's union_by_name projected to the declared columns.
- **Inference mode (exploratory)**: the scan must take the UNION of
  file schemas. Spark's default takes ONE file's footer, so a
  column added by a newer producer silently vanished from
  scan_glob_union — found by this axis, fixed with a
  mergeSchema=true default when no schema is declared.
- **Type conflict in inference mode is LOUD** (CANNOT_MERGE_SCHEMAS):
  without a declared schema there is no authority for the cast
  direction; DuckDB's union_by_name silently coerces instead, which
  is exactly the divergence a declared schema exists to remove.
  The loud error names the fix.

Findings: docs/FLOAT_ORDER_AUDIT.md round-12 axis-10 section.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_jobs_spark.sources import readers
from tests.conftest import assert_table_root_clean


@pytest.fixture(scope="module")
def evolved_feed(tmp_path_factory):
    """Three producer generations: v1 (3 cols), v2 (+props),
    v3 (+schema_v). Types stay compatible (the widening case gets
    its own fixture below)."""
    d = tmp_path_factory.mktemp("evolved_feed")
    v1 = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 11], pa.int64()),
        "value": pa.array([1.5, 2.5], pa.float64()),
    })
    v2 = pa.table({
        "event_id": pa.array([3, 4], pa.int64()),
        "user_id": pa.array([12, 13], pa.int64()),
        "value": pa.array([3.5, 4.5], pa.float64()),
        "props": pa.array(["a", "b"], pa.string()),
    })
    v3 = pa.table({
        "event_id": pa.array([5, 6], pa.int64()),
        "user_id": pa.array([14, 15], pa.int64()),
        "value": pa.array([5.5, 6.5], pa.float64()),
        "props": pa.array(["c", "d"], pa.string()),
        "schema_v": pa.array([3, 3], pa.int64()),
    })
    for name, t in [("f1", v1), ("f2", v2), ("f3", v3)]:
        pq.write_table(t, str(d / f"{name}.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def widened_feed(tmp_path_factory):
    """A generation that narrowed/widened the physical type:
    value arrives int32 in one file, float64 in another."""
    d = tmp_path_factory.mktemp("widened_feed")
    a = pa.table({
        "event_id": pa.array([1], pa.int64()),
        "value": pa.array([1.5], pa.float64()),
    })
    b = pa.table({
        "event_id": pa.array([2], pa.int64()),
        "value": pa.array([2], pa.int32()),
    })
    pq.write_table(a, str(d / "a.parquet"))
    pq.write_table(b, str(d / "b.parquet"))
    return str(d)


def test_declared_schema_reads_evolved_feed(spark, evolved_feed):
    """Production mode: declared schema nulls missing columns,
    ignores extras — value-equal to DuckDB union_by_name projected
    to the declared columns."""
    from etl_jobs_spark.compare import frames_match

    got = readers.scan_glob_union(
        spark,
        f"{evolved_feed}/*.parquet",
        schema="event_id BIGINT, user_id BIGINT, value DOUBLE,"
        " props STRING",
        fmt="parquet",
    ).toPandas()
    want = duckdb.sql(
        f"""SELECT event_id, user_id, value, props
        FROM read_parquet('{evolved_feed}/*.parquet',
                          union_by_name=true)"""
    ).df()
    frames_match(got, want)


def test_inference_mode_unions_file_schemas(spark, evolved_feed):
    """Exploratory mode: the scan carries the UNION of file schemas
    (Spark's one-footer default silently dropped `props` and
    `schema_v` — the axis finding)."""
    from etl_jobs_spark.compare import frames_match

    df = readers.scan_glob_union(
        spark, f"{evolved_feed}/*.parquet", fmt="parquet"
    )
    assert set(df.columns) == {
        "event_id", "user_id", "value", "props", "schema_v"
    }
    want = duckdb.sql(
        f"""SELECT * FROM read_parquet('{evolved_feed}/*.parquet',
                                       union_by_name=true)"""
    ).df()
    frames_match(df.toPandas(), want)


def test_inference_mode_type_conflict_is_loud(spark, widened_feed):
    """A physical-type conflict under inference has no cast
    authority — the union must fail LOUDLY (never pick a file), and
    the declared-schema path resolves the same feed."""
    # surfaces as a raw Py4JJavaError at plan time (footer merge),
    # not a wrapped PySparkException — match on the error class
    with pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS"):
        readers.scan_glob_union(
            spark, f"{widened_feed}/*.parquet", fmt="parquet"
        ).collect()

    rows = (
        readers.scan_glob_union(
            spark,
            f"{widened_feed}/*.parquet",
            schema="event_id BIGINT, value DOUBLE",
            fmt="parquet",
        )
        .orderBy("event_id")
        .collect()
    )
    assert [tuple(r) for r in rows] == [(1, 1.5), (2, 2.0)]


def test_append_evolved_batch_roundtrip(spark, tmp_path):
    """Write-side wave: an engine-written table appended by a NEWER
    producer (extra column) reads back under both modes with the
    same contracts — inference unions, declared schema nulls the
    missing column on old rows. Partitioned layout included: the
    evolved file lands inside a partition dir and partition pruning
    still works on the union schema."""
    from etl_jobs_spark.compare import frames_match
    from etl_jobs_spark.sources import writers

    d = str(tmp_path / "tbl")
    v1 = spark.createDataFrame(
        [(1, "2024-01-01", 1.5), (2, "2024-01-02", 2.5)],
        "event_id BIGINT, day STRING, value DOUBLE",
    )
    v2 = spark.createDataFrame(
        [(3, "2024-01-02", 3.5, "a")],
        "event_id BIGINT, day STRING, value DOUBLE, props STRING",
    )
    writers.sink_parquet(v1, d, partition_by=["day"])
    writers.sink_parquet(v2, d, mode="append", partition_by=["day"])
    assert_table_root_clean(d)

    got = (
        readers.scan_glob_union(
            spark,
            d,
            schema="event_id BIGINT, value DOUBLE, props STRING,"
            " day STRING",
            fmt="parquet",
        )
        .orderBy("event_id")
        .collect()
    )
    assert [tuple(r) for r in got] == [
        (1, 1.5, None, "2024-01-01"),
        (2, 2.5, None, "2024-01-02"),
        (3, 3.5, "a", "2024-01-02"),
    ]
    # inference mode: union schema, and partition pruning still
    # prunes on the partition column
    inf = readers.scan_glob_union(spark, d, fmt="parquet")
    assert set(inf.columns) == {"event_id", "value", "props", "day"}
    pruned = inf.filter(inf.day == "2024-01-02")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan, plan[:800]
    assert {r["event_id"] for r in pruned.collect()} == {2, 3}


def test_concurrent_partition_append_disjoint_writers(spark, tmp_path):
    """Round-13 write-side follow-through (VERDICT r12 item 6): two
    concurrent writers appending DISJOINT partitions of different
    schema vintages to one table root.

    The shared-staging hazard is real and recorded in the audit doc
    (plain mode="append" partitionBy to one root: usually one writer
    dies with TASK_WRITE_FAILED, and one probe trial left a TORN
    append visible) — so the pinned contract is the SAFE pattern:
    sink_parquet_partitions_direct gives every partition value its
    own committer root, which makes disjoint-partition concurrency
    deterministic, not racy. Read-back honors both evolution modes:
    inference (mergeSchema) unions the vintages, a declared schema
    nulls the missing column on old rows, and partition pruning
    still prunes on the union schema."""
    import threading

    from etl_jobs_spark.sources import readers, writers

    root = str(tmp_path / "tbl")
    v1 = spark.createDataFrame(
        [(i, "2024-01-01" if i % 2 else "2024-01-03", float(i))
         for i in range(200)],
        "event_id BIGINT, day STRING, value DOUBLE",
    )
    v2 = spark.createDataFrame(
        [(1000 + i, "2024-01-02" if i % 2 else "2024-01-04",
          float(i), "p")
         for i in range(200)],
        "event_id BIGINT, day STRING, value DOUBLE, props STRING",
    )
    errs: list[str] = []

    def w(df):
        try:
            writers.sink_parquet_partitions_direct(df, root, "day")
        except Exception as e:  # pragma: no cover - the assert below
            errs.append(f"{type(e).__name__}: {e}")

    ts = [threading.Thread(target=w, args=(d,)) for d in (v1, v2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs

    inf = readers.scan_glob_union(spark, root, fmt="parquet")
    assert set(inf.columns) == {"event_id", "value", "props", "day"}
    assert inf.count() == 400
    # declared schema: old-vintage rows read props as NULL
    decl = readers.scan_glob_union(
        spark, root,
        schema="event_id BIGINT, value DOUBLE, props STRING, day STRING",
        fmt="parquet",
    )
    assert decl.filter("props IS NULL").count() == 200
    assert decl.filter("props = 'p'").count() == 200
    # partition pruning still prunes on the union schema
    pruned = inf.filter(inf.day == "2024-01-02")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan, plan[:800]
    assert pruned.count() == 100


def test_partition_direct_null_and_hostile_values(spark, tmp_path):
    """ADVICE r13 (writers.py): the direct-partition sink must not
    silently drop NULL-partition rows (``df[col] == None`` matches
    nothing), and path-hostile partition values ('/', '=', space,
    '%') must percent-encode into the Hive dir name and round-trip
    on read — raw interpolation wrote ``day=a/b`` as a nested dir
    the scan parsed as a different partition."""
    from etl_jobs_spark.sources import writers

    root = str(tmp_path / "tbl")
    rows = [
        (1, "plain"),
        (2, None),
        (3, "a/b"),
        (4, "k=v"),
        (5, "two words"),
        (6, "100%"),
    ]
    df = spark.createDataFrame(rows, "event_id BIGINT, day STRING")
    writers.sink_parquet_partitions_direct(df, root, "day")

    back = spark.read.parquet(root)
    got = {(r["event_id"], r["day"]) for r in back.collect()}
    # NULL partition rows land in __HIVE_DEFAULT_PARTITION__ and
    # read back as NULL, same as Spark's own partitionBy
    assert got == set(rows), got
    # the hostile values did NOT create nested/mis-parsed dirs
    import os

    dirs = sorted(os.listdir(root))
    assert "day=a%2Fb" in dirs and "day=k%3Dv" in dirs, dirs
    assert f"day={writers.HIVE_DEFAULT_PARTITION}" in dirs, dirs
    # and partition pruning still works on an encoded value
    assert back.filter(back.day == "a/b").count() == 1


def test_partition_direct_unicode_matches_spark_layout(spark, tmp_path):
    """ADVICE r14 (writers.py): non-ASCII partition values must stay
    RAW in the dir name, exactly like Spark's own partitionBy —
    %-encoding UTF-8 bytes made ``day=café`` read back as mojibake
    because unescapePathName decodes each %xx as one char."""
    import os

    from etl_jobs_spark.sources import writers

    rows = [(1, "café"), (2, "naïve/α"), (3, "日本語")]
    df = spark.createDataFrame(rows, "event_id BIGINT, day STRING")

    ours = str(tmp_path / "ours")
    writers.sink_parquet_partitions_direct(df, ours, "day")
    theirs = str(tmp_path / "theirs")
    df.write.partitionBy("day").parquet(theirs)

    # dir-name parity with Spark's writer, byte for byte
    ours_dirs = sorted(d for d in os.listdir(ours) if d.startswith("day="))
    theirs_dirs = sorted(
        d for d in os.listdir(theirs) if d.startswith("day=")
    )
    assert ours_dirs == theirs_dirs, (ours_dirs, theirs_dirs)
    assert "day=café" in ours_dirs, ours_dirs
    # and the values round-trip through Spark's reader
    got = {(r["event_id"], r["day"]) for r in spark.read.parquet(ours).collect()}
    assert got == set(rows), got
