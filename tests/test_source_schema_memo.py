"""The file sources' schema memo (operators/sources.py ``read_inferred``):
a second read of an unchanged input skips Spark's schema-inference job
and yields the same schema (nullability included) and rows as a fresh
inference; any change to the files, the reader options or the session
confs that steer inference makes the next read infer again."""

from __future__ import annotations

import contextlib
import itertools
import os
import time

import pytest

from tuktu_spark.flow import run_flow
from tuktu_spark.operators import make_source
from tuktu_spark.tables import listing_signature, schema_memo_of

_groups = itertools.count()


@contextlib.contextmanager
def jobs_launched(spark):
    """Collect the ids of the Spark jobs the body launches (by job group)."""
    sc = spark.sparkContext
    group = f"schema-memo-test-{next(_groups)}"
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def age(path, seconds=60.0):
    """Set the mtime of ``path`` and every file under it ``seconds`` back,
    past the racy window, as if the input was written earlier."""
    t = time.time_ns() - int(seconds * 1e9)
    targets = [path] if os.path.isfile(path) else [
        os.path.join(d, f) for d, _, files in os.walk(path) for f in files
    ]
    for p in targets:
        os.utime(p, ns=(t, t))


def rows(df):
    return sorted(map(repr, df.collect()))


def read_twice(spark, name, config):
    """First read (infers, stores), then second read (memo hit): returns
    the second frame and the jobs its build launched."""
    make_source(spark, name, config)
    with jobs_launched(spark) as ids:
        df = make_source(spark, name, config)
    return df, ids


def test_second_run_flow_launches_no_build_jobs(spark, tmp_path):
    for name in ("a", "b"):
        spark.range(5).selectExpr("id", f"id * 2 AS {name}").write.parquet(
            str(tmp_path / name)
        )
        age(str(tmp_path / name))
    flow = {
        "generators": [
            {"id": "ga", "name": "parquet", "config": {"path": f"{tmp_path}/a"}, "next": ["j"]},
            {"id": "gb", "name": "parquet", "config": {"path": f"{tmp_path}/b"}, "next": ["j"]},
        ],
        "processors": [{"id": "j", "name": "join", "config": {"on": ["id"]}, "next": []}],
    }
    with jobs_launched(spark) as first:
        out1 = run_flow(spark, flow)
    with jobs_launched(spark) as second:
        out2 = run_flow(spark, flow)
    assert len(first) == 2  # one inference job per source
    assert second == []
    assert out2["j"].schema == out1["j"].schema
    assert rows(out2["j"]) == rows(out1["j"])


@pytest.mark.parametrize(
    "fmt, options",
    [
        ("partitioned parquet", {}),
        ("json", {}),
        ("csv", {"header": True}),
        ("csv", {"header": False}),
    ],
)
def test_memo_hit_equals_fresh_inference(spark, tmp_path, fmt, options):
    if fmt == "partitioned parquet":
        path = str(tmp_path / "part")
        spark.createDataFrame(
            [(1, "a", 1), (2, "b", 2), (3, None, 1)], "x long, s string, p int"
        ).write.partitionBy("p").parquet(path)
        name, reader = "parquet", spark.read.parquet
    elif fmt == "json":
        path = str(tmp_path / "j.json")
        with open(path, "w") as f:
            f.write('{"a": 1, "b": "x"}\n{bad\n{"a": 2}\n')
        name, reader = "json", spark.read.json
    else:
        path = str(tmp_path / "c.csv")
        with open(path, "w") as f:
            f.write("h1,h2\n1,x\n2,y\n")
        name = "csv"
        header = str(options["header"]).lower()

        def reader(p):
            return spark.read.options(header=header, inferSchema="true").csv(p)

    age(path)
    df, ids = read_twice(spark, name, {"path": path, **options})
    fresh = reader(path)
    assert ids == []
    assert df.schema == fresh.schema
    assert [f.nullable for f in df.schema] == [f.nullable for f in fresh.schema]
    assert rows(df) == rows(fresh)
    if fmt == "partitioned parquet":
        assert dict(df.dtypes)["p"] == "int"
    if fmt == "json":
        assert "_corrupt_record" in df.columns
        assert [r["_corrupt_record"] for r in df.collect()].count("{bad") == 1


def test_memo_hit_on_nanosecond_timestamps(spark, sf_dir):
    """The corpus' events.ts is parquet TIMESTAMP(NANOS), whose Spark type
    depends on a session conf: the reused schema must read it the same."""
    path = f"{sf_dir}/events.parquet"
    df, ids = read_twice(spark, "parquet", {"path": path})
    fresh = spark.read.parquet(path)
    assert ids == []
    assert df.schema == fresh.schema
    assert rows(df) == rows(fresh)


def test_changed_files_are_seen_on_the_next_read(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    age(path, 60)
    df, ids = read_twice(spark, "parquet", {"path": path})
    assert ids == [] and df.columns == ["id"]

    # a new file: its rows are read, and the listing change re-infers
    spark.range(3, 5).write.mode("append").parquet(path)
    age(path, 50)
    assert make_source(spark, "parquet", {"path": path}).count() == 5

    # a rewrite with an added column: the next read has the column
    spark.range(3).selectExpr("id", "id + 1 AS extra").write.mode("overwrite").parquet(path)
    age(path, 40)
    df = make_source(spark, "parquet", {"path": path})
    assert df.columns == ["id", "extra"]
    assert rows(df) == rows(spark.read.parquet(path))


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # un-annotated BYTE_ARRAY (no Spark schema in the footer): the file
    # kind binaryAsString exists for
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab"], pa.binary())}), path)
    age(path)
    _, ids = read_twice(spark, "parquet", {"path": path})
    assert ids == []
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        df = make_source(spark, "parquet", {"path": path})
        assert dict(df.dtypes)["b"] == "string"
    finally:
        spark.conf.set(key, before)
    assert dict(make_source(spark, "parquet", {"path": path}).dtypes)["b"] == "binary"


def test_recently_modified_input_is_not_stored(spark, tmp_path):
    path = str(tmp_path / "fresh.json")
    with open(path, "w") as f:
        f.write('{"a": 1}\n')
    memo = schema_memo_of(spark)
    _, ids = read_twice(spark, "json", {"path": path})
    assert len(ids) >= 1  # inferred again: the file is inside the racy window
    assert listing_signature(spark, path) is None
    assert not any(k[1] == path for k in memo)


def test_glob_and_remote_paths_skip_the_memo(spark, tmp_path):
    path = str(tmp_path / "g")
    spark.range(3).write.parquet(path)
    age(path)
    glob = f"{path}/*.parquet"
    assert listing_signature(spark, glob) is None
    # Spark reads glob characters as a pattern even when a file has that name
    literal = tmp_path / "lit[1]"
    literal.mkdir()
    (literal / "f.json").write_text('{"a": 1}\n')
    age(str(literal))
    assert listing_signature(spark, str(literal)) is None
    _, ids = read_twice(spark, "parquet", {"path": glob})
    assert len(ids) >= 1
    assert listing_signature(spark, "hdfs://namenode:8020/data/t") is None
    assert listing_signature(spark, "s3a://bucket/t") is None
    assert listing_signature(spark, "file://otherhost/data/t") is None
    assert listing_signature(spark, str(tmp_path / "missing")) is None
    # the local forms of one path sign the same listing
    local = listing_signature(spark, path)
    assert local is not None
    assert listing_signature(spark, f"file:{path}") == local
    assert listing_signature(spark, f"file://{path}") == local
