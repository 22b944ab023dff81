"""The entry module's one streaming harness (``_run_stream``): the rule
by which its rows land each micro-batch, its batch-count assertion,
and that a streaming row leaves no session state behind; plus the
shared events ``ts`` rule and the one-projection ``_round_doubles``."""

from __future__ import annotations

import ast
import datetime
import os
import pathlib
import re
import tempfile

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from pd_utils_spark.utils import quote

REPO = pathlib.Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"

FIRST = [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 4.0)]
SECOND = [(4, "a", 8.0), (5, "c", 16.0)]
SCHEMA = "id bigint, k string, v double"


def _run(spark, query, output_mode, batches=2):
    """``query`` over a two-file stream (two micro-batches), through
    the harness and the rows' sink."""
    files = [spark.createDataFrame(rows, SCHEMA) for rows in (FIRST, SECOND)]
    return entry._run_stream(
        spark,
        "harness_test",
        lambda base: query(entry._file_stream(spark, f"{base}/src", *files)),
        lambda sdf, base: entry._sink(sdf, base, output_mode),
        batches,
    )


def _per_key(df):
    return df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_complete_mode_output_is_the_last_emission(spark):
    out = _run(spark, _per_key, "complete")
    batch = _per_key(spark.createDataFrame(FIRST + SECOND, SCHEMA))
    assert _rows(out, "k", "n", "s") == _rows(batch, "k", "n", "s")


def test_update_mode_appends_every_emission(spark):
    out = _run(spark, _per_key, "update")
    # batch 1 emits keys a, b; batch 2 emits a, c
    assert out.count() == 4
    latest = out.groupBy("k").agg(
        F.max("n").alias("n"), F.max_by("s", "n").alias("s")
    )
    batch = _per_key(spark.createDataFrame(FIRST + SECOND, SCHEMA))
    assert _rows(latest, "k", "n", "s") == _rows(batch, "k", "n", "s")


def test_append_mode_output_is_the_union_of_both_files(spark):
    out = _run(spark, lambda sdf: sdf.filter(F.col("v") > 1.0), "append")
    expected = [r for r in FIRST + SECOND if r[2] > 1.0]
    assert _rows(out, "id", "k", "v") == sorted(expected)


def test_batch_count_mismatch_names_the_row_and_the_count(spark):
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(AssertionError, match=r"^harness_test .* ran 2$"):
        _run(spark, lambda sdf: sdf, "append", batches=1)
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions
    assert not _temp_dirs("harness_test")


def _temp_dirs(name):
    prefix = f"pus_{name}_"
    return [d for d in os.listdir(tempfile.gettempdir()) if d.startswith(prefix)]


@pytest.mark.parametrize(
    "row",
    [
        "streaming_sessionize",
        "streaming_exact_dedup",
        "streaming_near_dedup",
        "streaming_enrich",
        "streaming_interval_join",
        "streaming_running_agg",
    ],
)
def test_row_leaves_no_session_state(spark, row, tmp_path, monkeypatch):
    # the row's temp dirs go under this test's own dir, so another
    # process running the same row cannot leave dirs that look like ours
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    tables = sorted(t.name for t in spark.catalog.listTables())
    active = sorted(q.id for q in spark.streams.active)
    out = entry.queries()[row](spark, SF)
    assert out.count() > 0  # the pinned read-back outlives its temp dir
    assert sorted(t.name for t in spark.catalog.listTables()) == tables
    assert sorted(q.id for q in spark.streams.active) == active
    assert not _temp_dirs(row)


def test_events_ts_rule_maps_both_branches_to_the_same_instants(spark):
    """Spark <=4.0 (legacy conf on) reads events.ts as bigint nanos,
    Spark >=4.1 as timestamp_ntz: both map to the same instants."""
    micros = [0, 1_600_000_000_123_456, 1_700_000_000_000_001]
    nanos = spark.createDataFrame(
        [(i, m * 1000) for i, m in enumerate(micros)], "event_id bigint, ts bigint"
    )
    epoch = datetime.datetime(1970, 1, 1)
    ntz = spark.createDataFrame(
        [(i, epoch + datetime.timedelta(microseconds=m)) for i, m in enumerate(micros)],
        "event_id bigint, ts timestamp_ntz",
    )
    got = [
        entry._events_ts(spark, lambda frame=frame: frame)
        for frame in (nanos, ntz)
    ]
    for ev in got:
        assert dict(ev.dtypes)["ts"] == "timestamp"
        assert _rows(ev, "event_id", F.unix_micros("ts")) == list(enumerate(micros))


def test_round_doubles_is_one_projection(spark):
    names = [f"d{i}" for i in range(18)] + ["a b", "x`y"]
    df = spark.range(3).selectExpr(
        "id",
        *(f"CAST(id AS DOUBLE) / 3 AS {quote(c)}" for c in names[:-1]),
        f"CAST(id / 3 AS FLOAT) AS {quote(names[-1])}",
    )

    def projects(frame):
        plan = frame._jdf.queryExecution().analyzed().toString()
        return len(re.findall(r"^[\s+\-:|]*Project \[", plan, re.M))

    out = entry._round_doubles(df)
    assert projects(out) == projects(df) + 1
    assert out.columns == df.columns
    assert set(dict(out.dtypes).values()) == {"bigint", "double"}
    row = out.filter("id = 1").first()
    assert row["d0"] == row["a b"] == row["x`y"] == 0.333333


def test_only_the_harness_streams():
    """``_run_stream``, ``_file_stream`` and ``_stream_t`` are the only
    entry-module code that builds, starts or drains a stream."""
    harness = {"_run_stream", "_file_stream", "_stream_t"}
    banned = {"readStream", "writeStream", "awaitTermination", "queryName"}
    tree = ast.parse((REPO / "__spark_entry__.py").read_text())
    found = [
        f"__spark_entry__.py:{node.lineno} .{node.attr}"
        for top in tree.body
        if getattr(top, "name", None) not in harness
        for node in ast.walk(top)
        if isinstance(node, ast.Attribute) and node.attr in banned
    ]
    assert found == []
