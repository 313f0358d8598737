"""Reads over delta (L0) files: the bucket-local LWW kernel against the batch
oracle (``cdc.oracle``) — NULL keys, same-LSN ties, the tombstone guard,
files of older schemas, time travel, mixed and bucket-pure L0 side by side,
and the tombstones a fold needs."""

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_api_bigquery_spark.cdc import change_feed, expected_final_state
from etl_api_bigquery_spark.cdc.oracle import assert_replay_match
from etl_api_bigquery_spark.lake import LakeTable
from etl_api_bigquery_spark.lake.merge import merge_cdc_batch
from etl_api_bigquery_spark.lake.table import MIXED_BUCKET

SILVER = T.StructType([T.StructField(c, T.StringType())
                       for c in ("repo", "path", "commit", "lang", "content")])
EVT = T.StructType([T.StructField("lsn", T.LongType()),
                    T.StructField("epoch", T.LongType()),
                    T.StructField("op", T.StringType())]
                   + list(SILVER.fields))


def make_table(spark, d, buckets=4):
    return LakeTable.create(spark, os.path.join(d, "l0"), SILVER,
                            key_cols=["repo", "path"], num_buckets=buckets)


def events(spark, rows, epoch=0):
    """rows: (lsn, op, repo, path, content), in one partition, so that a
    raw write with ``l0_groups=1`` makes one mixed file."""
    return spark.createDataFrame(
        [(lsn, epoch, op, repo, path, f"c{lsn}", "py", content)
         for lsn, op, repo, path, content in rows], schema=EVT).coalesce(1)


def raw(t, batch, batch_id, l0_groups):
    merge_cdc_batch(t, batch, batch_id, "l0", mode="raw",
                    auto_compact_deltas=10**6, l0_groups=l0_groups)


def rows(df, cols=("repo", "path", "content")):
    """The rows as sorted tuples, NULL first."""
    return sorted((tuple(r) for r in df.select(*cols).collect()),
                  key=lambda r: [(v is not None, v) for v in r])


def kinds(t):
    files = t.snapshot().files.values()
    return ({e.kind for e in files},
            {e.bucket == MIXED_BUCKET for e in files if e.kind == "delta"})


def test_null_keys_match_oracle(spark, tmp_table_dir):
    """NULL key parts group as one key (the bucket_expr sentinel rule),
    across mixed and bucket-pure L0 files."""
    t = make_table(spark, tmp_table_dir)
    b0 = events(spark, [(1, "I", "r1", None, "a1"), (2, "I", None, None, "n2"),
                        (3, "I", "r1", "p", "p3"), (4, "I", None, "p", "x4")])
    b1 = events(spark, [(5, "U", "r1", None, "a5"), (6, "D", None, "p", None),
                        (7, "U", None, None, "n7")], epoch=1)
    raw(t, b0, 0, 1)
    raw(t, b1, 1, 4)
    assert kinds(t) == ({"delta"}, {True, False})
    expected = expected_final_state(b0.unionByName(b1))
    assert rows(t.read()) == rows(expected)
    assert rows(t.read()) == [(None, None, "n7"), ("r1", None, "a5"),
                              ("r1", "p", "p3")]


def test_same_lsn_update_beats_delete(spark, tmp_table_dir):
    """At equal LSN the U row outranks the D row (order by _op desc), in
    either arrival order and within one file."""
    t = make_table(spark, tmp_table_dir)
    raw(t, events(spark, [(5, "D", "r", "a", None), (5, "U", "r", "c", "u")]),
        0, 1)
    raw(t, events(spark, [(5, "U", "r", "a", "u"), (5, "D", "r", "c", None),
                          (6, "U", "r", "b", "x"), (6, "D", "r", "b", None)],
                  epoch=1), 1, 1)
    assert rows(t.read()) == [("r", "a", "u"), ("r", "b", "x"),
                              ("r", "c", "u")]


def test_older_event_after_delete_stays_deleted(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    b0 = events(spark, [(1, "I", "r", "a", "v1"), (6, "D", "r", "a", None),
                        (2, "I", "r", "b", "v2")])
    b1 = events(spark, [(5, "U", "r", "a", "stale")], epoch=1)
    raw(t, b0, 0, 4)
    raw(t, b1, 1, 1)
    assert_replay_match(t.read(), expected_final_state(b0.unionByName(b1)))
    assert rows(t.read()) == [("r", "b", "v2")]


def test_older_schema_delta_conformed(spark, tmp_table_dir):
    """A delta file written under schema 0 reads through schema 2: the added
    column is NULL and the int column widens to long."""
    t = LakeTable.create(
        spark, os.path.join(tmp_table_dir, "evo"),
        T.StructType(list(SILVER.fields)
                     + [T.StructField("size", T.IntegerType())]),
        key_cols=["repo", "path"], num_buckets=4)
    b0 = events(spark, [(1, "I", "r", "a", "v1"), (2, "I", "r", "b", "v2")]
                ).withColumn("size", F.lit(7).cast("int"))
    raw(t, b0, 0, 1)
    b1 = (events(spark, [(3, "U", "r", "b", "v3")], epoch=1)
          .withColumn("size", F.lit(2**40).cast("long"))
          .withColumn("stars", F.lit(5).cast("long")))
    raw(t, b1, 1, 4)
    snap = t.snapshot()
    assert {e.schema_id for e in snap.files.values()} == {0, snap.schema_id}
    assert snap.schema_id > 0
    got = t.read()
    assert dict(got.dtypes)["size"] == "bigint"
    assert rows(got, ("path", "content", "size", "stars")) == [
        ("a", "v1", 7, None), ("b", "v3", 2**40, 5)]


def test_time_travel_over_l0(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    feed = change_feed(spark, n_events=3000, n_keys=150, n_epochs=3).cache()
    versions = []
    for e in range(3):
        raw(t, feed.filter(F.col("epoch") == e), e, 1 if e == 1 else 4)
        versions.append(t.current_version())
    for e, v in enumerate(versions):
        assert_replay_match(t.read(version=v),
                            expected_final_state(feed.filter(F.col("epoch") <= e)))
    feed.unpersist()


def test_mixed_and_pure_l0_over_base(spark, tmp_table_dir):
    """Base files, mixed L0, bucket-pure L0 and grouped L0 in one snapshot;
    every bucket-pruned read returns exactly its bucket's resolved rows."""
    t = make_table(spark, tmp_table_dir, buckets=8)
    feed = change_feed(spark, n_events=6000, n_keys=300, n_epochs=4).cache()
    merge_cdc_batch(t, feed.filter("epoch = 0"), 0, "l0")        # cow base
    for e, g in ((1, 1), (2, 8), (3, 2)):
        raw(t, feed.filter(F.col("epoch") == e), e, g)
    assert kinds(t) == ({"base", "delta"}, {True, False})
    expected = expected_final_state(feed)
    assert_replay_match(t.read(), expected)
    full = t.read(with_bucket=True)
    for b in range(8):
        pruned = t.read(buckets=[b], with_bucket=True)
        assert rows(pruned, ("repo", "path", "_lsn", "_bucket")) == rows(
            full.filter(F.col("_bucket") == b),
            ("repo", "path", "_lsn", "_bucket"))
    feed.unpersist()


def test_with_bucket_keeps_tombstones_for_folds(spark, tmp_table_dir):
    """with_bucket=True returns the winning D row (its LSN and bucket), so a
    fold keeps it and it still blocks an older event that arrives later."""
    t = make_table(spark, tmp_table_dir)
    raw(t, events(spark, [(1, "I", "r", "a", "v1"), (6, "D", "r", "a", None),
                          (2, "I", "r", "b", "v2")]), 0, 1)
    full = t.read(with_bucket=True)
    tomb = full.filter("_op = 'D'").collect()
    assert [(r.path, r._lsn) for r in tomb] == [("a", 6)]
    want = t.spark.createDataFrame([("r", "a")], "repo string, path string")
    assert tomb[0]._bucket == want.select(t.bucket_expr()).first()[0]
    assert "_op" not in t.read().columns
    t.compact_deltas(buckets=list(range(4)))
    assert kinds(t)[0] == {"base"}
    assert t.read(with_bucket=True).filter("_op = 'D'").count() == 1
    raw(t, events(spark, [(5, "U", "r", "a", "stale")], epoch=1), 1, 4)
    assert rows(t.read()) == [("r", "b", "v2")]
