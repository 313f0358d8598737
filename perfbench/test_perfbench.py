"""Tests of the benchmark itself: its statistics, its trace arithmetic and
its correctness gate. Run with ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402
from spans import Tracer  # noqa: E402


# ------------------------------------------------------------ percentiles

def test_tail_is_highest_percentile_with_ten_beyond():
    xs = list(range(1, 41))                      # 40 samples
    assert stats.tail(xs)[0] == 75.0             # 10 beyond p75, 4 beyond p90
    assert stats.tail(range(100))[0] == 90.0     # 10 beyond p90, 5 beyond p95
    assert stats.tail(range(200))[0] == 95.0
    assert stats.tail(range(39)) is None         # not even p75


def test_percentile_refuses_unsupported_tail():
    with pytest.raises(ValueError, match="p75"):
        stats.percentile(range(39), 75)
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    assert stats.percentile([3.0], 50) == 3.0    # the median always reports
    assert stats.percentile(range(40), 75) == pytest.approx(29.25)


def test_summarize_reports_refusal_and_count():
    s = stats.summarize([0.1] * 12, "s")
    assert s == {"unit": "s", "n": 12, "p50": 0.1, "tail": "unsupported"}
    assert "p75" in stats.summarize([0.1] * 40, "s")


# -------------------------------------------------------------- self time

def test_self_time_counts_overlapping_children_once():
    # parent [0, 10]; children [1, 4] and [3, 6] overlap on [3, 4]
    assert stats.self_time(0, 10, [(1, 4), (3, 6)]) == pytest.approx(5.0)


def test_self_time_clips_children_to_parent():
    # a child that starts before and one that outlives the parent
    assert stats.self_time(2, 10, [(0, 3), (9, 15)]) == pytest.approx(6.0)
    assert stats.self_time(0, 10, [(2, 5), (2, 5), (4, 8)]) == pytest.approx(4.0)
    assert stats.self_time(0, 10, []) == pytest.approx(10.0)


def test_tracer_self_time_ignores_linked_worker_spans():
    tr = Tracer()
    tr._wrap_submit()

    def fold():
        with tr.span("fold"):
            pass

    try:
        with ThreadPoolExecutor(1, thread_name_prefix="lake-maint") as pool:
            with tr.span("merge"):
                with tr.span("snapshot"):
                    pass
                pool.submit(fold).result()
    finally:
        tr.uninstall()
    merge = tr.named("merge")[0]
    maint = tr.named("lake.table.maintenance")[0]
    assert maint.parent == merge.id                 # linked to its scheduler
    assert maint.thread.startswith("lake-maint")
    assert tr.named("fold")[0].parent == maint.id
    assert tr.self_time(merge) == pytest.approx(
        (merge.end - merge.start) - tr.total("snapshot"))
    assert tr.named("merge", "foreground") == [merge]
    assert tr.named("lake.table.maintenance", "foreground") == []


def test_tracer_suspended_records_nothing():
    tr = Tracer()
    with tr.suspended():
        with tr.span("check"):
            pass
    assert tr.spans == []


# --------------------------------------------------------- batch visible

def _progress(batch, ts):
    return {"batchId": batch, "timestamp": ts}


def _commit(batch, ms, app="bench"):
    return {"properties": {"txn_app": app, "txn_batch": batch},
            "commit_ts_ms": ms}


def test_batch_visible_joins_by_batch_id():
    base = stats.progress_ts_ms("2026-01-01T00:00:00.000Z")
    progress = [_progress(0, "2026-01-01T00:00:00.000Z"),
                _progress(1, "2026-01-01T00:00:01.000Z")]
    # batch 0's async commit lands at 1.4 s, during batch 1's trigger, and
    # after batch 1's own trigger start; history order is commit order
    history = [{"properties": {}, "commit_ts_ms": base},      # create
               _commit(0, base + 1400),
               _commit(7, base + 1500, app="other"),
               _commit(1, base + 2100)]
    vis = stats.batch_visible_s(progress, history, "bench")
    assert vis == {0: pytest.approx(1.4), 1: pytest.approx(1.1)}


def test_batch_visible_fails_on_a_lost_batch():
    progress = [_progress(0, "2026-01-01T00:00:00.000Z")]
    with pytest.raises(LookupError, match="batch 0"):
        stats.batch_visible_s(progress, [_commit(0, 1, app="other")], "bench")


def test_progress_timestamp_parses_utc_milliseconds():
    assert stats.progress_ts_ms("1970-01-01T00:00:01.234Z") == 1234


# ------------------------------------------------- the correctness gate

@pytest.fixture(scope="module")
def spark():
    from etl_api_bigquery_spark.session import get_spark
    s = get_spark(app_name="perfbench-tests", master="local[2]",
                  shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def tiny_feed(spark, tmp_path_factory):
    import feed
    return feed.stage(spark, str(tmp_path_factory.mktemp("feeds")), seed=3,
                      events=3000, keys=400, epochs=2, files_per_epoch=2)


def test_pandas_oracle_matches_engine_reference(spark, tiny_feed):
    from etl_api_bigquery_spark.cdc import expected_final_state
    from etl_api_bigquery_spark.cdc.generator import feed_schema
    from etl_api_bigquery_spark.cdc.oracle import assert_replay_match

    for e in range(tiny_feed.epochs):
        files = [p for k in range(e + 1) for p in tiny_feed.files(k)]
        ref = expected_final_state(
            spark.read.schema(feed_schema()).parquet(*files))
        ours = spark.read.parquet(tiny_feed.oracle_dir(e))
        assert assert_replay_match(ours, ref)["total"] == tiny_feed.rows(e)


def _ctx(spark, tiny_feed, tmp_path):
    import workloads as W
    return W.Ctx(spark, tiny_feed, str(tmp_path), W.ProgressLog(spark))


def test_matching_merge_is_timed(spark, tiny_feed, tmp_path):
    import workloads as W
    ctx = _ctx(spark, tiny_feed, tmp_path)
    rec = W.Recorder()
    table = W.new_table(ctx, "ok")
    W.merge(ctx, rec, table, 0)
    W.read(ctx, rec, table, 0)
    ctx.progress_log.close()
    assert (rec.attempted, rec.failed) == (2, 0)
    assert len(rec.drains) == 1 and len(rec.reads) == 1


def test_mismatched_table_is_a_failure_not_a_number(spark, tiny_feed,
                                                    tmp_path):
    import workloads as W
    ctx = _ctx(spark, tiny_feed, tmp_path)
    rec = W.Recorder()
    table = W.new_table(ctx, "bad")
    # a row the feed never wrote: the table no longer matches the oracle
    table.append(spark.createDataFrame(
        [("repo_x", "src/x.py", "c", "py", "not in the feed")],
        "repo string, path string, commit string, lang string, "
        "content string"))
    with pytest.raises(AssertionError, match="mismatch"):
        W.merge(ctx, rec, table, 0)
    with pytest.raises(W.CheckFailed, match="rows"):
        W.read(ctx, rec, table, 0)
    ctx.progress_log.close()
    assert (rec.attempted, rec.failed) == (2, 2)
    assert rec.drains == [] and rec.visible == [] and rec.reads == []
    assert rec.ingest_eps is None
