"""The benchmark's workloads: closed-loop cycles of drains, merges and reads
against a fresh table, each operation checked against the prefix oracle.

Every workload runs the engine's shipped defaults. The one value set here
is deployment sizing: ``max_files_per_trigger`` of the runner (the table
keeps its default bucket count). A cycle is the unit of work; a run repeats
cycles until it has measured ``--seconds``.

Workloads (why each was chosen is in BENCHMARK.json):

* ``scheduled_read`` -- the reference's cron shape. Each epoch is one
  scheduled drop, drained by a fresh ``CdcStreamRunner.run_available_now()``
  and then read through the public ``LakeTable.read()``, at whatever L0
  depth the defaults leave. A forced full fold and reads of the compacted
  table end the cycle, so writes sit beside reads.
* ``cow_backfill`` -- the library batch API: ``merge_cdc_batch`` at its
  default copy-on-write mode, once per epoch, each followed by a read.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from stats import batch_visible_s

APP = "bench"
# deployment sizing: two feed files per micro-batch, so a drop of one epoch
# (four files) is two triggers
FILES_PER_TRIGGER = 2
READS_PER_DROP = 1                 # scheduled_read: reads after each drop
READS_COMPACTED = 2                # scheduled_read: reads after the fold
READS_PER_MERGE = 4                # cow_backfill
CHECK_GROUP = "perfbench-check"    # Spark job group of the untimed checks


class CheckFailed(AssertionError):
    """An operation's result disagrees with the oracle."""


@dataclass
class ReadSample:
    seconds: float
    amp_max: int
    amp_p50: float
    l0_files: int
    compacted: bool


@dataclass
class Recorder:
    """Samples of one cycle. Only operations that passed their check add a
    timing; a failed one adds to ``failed`` and nothing else."""
    attempted: int = 0
    failed: int = 0
    drains: list[tuple[int, float]] = field(default_factory=list)  # events, s
    visible: list[float] = field(default_factory=list)
    reads: list[ReadSample] = field(default_factory=list)
    folds: list[float] = field(default_factory=list)
    progress: list[dict[str, Any]] = field(default_factory=list)
    merges: list[Any] = field(default_factory=list)     # MergeMetrics
    tables: list[Any] = field(default_factory=list)
    feed_bytes: int = 0

    @property
    def ingest_eps(self) -> float | None:
        secs = sum(s for _, s in self.drains)
        return sum(e for e, _ in self.drains) / secs if secs else None

    def op(self, fn: Callable[[], Any]) -> Any:
        """Run one timed operation with its check; a raise is a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            raise


class ProgressLog:
    """A StreamingQueryListener's progress events, as plain dicts."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.events: list[dict[str, Any]] = []
        self._cond = threading.Condition()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with log._cond:
                    log.events.append({
                        "runId": str(p.runId), "batchId": p.batchId,
                        "timestamp": p.timestamp,
                        "numInputRows": p.numInputRows,
                        "durationMs": dict(p.durationMs)})
                    log._cond.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def since(self, mark: int, count: int, timeout: float = 30.0) -> list[dict]:
        """The ``count`` events after index ``mark``; the listener bus is
        asynchronous, so wait for them."""
        deadline = time.monotonic() + timeout
        with self._cond:
            while len(self.events) - mark < count:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise CheckFailed(
                        f"listener saw {len(self.events) - mark} of "
                        f"{count} progress events")
                self._cond.wait(left)
            return self.events[mark:mark + count]

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


@dataclass
class Ctx:
    spark: Any
    feed: Any               # feed.Feed
    run_dir: str
    progress_log: ProgressLog
    tracer: Any = None      # spans.Tracer while tracing
    _n: int = 0

    def fresh(self, tag: str) -> str:
        self._n += 1
        d = os.path.join(self.run_dir, f"{tag}-{self._n:03d}")
        os.makedirs(d)
        return d

    @contextlib.contextmanager
    def quiet(self):
        """Context for the benchmark's own checks: untraced, and tagged so
        the Spark job counters can leave them out."""
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", CHECK_GROUP)
        try:
            if self.tracer is not None:
                with self.tracer.suspended():
                    yield
            else:
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)


# ------------------------------------------------------------ operations

SILVER_COLS = ("repo", "path", "commit", "lang", "content")


def new_table(ctx: Ctx, tag: str):
    from pyspark.sql import types as T
    from etl_api_bigquery_spark.lake import LakeTable

    schema = T.StructType([T.StructField(c, T.StringType())
                           for c in SILVER_COLS])
    return LakeTable.create(ctx.spark, os.path.join(ctx.fresh(tag), "silver"),
                            schema, key_cols=["repo", "path"])


def verify(ctx: Ctx, table, last_epoch: int) -> None:
    """sha-verified replay match of the whole table against the oracle of
    epochs ``0..last_epoch`` (untimed)."""
    from etl_api_bigquery_spark.cdc.oracle import assert_replay_match

    with ctx.quiet():
        expected = ctx.spark.read.parquet(ctx.feed.oracle_dir(last_epoch))
        res = assert_replay_match(table.read(), expected)
    if res["total"] != ctx.feed.rows(last_epoch):
        raise CheckFailed(f"oracle rows {ctx.feed.rows(last_epoch)}, "
                          f"joined {res['total']}")


def drain(ctx: Ctx, rec: Recorder, table, feed_dir: str, ckpt: str,
          files_per_trigger: int, events: int, last_epoch: int,
          oracle: bool = True) -> None:
    """One ``run_available_now()`` on a new runner, then its checks;
    ``oracle=False`` skips only the sha comparison (set-up passes)."""
    from etl_api_bigquery_spark.streaming import CdcStreamRunner

    def run():
        runner = CdcStreamRunner(ctx.spark, table, feed_dir, ckpt,
                                 txn_app=APP,
                                 max_files_per_trigger=files_per_trigger)
        mark = len(ctx.progress_log.events)
        t0 = time.perf_counter()
        runner.run_available_now()
        secs = time.perf_counter() - t0
        prog = ctx.progress_log.since(mark, len(runner.progress))
        got = sum(int(p["numInputRows"]) for p in prog)
        if got != events:
            raise CheckFailed(f"drained {got} events, staged {events}")
        skips = sum(m.skipped_fence for m in runner.metrics)
        if skips:
            raise CheckFailed(f"{skips} fence skips on a fresh table")
        with ctx.quiet():
            vis = batch_visible_s(prog, table.history(), APP)
        if oracle:
            verify(ctx, table, last_epoch)
        rec.drains.append((events, secs))
        rec.visible.extend(vis.values())
        rec.progress.extend(prog)
        rec.merges.extend(runner.metrics)
    rec.op(run)


def merge(ctx: Ctx, rec: Recorder, table, epoch: int,
          oracle: bool = True) -> None:
    """One ``merge_cdc_batch`` call at its default mode (copy-on-write),
    then its checks; ``oracle=False`` skips only the sha comparison."""
    from etl_api_bigquery_spark.cdc.generator import feed_schema
    from etl_api_bigquery_spark.lake import merge as merge_mod

    def run():
        events = ctx.spark.read.schema(feed_schema()).parquet(
            *ctx.feed.files(epoch))
        wall0 = time.time()
        t0 = time.perf_counter()
        m = merge_mod.merge_cdc_batch(table, events, batch_id=epoch,
                                      txn_app=APP)
        secs = time.perf_counter() - t0
        if m.skipped_fence:
            raise CheckFailed("fence skip on a fresh table")
        with ctx.quiet():
            commits = [h["commit_ts_ms"] for h in table.history()
                       if h["properties"].get("txn_batch") == epoch]
        if len(commits) != 1:
            raise CheckFailed(f"{len(commits)} commits carry batch {epoch}")
        if oracle:
            verify(ctx, table, epoch)
        rec.drains.append((ctx.feed.events(epoch), secs))
        rec.visible.append(commits[0] / 1000.0 - wall0)
        rec.merges.append(m)
    rec.op(run)


def l0_state(table) -> tuple[int, float, int]:
    """(max, median) per-bucket read amplification and the L0 file count."""
    amp = table.bucket_read_amplification()
    per_bucket = [amp.get(b, 0) for b in range(table.num_buckets)]
    l0 = sum(1 for e in table.snapshot().files.values() if e.kind == "delta")
    return max(per_bucket), statistics.median(per_bucket), l0


def read(ctx: Ctx, rec: Recorder, table, last_epoch: int,
         compacted: bool = False) -> None:
    """One public ``LakeTable.read()`` forced with a noop sink; its row
    count, observed on the same pass, must equal the prefix oracle's."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    def run():
        with ctx.quiet():
            amp_max, amp_p50, l0 = l0_state(table)
        obs = Observation()
        t0 = time.perf_counter()
        (table.read().observe(obs, F.count(F.lit(1)).alias("rows"))
         .write.format("noop").mode("overwrite").save())
        secs = time.perf_counter() - t0
        rows = obs.get["rows"]
        if rows != ctx.feed.rows(last_epoch):
            raise CheckFailed(f"read {rows} rows, oracle "
                              f"{ctx.feed.rows(last_epoch)}")
        rec.reads.append(ReadSample(secs, amp_max, amp_p50, l0, compacted))
    rec.op(run)


def fold(ctx: Ctx, rec: Recorder, table, last_epoch: int) -> None:
    """A forced full ``compact_deltas``, then the sha re-check."""
    def run():
        t0 = time.perf_counter()
        table.compact_deltas(buckets=list(range(table.num_buckets)))
        secs = time.perf_counter() - t0
        verify(ctx, table, last_epoch)
        rec.folds.append(secs)
    rec.op(run)


# ---------------------------------------------------------------- cycles

def link_drop(feed, epoch: int, drop: str) -> None:
    """Deliver one epoch's files into a drop directory (untimed)."""
    for src in feed.files(epoch):
        os.link(src, os.path.join(drop, os.path.basename(src)))


def scheduled_read(ctx: Ctx, rec: Recorder) -> None:
    """One drop per epoch, each drained by a fresh ``run_available_now()``
    and followed by repeated public reads; then a forced full fold and
    reads of the compacted table."""
    feed = ctx.feed
    table = new_table(ctx, "scheduled")
    rec.tables.append(table)
    base = os.path.dirname(table.location)
    drop, ckpt = os.path.join(base, "drop"), os.path.join(base, "ckpt")
    os.makedirs(drop)
    for e in range(feed.epochs):
        link_drop(feed, e, drop)
        drain(ctx, rec, table, drop, ckpt, FILES_PER_TRIGGER,
              feed.events(e), e)
        for _ in range(READS_PER_DROP):
            read(ctx, rec, table, e)
    last = feed.epochs - 1
    rec.feed_bytes = feed.bytes(last)
    fold(ctx, rec, table, last)
    for _ in range(READS_COMPACTED):
        read(ctx, rec, table, last, compacted=True)


def cow_backfill(ctx: Ctx, rec: Recorder) -> None:
    """``merge_cdc_batch`` at its default copy-on-write mode, once per
    epoch."""
    feed = ctx.feed
    table = new_table(ctx, "cow")
    rec.tables.append(table)
    for e in range(feed.epochs):
        merge(ctx, rec, table, e)
        for _ in range(READS_PER_MERGE):
            read(ctx, rec, table, e)
    rec.feed_bytes = feed.bytes(feed.epochs - 1)


WORKLOADS: dict[str, Callable[[Ctx, Recorder], None]] = {
    "scheduled_read": scheduled_read,
    "cow_backfill": cow_backfill,
}


def warm_passes(ctx: Ctx, workload: str, n: int) -> list[float]:
    """Set-up: ``n`` passes through the workload's API path on one throwaway
    table. Pass ``k`` drains (or merges) epoch ``k`` of the feed into it and
    reads it once, so later passes meet an existing table, as the measured
    cycle does. Returns each pass's seconds in those calls. The passes are
    not measured, so they skip the sha comparison; the cheap checks (event
    and row counts, fence skips) still raise on failure."""
    table = new_table(ctx, "warm")
    base = os.path.dirname(table.location)
    drop, ckpt = os.path.join(base, "drop"), os.path.join(base, "ckpt")
    os.makedirs(drop)
    passes = []
    for e in range(n):
        rec = Recorder()
        if workload == "cow_backfill":
            merge(ctx, rec, table, e, oracle=False)
        else:
            link_drop(ctx.feed, e, drop)
            drain(ctx, rec, table, drop, ckpt, FILES_PER_TRIGGER,
                  ctx.feed.events(e), e, oracle=False)
        read(ctx, rec, table, e)
        passes.append(sum(s for _, s in rec.drains)
                      + sum(r.seconds for r in rec.reads))
    shutil.rmtree(base, ignore_errors=True)
    return passes
