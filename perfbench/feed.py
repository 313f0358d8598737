"""Feed staging and the prefix oracle, cached on disk per seed and shape.

One staged feed serves every workload of a seed: ``EPOCHS`` epochs of
``FILES_PER_EPOCH`` parquet files each, written by the engine's own
``cdc.generator`` (``change_feed`` + ``write_feed_as_epoch_files``). For
each epoch prefix ``0..k`` the expected silver state and its row count are
computed at staging time, so the check after any drop or merge compares
against a stored answer. ``run.py`` stages in its own session, outside
both ``setup_s`` and the measured window; a later run with the same seed
and shape reuses the cached feed.

The expected state is replayed here with pandas, not with the engine's
``cdc.oracle.expected_final_state``: the answer key shares no code with the
system under test, and it costs no Spark job per prefix.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

# feed shape; the cache key includes every value
EPOCH_EVENTS = 15_000
EPOCHS = 2
EVENTS = EPOCH_EVENTS * EPOCHS
KEYS = 6_000
FILES_PER_EPOCH = 4


@dataclass(frozen=True)
class Feed:
    root: str
    manifest: dict

    @property
    def dir(self) -> str:
        """Directory holding only the epoch parquet files."""
        return os.path.join(self.root, "feed")

    @property
    def epochs(self) -> int:
        return len(self.manifest["files"])

    def files(self, epoch: int) -> list[str]:
        return [os.path.join(self.dir, f) for f in self.manifest["files"][epoch]]

    def events(self, epoch: int) -> int:
        return self.manifest["events"][epoch]

    def oracle_dir(self, last_epoch: int) -> str:
        return os.path.join(self.root, "oracle", f"{last_epoch:05d}")

    def rows(self, last_epoch: int) -> int:
        """Expected silver row count after epochs ``0..last_epoch``."""
        return self.manifest["rows"][last_epoch]

    def bytes(self, last_epoch: int) -> int:
        """Feed parquet bytes of epochs ``0..last_epoch``."""
        return sum(os.path.getsize(p) for e in range(last_epoch + 1)
                   for p in self.files(e))


def parquet_rows(paths: list[str]) -> int:
    """Row count from the parquet footers, without a Spark job."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def replay_oracle(paths: list[str]):
    """The reference replay of a feed prefix, as a pandas DataFrame of the
    silver columns: per ``(repo, path)`` the event with the highest ``lsn``
    survives, and a key whose surviving event is a delete is absent."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    events = pa.concat_tables([pq.read_table(p) for p in paths]).to_pandas()
    last = (events.sort_values("lsn", kind="stable")
            .drop_duplicates(["repo", "path"], keep="last"))
    return (last[last["op"] != "D"]
            [["repo", "path", "commit", "lang", "content"]]
            .reset_index(drop=True))


def shape_key(seed: int, events: int = EVENTS, keys: int = KEYS,
              epochs: int = EPOCHS, files_per_epoch: int = FILES_PER_EPOCH) -> str:
    return f"e{events}-k{keys}-p{epochs}-f{files_per_epoch}-s{seed}"


def load(cache_dir: str, seed: int, **shape) -> Feed | None:
    """The cached feed for ``seed`` and ``shape``, or None."""
    root = os.path.join(cache_dir, shape_key(seed, **shape))
    try:
        with open(os.path.join(root, "_STAGED.json")) as fh:
            return Feed(root, json.load(fh))
    except FileNotFoundError:
        return None


def stage(spark, cache_dir: str, seed: int, events: int = EVENTS,
          keys: int = KEYS, epochs: int = EPOCHS,
          files_per_epoch: int = FILES_PER_EPOCH) -> Feed:
    """Return the staged feed for ``seed``, staging it first if the cache
    does not hold it. Staging writes into a private directory and renames
    it into place, so a reader never sees a half-staged feed."""
    from etl_api_bigquery_spark.cdc import change_feed
    from etl_api_bigquery_spark.cdc.generator import write_feed_as_epoch_files

    shape = dict(events=events, keys=keys, epochs=epochs,
                 files_per_epoch=files_per_epoch)
    cached = load(cache_dir, seed, **shape)
    if cached is not None:
        return cached
    root = os.path.join(cache_dir, shape_key(seed, **shape))

    tmp = f"{root}.staging.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    # cached so the per-epoch writes do not each regenerate the feed
    feed = change_feed(spark, n_events=events, n_keys=keys, n_epochs=epochs,
                       seed=seed).cache()
    try:
        write_feed_as_epoch_files(feed, os.path.join(tmp, "feed"),
                                  files_per_epoch)
    finally:
        feed.unpersist()
    names = sorted(os.listdir(os.path.join(tmp, "feed")))
    files = [[n for n in names if n.startswith(f"epoch_{e:05d}_")]
             for e in range(epochs)]
    staged = Feed(tmp, {"files": files})
    manifest = {"seed": seed, "events_total": events, "keys": keys,
                "files": files, "events": [], "rows": []}
    for e in range(epochs):
        manifest["events"].append(parquet_rows(staged.files(e)))
        expected = replay_oracle(
            [p for k in range(e + 1) for p in staged.files(k)])
        os.makedirs(staged.oracle_dir(e))
        expected.to_parquet(os.path.join(staged.oracle_dir(e), "part-0.parquet"),
                            index=False)
        manifest["rows"].append(len(expected))
    if sum(manifest["events"]) != events:
        raise RuntimeError(f"staged {sum(manifest['events'])} events, "
                           f"expected {events}")
    with open(os.path.join(tmp, "_STAGED.json"), "w") as fh:
        json.dump(manifest, fh)
    try:
        os.rename(tmp, root)
    except OSError:          # another process staged the same feed first
        shutil.rmtree(tmp, ignore_errors=True)
    return load(cache_dir, seed, **shape)
