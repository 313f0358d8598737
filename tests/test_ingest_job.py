"""jobs/ingest.py end to end: a restart after a crash in the async-commit
window repairs the lost batch once, whatever --async-commit is set to on the
restart, and reports it once."""

import importlib.util
import json
import os

JOB = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "jobs", "ingest.py")


def load_job():
    spec = importlib.util.spec_from_file_location("ingest_job", JOB)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_restart_after_lost_async_commit(spark, tmp_path):
    from etl_api_bigquery_spark.lake import LakeTable
    job = load_job()
    d = str(tmp_path)
    args = ["--feed-dir", f"{d}/feed", "--table-dir", f"{d}/t",
            "--checkpoint", f"{d}/ckpt", "--num-buckets", "4"]
    first = job.main(args + ["--generate", "3000"])
    assert first["batches"] >= 2 and first["repaired"] == 0

    # crash inside the async window of the last batch: the checkpoint
    # committed it, its table commit never reached the log
    t = LakeTable.load(spark, f"{d}/t")
    lost = max(h["version"] for h in t.history()
               if "txn_batch" in h["properties"])
    with open(t._log_path(lost)) as fh:
        lost_keys = json.load(fh)["properties"]["lineage"]["keys"]
    for cv in t._commit_versions():
        if cv >= lost:                 # with any fold committed after it
            os.remove(t._log_path(cv))
    for cv in t._checkpoint_versions():
        if cv >= lost:
            os.remove(os.path.join(t._checkpoint_dir(), f"{cv:020d}.json"))

    again = job.main(args + ["--no-async-commit", "--verify"])
    assert again["repaired"] == 1
    assert again["batches"] == 1                 # the repaired batch, once
    assert again["keys_applied"] == lost_keys
    assert again["replay_match"]["missing"] == 0
