"""Faults and stale state against the versioned-state fold
(``streaming.jobs._fold``, contract in the ``streaming.jobs`` module
docstring).

Retry: the sink is made to fail once, right after the first table of
``v1`` lands and before the checkpoint commits batch 1. The run must
raise; a rerun over the same checkpoint and state dir re-runs batch 1,
overwrites ``v1`` and must still equal the batch twin. Covered for a
state-shaped fold (heavy hitters: last version) and a log-shaped one
(MinHash LSH: union of the per-batch pair logs).

Stale versions: a log-shaped fold rerun with a fresh checkpoint into a
state dir holding more versions than the new run fires must present
only this run's batches.
"""

from __future__ import annotations

import re

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from ds_mapreduce_spark.plans.registry import load_all
from ds_mapreduce_spark.streaming import jobs as J


def _fail_once_after_first_v1_table(monkeypatch) -> None:
    real = DataFrameWriter.parquet
    fired = []

    def parquet(self, path, *args, **kwargs):
        real(self, path, *args, **kwargs)
        if not fired and re.search(r"/v1(/|$)", path):
            fired.append(path)
            raise RuntimeError(f"injected sink failure after writing {path}")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


@pytest.mark.parametrize(
    "fn, table, twin, cols",
    [
        ("run_streaming_heavy_hitters", "events", "events_heavy_hitter_profile", None),
        ("run_streaming_minhash_lsh", "documents", "dedup_minhash_lsh", ["doc_a", "doc_b"]),
    ],
    ids=["state_shaped", "log_shaped"],
)
def test_fold_retry_after_partial_version_equals_batch(
    spark, sf_dir, tmp_path, monkeypatch, fn, table, twin, cols
):
    run = getattr(J, fn)
    feed = str(tmp_path / "feed")
    spark.read.parquet(f"{sf_dir}/{table}.parquet").repartition(3).write.parquet(feed)
    state, ckpt = str(tmp_path / "state"), tmp_path / "ckpt"

    _fail_once_after_first_v1_table(monkeypatch)
    with pytest.raises(StreamingQueryException, match="injected sink failure"):
        run(spark, feed, state, str(ckpt))
    # the failure hit batch 1 between its first state table and its commit
    assert (ckpt / "commits" / "0").exists()
    assert not (ckpt / "commits" / "1").exists()
    monkeypatch.undo()

    out = run(spark, feed, state, str(ckpt))
    batch = load_all()[twin].fn(spark, sf_dir)
    if cols:
        out, batch = out.select(*cols), batch.select(*cols)
    srows = sorted(map(tuple, out.collect()))
    assert srows == sorted(map(tuple, batch.collect()))
    assert srows
    assert (ckpt / "commits" / "2").exists()  # all 3 files folded


@pytest.mark.parametrize(
    "fn, extra",
    [
        ("run_streaming_media_features", ()),
        ("run_streaming_bpe_encode", ([("h", "e", 1)],)),
    ],
    ids=["media_features", "bpe_encode"],
)
def test_log_fold_ignores_versions_a_previous_run_left(
    spark, sf_dir, tmp_path, fn, extra
):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    first, second = str(tmp_path / "feed1"), str(tmp_path / "feed2")
    docs.where(F.col("doc_id") % 2 == 0).repartition(3).write.parquet(first)
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(second)

    def run(feed, ckpt):
        state = str(tmp_path / "state")
        return getattr(J, fn)(spark, feed, *extra, state, str(tmp_path / ckpt))

    assert run(first, "ckpt1").count() > 0  # lands v0, v1, v2
    # a fresh checkpoint into the same state dir fires batch 0 only;
    # the first run's v1/v2 are stale
    got = sorted(r.doc_id for r in run(second, "ckpt2").collect())
    assert got == sorted(r.doc_id for r in spark.read.parquet(second).collect())
