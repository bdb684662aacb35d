"""Lineage cuts pick their mechanism from the master: ``localCheckpoint`` on
a ``local`` master, a reliable ``checkpoint`` into Spark's checkpoint dir
anywhere else (an error without one). The reliable path is exercised here
by forcing the master check, and :func:`lineage.release` must free a cut's
state under either mechanism, which is what keeps the iterative loops from
piling up pinned blocks or checkpoint files."""

from __future__ import annotations

import glob
import os

import pytest

from pyspark.sql import functions as F

from telecom_dataengineering_pipeline_spark import lineage
from telecom_dataengineering_pipeline_spark.lineage import lineage_cut, release


@pytest.fixture
def df(spark):
    return spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 7).alias("g")
    )


def _force_reliable(spark, monkeypatch, ckpt_dir) -> None:
    """Take the non-local-master path, checkpointing into ``ckpt_dir``."""
    monkeypatch.setattr(lineage, "_local_master", lambda df: False)
    spark.sparkContext.setCheckpointDir(str(ckpt_dir))


def _pinned(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _ckpt_files(d) -> set[str]:
    return {os.path.basename(p) for p in glob.glob(os.path.join(d, "*", "rdd-*"))}


def _cut_rdds(df) -> dict:
    """RDD id -> RDD for every lineage cut ``df`` reads (its LogicalRDD
    leaves)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    out = {}
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            out[leaf.rdd().id()] = leaf.rdd()
    return out


def _ckpt_file(rdd) -> str | None:
    f = rdd.getCheckpointFile()
    return os.path.basename(f.get()) if f.isDefined() else None


def test_default_mode_is_local_checkpoint(spark, df):
    cut = df.transform(lineage_cut)
    cut.count()
    plan = cut._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan  # lineage truncated
    (rdd,) = _cut_rdds(cut).values()
    assert _ckpt_file(rdd) is None  # executor-local blocks, no file
    assert sorted(r["id"] for r in cut.collect()) == list(range(100))


def test_checkpoint_mode_is_reliable_and_equal(spark, df, monkeypatch, tmp_path):
    _force_reliable(spark, monkeypatch, tmp_path)
    cut = df.transform(lineage_cut, eager=True)
    plan = cut._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan
    (rdd,) = _cut_rdds(cut).values()
    assert _ckpt_file(rdd) in _ckpt_files(tmp_path)
    assert sorted(r["id"] for r in cut.collect()) == list(range(100))


def test_non_local_master_without_dir_raises(spark, df, monkeypatch):
    monkeypatch.setattr(lineage, "_local_master", lambda df: False)
    monkeypatch.setattr(spark.sparkContext, "getCheckpointDir", lambda: None)
    with pytest.raises(ValueError, match="spark.checkpoint.dir"):
        df.transform(lineage_cut)


def test_release_frees_blocks_and_files(spark, df, monkeypatch, tmp_path):
    before = _pinned(spark)
    cut = df.transform(lineage_cut, eager=True)
    assert set(_cut_rdds(cut)) <= _pinned(spark) - before
    release(cut)
    assert _pinned(spark) - before == set()

    _force_reliable(spark, monkeypatch, tmp_path)
    cut = df.transform(lineage_cut, eager=True)
    assert _ckpt_files(tmp_path)
    release(cut)
    assert _ckpt_files(tmp_path) == set()
    assert _pinned(spark) - before == set()


def test_operator_respects_checkpoint_mode(spark, monkeypatch, tmp_path):
    """End-to-end through a real cut site: the market-basket operator's
    internal cuts must write reliable checkpoint files on a non-local
    master (the call sites route through lineage_cut, not a hard-coded
    localCheckpoint) and give the same rows."""
    from telecom_dataengineering_pipeline_spark.operators.market import (
        item_item_cosine_topk,
    )

    rows = [(u, i) for u in range(30) for i in range(u % 5, u % 5 + 4)]
    df = spark.createDataFrame(rows, "u long, item long")
    base = item_item_cosine_topk(df, "u", "item", k=3, min_count=2).collect()
    _force_reliable(spark, monkeypatch, tmp_path)
    got = item_item_cosine_topk(df, "u", "item", k=3, min_count=2).collect()
    assert _ckpt_files(tmp_path)
    assert sorted(map(tuple, got)) == sorted(map(tuple, base))


@pytest.mark.parametrize("reliable_path", [True, False], ids=["reliable", "local"])
@pytest.mark.parametrize("algo", ["propagate", "star"])
def test_cc_loops_keep_only_the_cuts_their_result_reads(
    spark, monkeypatch, tmp_path, algo, reliable_path
):
    """Each connected-components loop releases every round it supersedes:
    afterwards the checkpoint dir holds only files the returned frame still
    reads, and no other pinned RDD is left behind."""
    from telecom_dataengineering_pipeline_spark.llmprep.dedup import (
        connected_dup_groups,
        connected_dup_groups_star,
    )

    if reliable_path:
        _force_reliable(spark, monkeypatch, tmp_path)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc1 long, doc2 long"
    )
    before = _pinned(spark)
    if algo == "star":
        out = connected_dup_groups_star(chain)
        want = {i: 0 for i in range(41)}
    else:
        # min-label propagation moves a label one hop per round
        out = connected_dup_groups(chain, max_iters=8)
        want = {i: max(0, i - 8) for i in range(41)}
    cuts = _cut_rdds(out)
    read = {_ckpt_file(r) for r in cuts.values()} - {None}
    assert bool(read) == reliable_path
    assert _ckpt_files(tmp_path) == read
    assert _pinned(spark) - before <= set(cuts)
    assert {r["doc_id"]: r["group_id"] for r in out.collect()} == want
