"""The r12 size-derived strategy switches each leave their LARGE-scale
branch dead at test SFs (width==1 takes the kcore local peel; the word
vocab always fits the BPE driver-loop cap). A regression in the
distributed branch would otherwise be invisible until a real deployment
— these tests force each big-data branch and pin row/byte parity with
the small-data branch the oracles gate every run.
"""

from __future__ import annotations

import pytest

from nexmark_vanilla_flink_spark.plans import REGISTRY


def _rows(df):
    cols = sorted(df.columns)
    return sorted([tuple(r[c] for c in cols) for r in df.collect()], key=repr)


def test_kcore_distributed_branch_matches_local_peel(spark, sf_dir, monkeypatch):
    """copurchase_kcore: width==1 runs the single-task mapInPandas peel;
    width>1 runs the unrolled distributed rounds. Force width=2 and
    assert the edge-parallel branch emits exactly the local branch's
    3-core table (sf0.001/sf0.01 have non-empty cores)."""
    import nexmark_vanilla_flink_spark.operators.artifacts as A

    q = REGISTRY["copurchase_kcore"]
    local = _rows(q.spark(spark, sf_dir))
    assert local  # the 3-core is non-empty at this SF (200 rows at sf0.001)

    real = A.artifact_table_partitions

    def forced(adir, table, **kw):
        real(adir, table, **kw)  # keep the artifact warm/validated
        return 2

    monkeypatch.setattr(A, "artifact_table_partitions", forced)
    distributed = _rows(q.spark(spark, sf_dir))
    assert distributed == local


def test_bpe_distributed_branch_matches_driver_loop(spark, sf_dir, monkeypatch):
    """bpe_vocab: a zero vocab cap forces the distributed per-merge loop;
    the resulting merge table must be row-identical to the driver-loop build
    (same greedy argmax, same tie-break, same replace semantics)."""
    from nexmark_vanilla_flink_spark.operators.artifacts import (
        purge_artifact_roots,
        read_artifact_table,
    )
    from nexmark_vanilla_flink_spark.plans import training
    from nexmark_vanilla_flink_spark.plans.training import _bpe_vocab_dir

    purge_artifact_roots()
    driver_rows = _rows(
        read_artifact_table(spark, _bpe_vocab_dir(spark, sf_dir), "vocab")
    )
    assert driver_rows  # the trainer produced a non-empty merge table

    monkeypatch.setattr(training, "_BPE_DRIVER_VOCAB_CAP", 0)
    purge_artifact_roots()
    dist_rows = _rows(
        read_artifact_table(spark, _bpe_vocab_dir(spark, sf_dir), "vocab")
    )
    # leave a valid artifact behind for any later test in the session
    monkeypatch.undo()
    purge_artifact_roots()

    assert dist_rows == driver_rows


def test_ivf_distributed_branch_matches_arrow_assign(spark, sf_dir, monkeypatch):
    """ivf_index (r13): a zero codebook cap forces the distributed
    interpreted-fold coarse assignment; the assign table must be row-identical to the
    Arrow-vectorized driver-codebook branch (ascending-dimension numpy
    accumulation == the sequential fold; round + struct-argmin shared
    JVM-side)."""
    from nexmark_vanilla_flink_spark.operators.artifacts import (
        purge_artifact_roots,
        read_artifact_table,
    )
    from nexmark_vanilla_flink_spark.plans import pipeline
    from nexmark_vanilla_flink_spark.plans.pipeline import _ivf_index_dir

    purge_artifact_roots()
    arrow_rows = _rows(
        read_artifact_table(spark, _ivf_index_dir(spark, sf_dir), "assign")
    )
    assert arrow_rows  # non-empty assignment at this SF

    monkeypatch.setattr(pipeline, "_IVF_DRIVER_CODEBOOK_CAP", 0)
    purge_artifact_roots()
    dist_rows = _rows(
        read_artifact_table(spark, _ivf_index_dir(spark, sf_dir), "assign")
    )
    monkeypatch.undo()
    purge_artifact_roots()

    assert dist_rows == arrow_rows


def test_ivf_score_block_cap_keeps_assign(spark, sf_dir, monkeypatch):
    """ivf_index: a byte cap below one score row slices every Arrow batch
    into single-row score blocks; the per-element accumulation order is
    unchanged, so the assign table must be exceptAll-identical to the
    uncapped build."""
    from nexmark_vanilla_flink_spark.operators.artifacts import (
        purge_artifact_roots,
        read_artifact_table,
    )
    from nexmark_vanilla_flink_spark.plans import pipeline
    from nexmark_vanilla_flink_spark.plans.pipeline import _ivf_index_dir

    purge_artifact_roots()
    whole = read_artifact_table(spark, _ivf_index_dir(spark, sf_dir), "assign")
    whole = spark.createDataFrame(whole.collect(), whole.schema)
    assert whole.count()

    monkeypatch.setattr(pipeline, "_IVF_SCORE_BLOCK_BYTES", 1)
    purge_artifact_roots()
    sliced = read_artifact_table(spark, _ivf_index_dir(spark, sf_dir), "assign")
    sliced = spark.createDataFrame(sliced.collect(), sliced.schema)
    monkeypatch.undo()
    purge_artifact_roots()

    assert whole.exceptAll(sliced).count() == 0
    assert sliced.exceptAll(whole).count() == 0

