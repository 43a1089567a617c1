"""The lineage-cut policy: reliable checkpoints exactly when the session
has a checkpoint directory, local checkpoints otherwise."""

from __future__ import annotations

import os

from target_parquet_spark.lineage import cut, mat


def _frame(spark):
    return spark.range(40).selectExpr("id", "id * id AS sq").repartition(3)


def _cuts(spark, want):
    """A lazy ``mat`` and an eager ``cut`` of the same frame, both
    collected; returns whether each was written to reliable storage (a
    local checkpoint keeps its blocks in executor storage, no file)."""
    written = []
    for df in (mat(_frame(spark)), cut(_frame(spark), eager=True)):
        assert sorted(map(tuple, df.collect())) == want
        rdd = df._jdf.queryExecution().analyzed().rdd()
        assert rdd.isCheckpointed()
        written.append(rdd.getCheckpointFile().isDefined())
    return written


def test_cuts_are_reliable_exactly_when_the_session_sets_a_checkpoint_path(
    spark, enable_reliable_checkpoints
):
    want = sorted(map(tuple, _frame(spark).collect()))
    assert spark.sparkContext.getCheckpointDir() is None
    assert _cuts(spark, want) == [False, False]

    ckpt = enable_reliable_checkpoints()
    assert _cuts(spark, want) == [True, True]
    assert any(files for _d, _s, files in os.walk(ckpt))
