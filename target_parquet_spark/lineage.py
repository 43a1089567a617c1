"""Lineage truncation: the one place that decides how a plan is cut.

Round-10 plan audit: every query that referenced a derived table more
than once was *re-executing its whole pipeline per reference*, because
Spark plans each DataFrame reference as an independent subtree and the
exchanges never matched up for reuse (``.explain`` read 0 ReusedExchange
across the 50 captured plans; ``graph_link_prediction`` re-ran the
bucketed kNN self-join 9 times — 40 parquet scans — and the beam-search
loop in ``graph_ann_search`` doubled its lineage every hop: 144 scans
after 3 hops).

``mat()`` is the fix the optimization guide prescribes for exactly this
("materialising an intermediate result ... truncates the plan", §3.3;
`localCheckpoint` §5): compile the subtree once, compute it once on
first use, and hand every consumer a `LogicalRDD` scan of the stored
blocks.  Values are bit-identical — the same deterministic plan runs,
just once instead of N times.  ``cut()`` is the same truncation for
iterative loops (graph ranks, label propagation, frontier expansion),
where the cut is what keeps the plan from growing every round.

Policy: a cut is a reliable ``checkpoint`` exactly when the session's
SparkContext has a checkpoint directory, and a ``localCheckpoint``
otherwise.  The directory is a property of the deployment, set through
Spark's own path (the launch conf ``spark.checkpoint.dir`` or
``sc.setCheckpointDir``); no operator or query decides it per call.

Scale posture — two classes of cut site:

- **Model/edge-sized** (kNN edge lists, symmetrized graphs, frontier
  beams, centroid ranks — thousands to low millions of rows): safe to
  localCheckpoint at any scale; these are exactly the intermediates a
  production pipeline writes out as artifacts (the repo's
  knn_edge_artifact does so explicitly).
- **Corpus-sized** (the r10 LM-family cuts in queries_r3/r8/r9:
  per-doc token arrays, vocab-weighted doc tables, deflated embedding
  tables — one row per document/vector).  Locally these are small and
  the cut is a clear win (the pipeline above them re-ran 3-5x per
  query).  At 100 TB a localCheckpoint of a corpus-sized table pins
  roughly the full derived corpus in NON-fault-tolerant executor
  MEMORY_AND_DISK storage: a lost executor kills the job (the lineage
  is gone).  A cluster deployment therefore sets ``spark.checkpoint.dir``
  (a shared filesystem path): every cut then goes through a replayable
  reliable checkpoint — same values, survives executor loss, one extra
  write and read per cut.

Local checkpoints live in executor storage (MEMORY_AND_DISK) and die
with the session — nothing is persisted across runs, and every
invocation recomputes from the parquet inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def cut(df: DataFrame, eager: bool) -> DataFrame:
    """Truncate ``df``'s lineage: a reliable ``checkpoint`` when the
    session has a checkpoint directory, a ``localCheckpoint`` otherwise.

    ``eager=True`` computes the blocks now — the form convergence loops
    use, where each round's cut must exist before the round's fixpoint
    action reads it.  ``eager=False`` defers the computation to the
    first action that touches the result.  No test bypass: the loops
    need their cuts to keep the plan from growing every round."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def mat(df: DataFrame) -> DataFrame:
    """Materialize a reused intermediate: compute once, scan many times.

    Lazy (``cut(df, eager=False)``): the plan is compiled now, the blocks
    are computed by the first action that touches the result —
    construction stays job-free, so EXPLAIN-only paths (scripts/explain.py,
    catalog listings) never execute a scan.

    ``SPARK_GRAFT_NO_MAT=1`` (read at call time) bypasses the cut and
    returns ``df`` unchanged: a checkpoint replaces the subtree with a
    ``LogicalRDD`` scan in ``explain`` output, so plan-shape tests and
    plan-capture tooling set this to see the full algebra they assert
    on.  Execution semantics are identical either way — the cut only
    controls compute-once-vs-replay, never values.
    """
    if os.environ.get("SPARK_GRAFT_NO_MAT", "") == "1":
        return df
    return cut(df, eager=False)
