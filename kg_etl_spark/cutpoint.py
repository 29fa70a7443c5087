"""Lineage cuts that honor the session's checkpoint configuration.

Iterative kernels and multi-consumer derivations cut lineage at ~112
sites in this repo. In local mode a ``localCheckpoint`` (executor
memory/disk blocks) is the right cut: no durable storage needed, and
executor loss cannot happen inside a single JVM. On a real cluster a
localCheckpoint is NOT fault-tolerant — truncated lineage cannot be
recomputed when an executor dies, so a long iterative job dies with it
(SCALE.md §"What changes on a real cluster"). The swap is the
SESSION-level checkpoint dir: ``get_spark(checkpoint_dir=...)`` (or
``SPARK_GRAFT_CHECKPOINT_DIR``, or any externally-built session that
called ``sc.setCheckpointDir``) flips every cut in the repo to a
reliable ``checkpoint()`` — a config-only change, exactly as SCALE.md
promises, with zero query-code changes.

Registered as a DataFrame extension method (``df.lineage_cut(...)``)
so the call sites keep checkpoint-call syntax; the mode is resolved
PER CALL, so a dir set mid-session takes effect immediately.
"""

from __future__ import annotations

import itertools
import warnings
import weakref
from typing import Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def lineage_cut(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.checkpoint(eager)`` when the SparkContext has a checkpoint
    dir (reliable: blocks live in durable storage and survive executor
    loss), else ``df.localCheckpoint(eager)`` (single-JVM local mode,
    where reliability buys nothing and the write would only cost)."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def loop_cut(df: DataFrame) -> DataFrame:
    """Eager :func:`lineage_cut` for the state of a loop that joins it
    with frames derived from it. A cut keeps its plan's size estimate
    and a join's estimate is the product of its inputs', so such a loop
    squares the estimate each round (19k bits after 7 rounds of
    ``components_iterative``; longer loops plan for minutes). The cut's
    own rows come back through a relation with no estimate (never
    broadcast), with no conversion and no further SQL execution."""
    cut = lineage_cut(df, eager=True)
    spark = cut.sparkSession
    rows = cut._jdf.queryExecution().analyzed().rdd()
    jdf = spark._jsparkSession.internalCreateDataFrame(rows, cut._jdf.schema(), False)
    return DataFrame(jdf, spark)


# Boolean column a fixpoint step marks its unfinished rows with.
CHANGED = "_changed"


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    max_rounds: int | None,
    name: str,
) -> DataFrame:
    """Iterate ``state = step(state)`` until no row of the result has
    :data:`CHANGED` true; return that state without the column.

    ``step`` gets the previous round's state (the column included, so
    it can act on the rows the last round flagged) and returns the next
    one with the column set on every row that is not final yet. Each
    round is ONE job: the flag count rides on the :func:`loop_cut`'s
    execution as an ``observe`` metric, where a separate
    ``filter(...).limit(1).count()`` probe cost two more. After
    ``max_rounds`` rounds with rows still flagged, the last state comes
    back with a ``RuntimeWarning``, never as a silent answer.
    ``max_rounds=None`` runs to the fixpoint, for monotone steps that
    provably end."""
    rounds = itertools.count() if max_rounds is None else range(max_rounds)
    for _ in rounds:
        obs = Observation()
        state = loop_cut(step(state).observe(obs, F.count_if(F.col(CHANGED)).alias("n")))
        if obs.get["n"] == 0:
            return state.drop(CHANGED)
    warnings.warn(
        f"{name}: did not converge within {max_rounds} rounds",
        RuntimeWarning,
        stacklevel=2,
    )
    return state.drop(CHANGED)


# RDD name that marks a SESSION-SHARED cut (a memoized derivation
# several queries consume, e.g. the transition-edge frame).  A
# localCheckpoint keeps its data in persisted blocks with TRUNCATED
# lineage, so evicting them makes the frame unrecomputable:
# housekeeping that unpersists completed-query state between queries
# (bench.py's _drop_query_state) skips RDDs carrying this name.
SHARED_CUT_NAME = "kg_etl_spark.shared_cut"


def is_shared_cut(jrdd) -> bool:
    """True when the JVM RDD ``jrdd`` (e.g. a value of the
    SparkContext's persisted-RDD map) is the data of a shared cut."""
    return jrdd.name() == SHARED_CUT_NAME


def _unpersist(jrdd) -> None:
    try:
        jrdd.unpersist(False)
    except Py4JError:  # the owning SparkContext was stopped first
        pass


def shared_lineage_cut(df: DataFrame) -> DataFrame:
    """:func:`lineage_cut` (eager) for MEMOIZED multi-query frames.

    The cut marks its own checkpointed RDD (the ``LogicalRDD`` at the
    root of the result's plan) with :data:`SHARED_CUT_NAME`, so
    inter-query block flushes leave the shared materialization alone,
    and a ``weakref.finalize`` on the cut frame unpersists exactly
    that RDD when the frame dies.  Nothing else is touched, so a cut
    another thread makes at the same time is neither shielded nor
    released by this one.  Reliable-checkpoint mode stores files, not
    blocks: the name and the unpersist then do nothing.

    Lifecycle contract: the weak-keyed memo makes the cut's
    reachability follow the source — ``session.clear_read_memo`` on an
    sf_dir swap drops the scan frame, the memo entry follows, and once
    no consumer holds the cut either, its blocks are released.  A
    consumer that holds the CUT FRAME ITSELF past the source's
    lifetime keeps the blocks alive.  Holding only a DERIVED DataFrame
    is NOT enough: the finalizer is registered on the Python cut-frame
    object and a derived plan keeps no Python reference to it, so once
    source and cut objects are both collected the blocks are
    unpersisted with no recompute path — callers that outlive the memo
    must retain the cut (pinned by test_round11's derived-frame
    case)."""
    out = lineage_cut(df, eager=True)
    jrdd = out._jdf.queryExecution().analyzed().rdd()
    jrdd.setName(SHARED_CUT_NAME)
    weakref.finalize(out, _unpersist, jrdd).atexit = False
    return out


DataFrame.lineage_cut = lineage_cut
