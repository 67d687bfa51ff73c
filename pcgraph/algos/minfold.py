"""The driver CC and SSSP share: both fold messages per target with
``min`` and keep a vertex's value only on strict improvement (reference:
PCConnectedComponents.java:122-138, PCSingleSourceShortestPaths.java:
173-192) — the exact contract the delta state store needs (engine.run
docstring).  Only the kernel, the message type and the initial state
differ between the two.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import PCEngine
from ..partition import GraphBlocks, vertex_ids
from ..statestore import default_state_dir


def min_update(state_df: DataFrame, msgs: DataFrame, step: int) -> DataFrame:
    # string expressions: a handful of py4j round-trips per round
    # instead of one per Column op (see pagerank.update)
    folded = msgs.groupBy("dst").agg(F.expr("min(msg) as msg"))
    joined = state_df.select("id", "value").join(
        folded, F.expr("id = dst"), "left"
    )
    return joined.selectExpr(
        "id",
        "least(value, msg) as value",
        "coalesce(msg < value, false) as changed",
    )


def run_min_fold(
    spark: SparkSession,
    blocks: GraphBlocks,
    kernel: Callable,
    msg_schema: str,
    algorithm: str,
    edges: DataFrame,
    vertices: DataFrame | None,
    initial_state: Callable[[DataFrame], DataFrame],
    *,
    max_iter: int,
    checkpoint_dir: str | None,
    checkpoint_every: int,
    resume_from: str | None,
    incremental: bool,
    state_store_dir: str | None,
    n_buckets: int,
    max_versions: int,
    delta: bool,
    strict: bool,
    post_superstep,
) -> tuple[DataFrame, list[dict]]:
    """Resume or initialize, then iterate to convergence; returns the
    final (id, value) state and the round history.

    ``initial_state(vset[id]) -> state[id, value, changed]`` is only
    called on a fresh run, over the block store's vertex census or the
    ids of ``edges`` (plus ``vertices``).  ``incremental=True`` keeps
    the state in the delta-version store (engine.run docstring);
    ``delta`` only accepts True."""
    if not delta:
        raise ValueError(
            "delta=False selected the bucket-rewrite state store, which "
            "was removed; the delta-version store is the only incremental "
            "state model"
        )
    engine = PCEngine(
        spark, checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every
    )
    start_step = 0
    resume_manifest = None
    ckpt_init = True  # initial-state checkpoint (engine._CheckpointedState)
    resumed = engine.resume(resume_from) if resume_from else None
    if resumed is not None:
        state, frontier, meta = resumed
        start_step = int(meta["superstep"])
        engine.checkpoint_dir = engine.checkpoint_dir or resume_from
        if "manifest" in meta:  # round was committed by the delta store
            incremental = True
            resume_manifest = meta["manifest"]
            n_buckets = int(meta.get("n_buckets", n_buckets))
            state_store_dir = (
                state_store_dir
                or meta.get("state_store_dir_resolved")
                or os.path.join(resume_from, "statestore")
            )
    else:
        if blocks.vertices_path is not None and vertices is None:
            vset = spark.read.parquet(blocks.vertices_path).select("id")
            # initial state = a cheap deterministic census scan: skip
            # materializing it before round 1 (engine.run docstring)
            ckpt_init = False
        else:
            vset = vertex_ids(edges)
            if vertices is not None:
                vset = vset.union(vertices.select("id")).distinct()
        state = initial_state(vset)
        # engine derives the initial frontier from the CHECKPOINTED
        # state — an explicit pre-checkpoint frontier would re-execute
        # the init in round 1
        frontier = None

    if incremental and state_store_dir is None:
        state_store_dir = default_state_dir(checkpoint_dir, algorithm)

    return engine.run(
        blocks=blocks,
        state=state,
        frontier=frontier,
        kernel=kernel,
        msg_schema=msg_schema,
        update=min_update,
        frontier_fn=lambda s: s.filter("changed").select("id", "value"),
        # active-count rides the round's materializing job (observe)
        metrics_exprs=[
            F.sum(F.when(F.col("changed"), 1).otherwise(0)).alias("changed")
        ],
        metrics_post=lambda obs, step: {"active": int(obs["changed"] or 0)},
        max_iter=max_iter,
        start_step=start_step,
        algorithm=algorithm,
        # the frontier collapses after a few rounds (CC) or is a wave
        # (SSSP): skip untouched blocks in the sparse tail instead of
        # shipping the full topology through Arrow each round
        prefilter_blocks=True,
        strict=strict,
        state_store_dir=state_store_dir if incremental else None,
        n_buckets=n_buckets,
        resume_manifest=resume_manifest,
        monotone="min",
        max_versions=max_versions,
        post_superstep=post_superstep,
        checkpoint_initial_state=ckpt_init,
    )
