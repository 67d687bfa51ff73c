"""Single-source shortest paths — partition-centric, min-fold.

The reference ships an SSSP library algorithm
(/root/reference/src/main/java/.../library/PCSingleSourceShortestPaths.java)
whose partition kernel fills a local distance map but never calls
``sendMessage`` (no call anywhere in :109-163), so cross-partition
distances never propagate — a latent, untested defect (SURVEY.md op
#18).  We therefore implement the *spec*: source seeded 0.0, all others
+inf (mapVertices semantics at :76-92), per-partition relaxation to a
local fixpoint, messages for every vertex whose local distance improved,
global min fold, emit-on-strict-improvement (:173-192).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..partition import (
    ensure_block_store,
    GraphBlocks,
    block_edge_source_index,
    build_blocks,
    unpack_block,
)
from .minfold import run_min_fold

_INF = float("inf")


def sssp_kernel(key, fpdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
    """Local Bellman-Ford relaxation to a fixpoint (vectorized scatter-min
    over the block's weighted edges), the analog of the reference's local
    Dijkstra (PCSingleSourceShortestPaths.java:99-165) — same local
    fixpoint, numpy instead of a binary heap."""
    from ..workerenv import optimize_worker

    optimize_worker()
    empty = pd.DataFrame(
        {"dst": pd.Series(dtype="int64"), "msg": pd.Series(dtype="float64")}
    )
    if len(bpdf) == 0 or len(fpdf) == 0:
        return empty
    nodes, indptr, edst, w = unpack_block(bpdf)
    esrc = block_edge_source_index(indptr)

    dist = np.full(len(nodes), _INF, dtype=np.float64)
    fids = fpdf["id"].to_numpy(dtype=np.int64)
    fvals = fpdf["value"].to_numpy(dtype=np.float64)
    pos = np.searchsorted(nodes, fids)
    ok = (pos < len(nodes)) & (nodes[np.clip(pos, 0, len(nodes) - 1)] == fids)
    np.minimum.at(dist, pos[ok], fvals[ok])
    init = dist.copy()

    while True:  # local supersteps: relax all edges, fully vectorized
        prev = dist.copy()
        np.minimum.at(dist, edst, dist[esrc] + w)
        if np.array_equal(prev, dist):
            break

    send = dist < init
    return pd.DataFrame({"dst": nodes[send], "msg": dist[send]})


def sssp(
    spark: SparkSession,
    edges: DataFrame,
    source: int,
    vertices: DataFrame | None = None,
    max_iter: int = 200,
    num_partitions: int = 16,
    salt_threshold: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume_from: str | None = None,
    blocks: GraphBlocks | None = None,
    store_dir: str | None = None,
    incremental: bool = False,
    state_store_dir: str | None = None,
    n_buckets: int = 256,
    max_versions: int = 8,
    delta: bool = True,
    post_superstep=None,
) -> tuple[DataFrame, list[dict]]:
    """Weighted SSSP from ``source``; returns (DataFrame[id, distance],
    metrics).  Unreached vertices have distance +inf.

    ``incremental=True``: SSSP is THE wavefront algorithm — most of its
    ~diameter rounds touch a tiny frontier, so the delta-version store
    (append only the changed rows) makes those rounds O(frontier)
    instead of O(|V|) (engine.run docstring).  ``delta`` only accepts
    True; False raises ``ValueError``."""
    e = edges.select("src", "dst", "weight")
    if blocks is None:
        if store_dir is not None:
            blocks = ensure_block_store(
                spark, e, num_partitions, store_dir,
                salt_threshold=salt_threshold, weighted=True, tag="directed-w",
            )
        else:
            blocks = build_blocks(
                spark, e, num_partitions, salt_threshold=salt_threshold,
                weighted=True,
            )

    state, history = run_min_fold(
        spark, blocks, sssp_kernel, "dst long, msg double", "sssp", e,
        vertices,
        lambda vset: vset.select(
            "id",
            F.when(F.col("id") == source, 0.0).otherwise(F.lit(_INF)).alias("value"),
            (F.col("id") == source).alias("changed"),
        ),
        max_iter=max_iter, checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every, resume_from=resume_from,
        incremental=incremental, state_store_dir=state_store_dir,
        n_buckets=n_buckets, max_versions=max_versions, delta=delta,
        strict=False, post_superstep=post_superstep,
    )
    return state.select("id", F.col("value").alias("distance")), history
