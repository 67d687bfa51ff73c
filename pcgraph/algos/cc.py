"""Connected components — min-label propagation, partition-centric.

Semantics match the reference library algorithm
(/root/reference/src/main/java/org/apache/flink/graph/partition/centric/
library/PCConnectedComponents.java):
  * graph symmetrized first (PCConnectedComponents.java:53-54);
  * per-partition kernel propagates the minimum component id across all
    locally-known edges to a local fixpoint (the union-find with
    min-value roots at :140-182 — here a vectorized ``np.minimum.at``
    scatter loop, same fixpoint);
  * externals start at Long.MAX_VALUE (:102) — here +inf seed;
  * message per vertex whose component improved (:108-117);
  * vertex update keeps the min and emits only on strict improvement
    (:122-138) — here ``least(value, min(msgs))`` + changed filter;
  * vertices with no edges never enter partition processing and keep
    their initial value (SURVEY.md §1.4 singleton rule).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..partition import (
    GraphBlocks,
    block_edge_source_index,
    build_blocks,
    ensure_block_store,
    unpack_block,
)
from .minfold import run_min_fold

_I64_MAX = np.iinfo(np.int64).max


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected edge set: union with reversed edges, dedup.

    Reference: Graph.getUndirected() at PCConnectedComponents.java:54 and
    the manual both-directions insert at GraphGenerator.java:57-60.
    """
    e = edges.select("src", "dst")
    return e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def cc_kernel(key, fpdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
    """Local min-label fixpoint over one partition's CSR block.

    Vectorized analog of the reference's per-partition union-find
    (PCConnectedComponents.java:68-119): seed active vertices with their
    frontier component, externals with +inf, then scatter-min along the
    block's edges until a local fixpoint; message every node whose
    component improved.
    """
    from ..workerenv import optimize_worker

    optimize_worker()
    if len(bpdf) == 0 or len(fpdf) == 0:
        return pd.DataFrame({"dst": pd.Series(dtype="int64"), "msg": pd.Series(dtype="int64")})
    nodes, indptr, edst, _ = unpack_block(bpdf)
    esrc = block_edge_source_index(indptr)

    val = np.full(len(nodes), _I64_MAX, dtype=np.int64)
    fids = fpdf["id"].to_numpy(dtype=np.int64)
    fvals = fpdf["value"].to_numpy(dtype=np.int64)
    pos = np.searchsorted(nodes, fids)
    ok = (pos < len(nodes)) & (nodes[np.clip(pos, 0, len(nodes) - 1)] == fids)
    np.minimum.at(val, pos[ok], fvals[ok])
    init = val.copy()

    while True:  # local supersteps, each fully vectorized
        prev = val.copy()
        np.minimum.at(val, edst, val[esrc])
        if np.array_equal(prev, val):
            break

    # A proposed component c can only improve node n if c < n's current
    # value, and n's value starts at its id and ONLY decreases — so any
    # message with c >= id(n) is dead on arrival and is dropped at the
    # source.  Cuts the round-1/2 full-frontier message volume (~50% on
    # random graphs; measured the dominant CC cost at 316M edges).
    send = (val < init) & (val < nodes)
    return pd.DataFrame({"dst": nodes[send], "msg": val[send]})


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    num_partitions: int = 16,
    max_iter: int = 200,
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
    strict: bool = False,
    post_superstep=None,
) -> tuple[DataFrame, list[dict]]:
    """Run CC to convergence; returns (DataFrame[id, component], metrics).

    ``strict=True``: reference-parity missing-vertex check ("Target
    vertex does not exist!", PartitionCentricIteration.java:216-227) —
    one anti-join per round against the vertex set.

    ``vertices`` (optional DataFrame[id]) adds isolated vertices that
    keep their own id as component (singleton rule, SURVEY.md §1.4).

    ``incremental=True`` keeps the state in the delta-version store:
    each round appends only its changed rows, so the sparse tail rounds
    cost O(frontier) instead of O(|V|) (engine.run docstring).  The
    store lives at ``state_store_dir`` (default: ``checkpoint_dir/
    statestore`` when checkpointing, else a fresh local temp dir — pass
    a shared-FS path on a cluster).  ``delta`` only accepts True;
    False raises ``ValueError``.
    """
    sym = symmetrize(edges)
    if blocks is None:
        if store_dir is not None:
            blocks = ensure_block_store(
                spark, sym, num_partitions, store_dir,
                salt_threshold=salt_threshold, tag="sym",
            )
        else:
            blocks = build_blocks(
                spark, sym, num_partitions, salt_threshold=salt_threshold
            )

    state, history = run_min_fold(
        spark, blocks, cc_kernel, "dst long, msg long",
        "connected_components", sym, vertices,
        lambda vset: vset.select(
            "id", F.col("id").alias("value"), F.lit(True).alias("changed")
        ),
        max_iter=max_iter, checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every, resume_from=resume_from,
        incremental=incremental, state_store_dir=state_store_dir,
        n_buckets=n_buckets, max_versions=max_versions, delta=delta,
        strict=strict, post_superstep=post_superstep,
    )
    return state.select("id", F.col("value").alias("component")), history
