"""Round-2 engine features: superstep-aware kernels + lifecycle hooks,
strict missing-vertex mode, fold="sum" convergence semantics, and block
prefiltering on sparse frontiers."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pcgraph import fixtures
from pcgraph.api import PCGraph
from pcgraph.algos.cc import symmetrize
from pcgraph.partition import block_edge_source_index, unpack_block


# NOTE: kernels must not reference module-level helpers — cloudpickle
# serializes test-module globals by reference and workers cannot import
# the test module, so each kernel inlines its empty-frame construction.


def test_kernel_receives_superstep_and_hooks(spark):
    """A kernel that branches on the superstep number (init-style work on
    step 1 only — reference: getSuperstepNumber +
    preSuperstep/postSuperStep, VertexUpdateFunction.java:77-79,
    PartitionProcessFunction.java:45-63)."""
    vertices, edges = fixtures.tiny_example_graph()

    def step_kernel(key, fpdf, bpdf, step):
        # superstep 1: each frontier vertex sends its id to itself
        # (init); later steps: silence -> converges at step 2.  No
        # block needed — works for singleton partitions too.
        if step != 1 or len(fpdf) == 0:
            return pd.DataFrame(
                {"dst": pd.Series(dtype="int64"), "msg": pd.Series(dtype="int64")}
            )
        fids = fpdf["id"].to_numpy(dtype=np.int64)
        return pd.DataFrame({"dst": fids, "msg": fids - 100})

    seen = {"pre": [], "post": []}
    g = PCGraph(
        spark,
        symmetrize(fixtures.to_spark_edges(spark, edges)),
        vertices=spark.createDataFrame(vertices, schema="id long"),
        num_partitions=4,
    )
    result, history = g.run_partition_centric_iteration(
        kernel=step_kernel,
        msg_schema="dst long, msg long",
        initial_value=F.col("id"),
        fold="min",
        max_iter=5,
        pre_superstep=lambda s: seen["pre"].append(s),
        post_superstep=lambda s, m: seen["post"].append((s, m["active"])),
    )
    got = {r["id"]: r["value"] for r in result.collect()}
    assert got == {v: v - 100 for v in range(1, 11)}
    # init fired on step 1, nothing after -> exactly 2 supersteps
    assert seen["pre"] == [1, 2]
    assert [s for s, _ in seen["post"]] == [1, 2]
    assert seen["post"][-1][1] == 0  # converged


def test_strict_mode_raises_on_unknown_target(spark):
    """Reference parity: a message to a vertex outside the solution set
    throws "Target vertex does not exist!"
    (PartitionCentricIteration.java:216-227)."""
    vertices, edges = fixtures.tiny_example_graph()

    def rogue_kernel(key, fpdf, bpdf):
        if len(bpdf) == 0 or len(fpdf) == 0:
            return pd.DataFrame(
                {"dst": pd.Series(dtype="int64"), "msg": pd.Series(dtype="int64")}
            )
        return pd.DataFrame({"dst": [999999], "msg": [1]})  # not a vertex

    g = PCGraph(
        spark,
        symmetrize(fixtures.to_spark_edges(spark, edges)),
        vertices=spark.createDataFrame(vertices, schema="id long"),
        num_partitions=4,
    )
    with pytest.raises(ValueError, match="Target vertex does not exist"):
        g.run_partition_centric_iteration(
            kernel=rogue_kernel,
            msg_schema="dst long, msg long",
            initial_value=F.col("id"),
            fold="min",
            max_iter=2,
            strict=True,
        )
    # same kernel without strict: messages to unknown ids are dropped by
    # the state join (pre-completed vertex set makes this the documented
    # non-strict behavior) and the run completes
    result, _ = g.run_partition_centric_iteration(
        kernel=rogue_kernel,
        msg_schema="dst long, msg long",
        initial_value=F.col("id"),
        fold="min",
        max_iter=2,
    )
    assert result.count() == 10


def test_fold_sum_accumulates_n_rounds_on_cycle(spark):
    """fold="sum" on a cyclic graph: without sum_tol every message
    keeps its receiver active, so the loop runs exactly max_iter rounds
    (documented accumulate-for-N semantics) and terminates."""
    # directed 3-cycle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], schema="src long, dst long"
    )

    def one_kernel(key, fpdf, bpdf):
        if len(bpdf) == 0 or len(fpdf) == 0:
            return pd.DataFrame(
                {"dst": pd.Series(dtype="int64"), "msg": pd.Series(dtype="int64")}
            )
        nodes, indptr, edst, _ = unpack_block(bpdf)
        esrc = block_edge_source_index(indptr)
        fids = fpdf["id"].to_numpy(dtype=np.int64)
        present = np.zeros(len(nodes), dtype=bool)
        pos = np.searchsorted(nodes, fids)
        ok = (pos < len(nodes)) & (nodes[np.clip(pos, 0, len(nodes) - 1)] == fids)
        present[pos[ok]] = True
        active = present[esrc]
        return pd.DataFrame(
            {"dst": nodes[edst[active]], "msg": np.ones(int(active.sum()), dtype=np.int64)}
        )

    g = PCGraph(spark, edges, num_partitions=2)
    result, history = g.run_partition_centric_iteration(
        kernel=one_kernel,
        msg_schema="dst long, msg long",
        initial_value=0,
        fold="sum",
        max_iter=4,
    )
    assert len(history) == 4  # ran the full budget, then stopped
    got = {r["id"]: r["value"] for r in result.collect()}
    assert got == {1: 4, 2: 4, 3: 4}  # one message per round per vertex


def test_fold_sum_with_tol_converges(spark):
    """sum_tol deactivates vertices once the incoming per-round sum
    decays below the threshold: a geometrically-decaying quantity on a
    cycle converges instead of spinning to max_iter (also exercises the
    step-aware kernel signature with a built-in fold)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], schema="src long, dst long"
    )

    def decay_kernel(key, fpdf, bpdf, step):
        if len(bpdf) == 0 or len(fpdf) == 0:
            return pd.DataFrame(
                {"dst": pd.Series(dtype="int64"), "msg": pd.Series(dtype="float64")}
            )
        nodes, indptr, edst, _ = unpack_block(bpdf)
        esrc = block_edge_source_index(indptr)
        fids = fpdf["id"].to_numpy(dtype=np.int64)
        present = np.zeros(len(nodes), dtype=bool)
        pos = np.searchsorted(nodes, fids)
        ok = (pos < len(nodes)) & (nodes[np.clip(pos, 0, len(nodes) - 1)] == fids)
        present[pos[ok]] = True
        active = present[esrc]
        amount = 0.5 ** step
        return pd.DataFrame(
            {"dst": nodes[edst[active]], "msg": np.full(int(active.sum()), amount)}
        )

    g = PCGraph(spark, edges, num_partitions=2)
    result, history = g.run_partition_centric_iteration(
        kernel=decay_kernel,
        msg_schema="dst long, msg double",
        initial_value=F.lit(1.0),
        fold="sum",
        sum_tol=0.1,
        max_iter=50,
    )
    # per-round message = 0.5**step; 0.5**4 = 0.0625 <= 0.1 deactivates
    # every vertex at round 4 -> terminates long before max_iter
    assert len(history) == 4
    assert history[-1]["active"] == 0
    got = {r["id"]: r["value"] for r in result.collect()}
    # 1 + 0.5 + 0.25 + 0.125 + 0.0625 (last round's value still lands)
    assert all(abs(v - 1.9375) < 1e-12 for v in got.values())


def test_prefilter_blocks_records_active_partitions(spark):
    """CC with prefiltering stays correct and reports the per-round
    active partition count (sparse tail rounds touch fewer blocks)."""
    from pcgraph.algos.cc import connected_components

    pdf = fixtures.odd_even_graph(n=200)
    result, history = connected_components(
        spark, fixtures.to_spark_edges(spark, pdf), num_partitions=8
    )
    comps = {r["id"]: r["component"] for r in result.collect()}
    assert all(c == (1 if v % 2 else 2) for v, c in comps.items())
    assert all("active_partitions" in m for m in history)
    assert history[0]["active_partitions"] == 8


def test_store_mode_takes_cached_grouped_map_fast_path(spark, tmp_path, monkeypatch):
    """Store-mode rounds apply the kernel through the cached pandas UDF
    and the private ``flatMapGroupsInPandas`` entry point; any failure
    there silently falls back to the public ``applyInPandas``.  With the
    public API made to raise, the run can only succeed — with the right
    components — if the fast path is really taken."""
    from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin

    from pcgraph.algos.cc import connected_components
    from pcgraph.partition import ensure_block_store

    pdf = fixtures.odd_even_graph(n=120)
    edges = fixtures.to_spark_edges(spark, pdf)
    store = ensure_block_store(
        spark, symmetrize(edges), 4, str(tmp_path / "store"), tag="sym"
    )
    assert store.store_path is not None

    def refuse(self, *args, **kwargs):
        raise AssertionError("grouped-map fallback taken")

    monkeypatch.setattr(PandasGroupedOpsMixin, "applyInPandas", refuse)
    result, history = connected_components(spark, edges, blocks=store)
    comps = {r["id"]: r["component"] for r in result.collect()}
    assert comps == {v: 1 if v % 2 else 2 for v in pdf["src"]} | {
        v: 1 if v % 2 else 2 for v in pdf["dst"]
    }
    assert history[-1]["active"] == 0
