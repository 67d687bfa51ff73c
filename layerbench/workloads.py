"""The benchmark's workloads: generated inputs, set-up, timed jobs and
their references.

Every input comes from ``--seed``.  A job returns ``(result, history)``
with its result already forced (counted, written or checkpointed), so its
time is time-to-result; collecting the result for the check happens
after the clock stops.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pcgraph import derive, fixtures
from pcgraph.algos.cc import cc_kernel, connected_components, symmetrize
from pcgraph.algos.labelprop import label_propagation, lp_kernel
from pcgraph.algos.pagerank import pagerank, pr_kernel
from pcgraph.algos.sssp import sssp, sssp_kernel
from pcgraph.algos.triangles import triangles_df
from pcgraph.datapipe.dedup import (
    lsh_candidate_pairs,
    make_seeds,
    minhash_signatures,
    near_duplicates,
    simhash_portable,
    word_shingles,
)
from pcgraph.datapipe.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    train_ivf_centroids,
)
from pcgraph.engine import PCEngine
from pcgraph.partition import ensure_block_store, read_store_block, unpack_block

from . import oracles
from .host import dir_stats

SOURCE_SCHEMA = "repo string, path string, commit string, lang string, content string"
NUM_PARTITIONS = 16  # bench.py's max(cpus, 16) on a host of up to 16 CPUs
PR_TOL = 1e-6
DAMPING = 0.85
LP_ROUNDS = 5
GRAPH_FILES = 5_000  # bench_source_pdf files -> ~25k import edges
STRUCTURE_SEED = 42  # bench.py's import structure; --seed relabels the files
PROBE_ROUNDS = 2  # delta-store CC and checkpointed PageRank rounds in the probes


def relabeled_source(n_files: int, seed: int) -> tuple[pd.DataFrame, int]:
    """``bench_source_pdf`` with its files renamed by a permutation drawn
    from ``seed``: file ids, and so partitions and min-label ties, change
    with the seed while the import structure, and so the round counts,
    stay those of bench.py's graph.  Also returns the row of the file
    with the most imports (the SSSP source)."""
    pdf = fixtures.bench_source_pdf(n_files=n_files, seed=STRUCTURE_SEED)
    perm = np.random.default_rng(seed).permutation(n_files)
    module = pdf["path"].str.slice(4, -3).str.replace("/", ".", regex=False)
    rename = dict(zip(module, module.to_numpy()[perm]))
    body = pdf["content"].str.split("\ndef ", n=1)
    imports = body.str[0].str.split("\n")
    content = [
        "\n".join("import " + rename[i[7:]] for i in imp if i) + "\ndef " + rest
        for imp, rest in zip(imports, body.str[1])
    ]
    out = pdf.assign(
        repo=pdf["repo"].to_numpy()[perm], path=pdf["path"].to_numpy()[perm], content=content
    )
    return out, int(imports.str.len().to_numpy().argmax())


class Workload:
    """Base: subclasses define ``prepare`` (inputs, once), ``build``
    (the set-up step repeated into fresh directories), ``reference``,
    ``jobs``, ``check`` and ``layer_probes``; ``iterative`` names the
    jobs with rounds, ``warm_jobs`` the jobs run once before timing."""

    name = ""
    iterative: tuple[str, ...] = ()
    layer_of: dict[str, str] = {}
    warm_jobs: tuple[str, ...] = ()
    min_passes = 2  # timed passes at least, whatever --seconds says

    def __init__(self, spark, workdir: str, seed: int):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed

    def fresh_dir(self, *parts: str) -> str:
        path = os.path.join(self.workdir, *parts)
        shutil.rmtree(path, ignore_errors=True)
        return path


# ---------------------------------------------------------------- graphs
class RoundsSmall(Workload):
    """Supersteps with state in memory on the import graph, where a
    round is fixed driver, job and stage cost."""

    name = "rounds_small"
    stores = ("directed-w", "sym")
    iterative = ("pagerank", "cc", "sssp", "label_prop")
    layer_of = {"derive": "derive"}
    warm_jobs = ("pagerank", "label_prop")

    def prepare(self) -> None:
        """Source table -> parquet -> derived edges -> parquet."""
        spark = self.spark
        self.source_pdf, hub = relabeled_source(GRAPH_FILES, self.seed)
        src_path = self.fresh_dir("source.parquet")
        spark.createDataFrame(self.source_pdf, schema=SOURCE_SCHEMA).write.parquet(src_path)
        self.source = spark.read.parquet(src_path)
        edges_path = self.fresh_dir("edges.parquet")
        derive.dependency_edges(self.source, level="file").write.parquet(edges_path)
        self.edges = spark.read.parquet(edges_path)
        self.n_edges = self.edges.count()
        # SSSP source: the file with the most imports, the same vertex of
        # the import structure for every seed
        row = self.source_pdf.iloc[hub]
        self.source_id = int(
            self.source.filter((F.col("repo") == row["repo"]) & (F.col("path") == row["path"]))
            .select(derive.file_id_col())
            .first()[0]
        )

    def build(self, rep: str) -> None:
        """The block stores the jobs read, into fresh directories."""
        self.build_s = {}
        self.blocks = {}
        for tag in self.stores:
            t0 = time.perf_counter()
            e = symmetrize(self.edges) if tag == "sym" else self.edges
            self.blocks[tag] = ensure_block_store(
                self.spark, e, NUM_PARTITIONS, self.fresh_dir(rep, f"store-{tag}"),
                weighted=tag == "directed-w", tag=tag,
                expected_edges=None if tag == "sym" else self.n_edges,
            )
            self.build_s[tag] = time.perf_counter() - t0

    def reference(self) -> None:
        self.graph = oracles.GraphReference(self.edges.toPandas())
        self.ref = {
            "derive": oracles.derive_invariants(self.source_pdf),
            "pr_iterates": self.graph.pagerank_iterates(DAMPING, PR_TOL, 200),
            "cc": self.graph.components(),
            "sssp": self.graph.distances(self.source_id),
            "label_prop": self.graph.label_propagation(LP_ROUNDS),
            "triangles": self.graph.triangles(),
        }

    def jobs(self):
        spark, edges = self.spark, self.edges

        def j_derive(hook, warm):
            path = self.fresh_dir("derive-out.parquet")
            derive.dependency_edges(self.source, level="file").write.parquet(path)
            return spark.read.parquet(path), None

        def j_pagerank(hook, warm):
            # weighted: a file's rank flows along its imports in
            # proportion to how often each is imported
            pr, hist = pagerank(
                spark, edges, tol=PR_TOL, max_iter=1 if warm else 200,
                num_partitions=NUM_PARTITIONS, weighted=True,
                blocks=self.blocks["directed-w"], post_superstep=hook,
            )
            pr.count()
            return pr, hist

        def j_cc(hook, warm):
            cc, hist = connected_components(
                spark, edges, num_partitions=NUM_PARTITIONS, blocks=self.blocks["sym"],
                post_superstep=hook,
            )
            cc.count()
            return cc, hist

        def j_sssp(hook, warm):
            sp, hist = sssp(
                spark, edges, source=self.source_id, num_partitions=NUM_PARTITIONS,
                blocks=self.blocks["directed-w"], post_superstep=hook,
            )
            sp.count()
            return sp, hist

        def j_lp(hook, warm):
            lp, hist = label_propagation(
                spark, edges, max_iter=1 if warm else LP_ROUNDS,
                num_partitions=NUM_PARTITIONS, blocks=self.blocks["sym"],
                post_superstep=hook,
            )
            lp.count()
            return lp, hist

        def j_triangles(hook, warm):
            return triangles_df(symmetrize(edges)).count(), None

        return [
            ("derive", j_derive),
            ("pagerank", j_pagerank),
            ("cc", j_cc),
            ("sssp", j_sssp),
            ("label_prop", j_lp),
            ("triangles", j_triangles),
        ]

    def check(self, name, out):
        res, hist = out
        if name == "derive":
            return oracles.check_derive(res.toPandas(), self.ref["derive"])
        if name == "pagerank":
            return self.graph.check_pagerank(res.toPandas(), len(hist), self.ref["pr_iterates"])
        if name == "triangles":
            ok = res == self.ref["triangles"]
            return ok, "" if ok else f"triangles {res} vs reference {self.ref['triangles']}"
        col = {"cc": "component", "sssp": "distance", "label_prop": "label"}[name]
        return self.graph.check_values(res.toPandas(), col, self.ref[name], name)

    # per-layer probes (traced run only) ---------------------------------
    def layer_probes(self) -> dict:
        out = {"derive.edges": float(self.n_edges)}
        out.update(self._partition_probe())
        out.update(self._kernel_probe())
        out.update(self._statestore_probe())
        return out

    def _partition_probe(self) -> dict:
        blocks = self.blocks["directed-w"]
        out = {"partition.build_s": sum(self.build_s.values())}
        out["partition.store_bytes"] = float(
            sum(dir_stats(os.path.dirname(b.store_path))[0] for b in self.blocks.values())
        )
        cold, memo, sizes = [], [], []
        for pid in range(blocks.num_partitions):
            t0 = time.perf_counter()
            frame = read_store_block(blocks.store_path, pid)
            cold.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            read_store_block(blocks.store_path, pid)
            memo.append(time.perf_counter() - t0)
            sizes.append(len(unpack_block(frame)[2]))
        out["partition.block_read_cold_ms"] = 1e3 * float(np.median(cold))
        out["partition.block_read_memo_ms"] = 1e3 * float(np.median(memo))
        out["partition.max_block_ratio"] = max(sizes) / (sum(sizes) / len(sizes))
        routed = blocks.route(
            blocks.route(self.edges.select(F.col("src").alias("id"), "dst")).select(
                F.col("dst").alias("id"), F.col("partition_id").alias("src_pid")
            )
        )
        row = routed.agg(F.avg((F.col("partition_id") == F.col("src_pid")).cast("double")))
        out["partition.intra_edge_frac"] = float(row.collect()[0][0])
        return out

    def _kernel_probe(self) -> dict:
        """Each kernel called directly on store blocks with a full
        frontier: median over 3 sweeps of all blocks."""
        read = {
            tag: {p: read_store_block(b.store_path, p) for p in range(b.num_partitions)}
            for tag, b in self.blocks.items()
        }
        kernels = {
            "pr": (pr_kernel, read["directed-w"], lambda n: 1.0 / (1.0 + np.arange(len(n)))),
            "cc": (cc_kernel, read["sym"], lambda n: n),
            "sssp": (sssp_kernel, read["directed-w"], lambda n: np.arange(len(n), dtype=np.float64)),
            "lp": (lp_kernel, read["sym"], lambda n: n),
        }
        out = {}
        for name, (kernel, blocks, values) in kernels.items():
            inputs, edges = [], 0
            for pid, bpdf in blocks.items():
                nodes, _, edst, _ = unpack_block(bpdf)
                inputs.append((pid, pd.DataFrame({"id": nodes, "value": values(nodes)}), bpdf))
                edges += len(edst)
            sweeps = []
            for _ in range(3):
                t0 = time.perf_counter()
                for pid, fpdf, bpdf in inputs:
                    kernel((pid,), fpdf, bpdf)
                sweeps.append(time.perf_counter() - t0)
            out[f"kernel.{name}_ns_per_edge"] = 1e9 * float(np.median(sweeps)) / max(edges, 1)
        return out

    def _statestore_probe(self) -> dict:
        """The write path: CC on the delta-version state store with the
        default 256 buckets, and PageRank checkpointed every round and
        reopened, each for ``PROBE_ROUNDS`` rounds."""
        spark, out = self.spark, {}
        store_dir = self.fresh_dir("delta-store")
        _, hist = connected_components(
            spark, self.edges, num_partitions=NUM_PARTITIONS, blocks=self.blocks["sym"],
            incremental=True, delta=True, state_store_dir=store_dir, max_iter=PROBE_ROUNDS,
        )
        out["statestore.round_s"] = float(np.median([h["round_sec"] for h in hist]))
        st_bytes, st_files = dir_stats(store_dir)
        out["statestore.bytes_written"] = float(st_bytes)
        out["statestore.files_written"] = float(st_files)
        out["statestore.compacted_buckets"] = float(sum(h.get("compacted_buckets", 0) for h in hist))
        ckpt_dir = self.fresh_dir("checkpoints")
        pr, hist = pagerank(
            spark, self.edges, tol=PR_TOL, max_iter=PROBE_ROUNDS, num_partitions=NUM_PARTITIONS,
            weighted=True, blocks=self.blocks["directed-w"],
            checkpoint_dir=ckpt_dir, checkpoint_every=1,
        )
        pr.count()
        ck_bytes, ck_files = dir_stats(ckpt_dir)
        out["ckpt.bytes_per_round"] = ck_bytes / len(hist)
        out["ckpt.files_per_round"] = ck_files / len(hist)
        t0 = time.perf_counter()
        state, frontier, _ = PCEngine(spark).resume(ckpt_dir)
        state.count()
        frontier.count()
        out["resume.open_s"] = time.perf_counter() - t0
        return out


# ------------------------------------------------------------ similarity
N_VECTORS = 5_000
DIM = 64
N_CLUSTERS = 32
N_QUERIES = 20
K = 3
N_DOCS = 2_000
DEDUP_THRESHOLD = 0.2
VOCAB = 5_000
IVF = {"n_centroids": 8, "iters": 2, "n_probe": 2}
WARM_ROWS = 200  # corpus slice for the warm-up runs


def similarity_inputs(seed: int):
    """Clustered float32 vectors, and documents of which about a third
    are copies of an earlier document with one to three words replaced."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(N_CLUSTERS, DIM))
    member = rng.integers(0, N_CLUSTERS, size=N_VECTORS)
    X = (centers[member] + 0.6 * rng.normal(size=(N_VECTORS, DIM))).astype(np.float32)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 8 and rng.random() < 0.33:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for pos in rng.integers(0, len(toks), size=int(rng.integers(1, 4))):
                toks[pos] = f"w{int(rng.integers(0, VOCAB))}"
        else:
            toks = [f"w{w}" for w in rng.integers(0, VOCAB, size=int(rng.integers(12, 40)))]
        texts.append(" ".join(toks))
    return X, texts


class Similarity(Workload):
    """Vector top-k and document dedup over a generated corpus: the
    datapipe layer, no engine loop."""

    name = "similarity"
    layer_of = {j: "datapipe" for j in ("knn", "knn_ivf", "dedup", "simhash")}
    warm_jobs = ("knn", "knn_ivf", "dedup", "simhash")
    # a pass takes a few seconds: the median of three drops a slow one
    min_passes = 3

    def prepare(self) -> None:
        X, self.texts = similarity_inputs(self.seed)
        self.X32 = X
        self.X = X.astype(np.float64)  # the engine scores in double
        self.ids = np.arange(N_VECTORS, dtype=np.int64)
        self.qids = np.arange(N_QUERIES, dtype=np.int64) * (N_VECTORS // N_QUERIES)

    def build(self, rep: str) -> None:
        """The embedding and document tables, written as parquet."""
        spark = self.spark
        emb_path = self.fresh_dir(rep, "embeddings.parquet")
        emb = pd.DataFrame({"vec_id": self.ids, "embedding": list(self.X32)})
        spark.createDataFrame(emb, schema="vec_id long, embedding array<float>").write.parquet(emb_path)
        docs_path = self.fresh_dir(rep, "documents.parquet")
        docs = pd.DataFrame({"doc_id": np.arange(N_DOCS, dtype=np.int64), "text": self.texts})
        spark.createDataFrame(docs, schema="doc_id long, text string").write.parquet(docs_path)
        self.emb = spark.read.parquet(emb_path)
        self.docs = spark.read.parquet(docs_path)
        self.queries = self.emb.filter(F.col("vec_id").isin([int(q) for q in self.qids]))

    def reference(self) -> None:
        ref = {"knn": oracles.knn_reference(self.ids, self.X, self.qids, K)}
        ref["ivf_recall"] = oracles.ivf_recall_reference(
            self.ids, self.X, self.qids, K, exact=ref["knn"], **IVF
        )
        ref["dedup"], _ = oracles.near_duplicates_reference(
            range(N_DOCS), self.texts, k=3, threshold=DEDUP_THRESHOLD, n_perms=4, n_bands=2
        )
        ref["simhash"] = oracles.simhash_reference(range(N_DOCS), self.texts)
        self.ref = ref

    def jobs(self):
        """Each job forces its full result with an eager local
        checkpoint; a warm-up run uses a small slice of the corpus."""

        def inputs(warm):
            if not warm:
                return self.emb, self.queries, self.docs
            emb = self.emb.filter(F.col("vec_id") < WARM_ROWS)
            return emb, emb.filter(F.col("vec_id") < 2), self.docs.filter(F.col("doc_id") < WARM_ROWS)

        def forced(df):
            return df.localCheckpoint(eager=True), None

        def j_knn(hook, warm):
            emb, q, _ = inputs(warm)
            return forced(cosine_topk_bruteforce(emb, q, k=K))

        def j_ivf(hook, warm):
            emb, q, _ = inputs(warm)
            return forced(cosine_topk_ivf(emb, q, k=K, **IVF))

        def j_dedup(hook, warm):
            return forced(near_duplicates(inputs(warm)[2], threshold=DEDUP_THRESHOLD))

        def j_simhash(hook, warm):
            return forced(simhash_portable(inputs(warm)[2]))

        return [("knn", j_knn), ("knn_ivf", j_ivf), ("dedup", j_dedup), ("simhash", j_simhash)]

    def check(self, name, out):
        res = out[0].toPandas()
        if name == "knn":
            return oracles.check_knn(res, self.ref["knn"], self.ids, self.X, K)
        if name == "knn_ivf":
            self.ivf_recall = oracles.knn_recall(res, self.ref["knn"])
            # one neighbor of slack: 6-decimal bucket cosines may tie
            # differently under another summation order
            floor = self.ref["ivf_recall"] - 1.0 / (N_QUERIES * K) - 1e-9
            ok = self.ivf_recall >= floor
            return ok, "" if ok else f"ivf recall {self.ivf_recall:.4f} < {floor:.4f}"
        if name == "dedup":
            return oracles.check_pairs(res, self.ref["dedup"])
        if name == "simhash":
            return oracles.check_mapping(res, "id", "simhash", self.ref["simhash"], "simhash")
        raise KeyError(name)

    def layer_probes(self) -> dict:
        t0 = time.perf_counter()
        train_ivf_centroids(self.emb, n_centroids=IVF["n_centroids"], iters=IVF["iters"])
        out = {"similarity.train_ivf_s": time.perf_counter() - t0}
        sh = word_shingles(self.docs)
        cands = lsh_candidate_pairs(minhash_signatures(sh, seeds=make_seeds(4)), n_bands=2).count()
        out["dedup.candidate_pairs"] = float(cands)
        out["dedup.candidate_precision"] = len(self.ref["dedup"]) / cands if cands else 1.0
        out["similarity.ivf_recall_at3"] = getattr(self, "ivf_recall", 0.0)
        return out


WORKLOADS = {w.name: w for w in (RoundsSmall, Similarity)}


def result_digest(out) -> str:
    """Stable digest of a job's result for the exact-repeat self-check
    (PageRank rounded to 1e-10 of its scale: summation order varies)."""
    res = out[0]
    if not hasattr(res, "toPandas"):  # a scalar result
        return repr(res)
    pdf = res.toPandas()
    if "pagerank" in pdf:
        pdf["pagerank"] = np.round(pdf["pagerank"] * 1e10).astype("int64")
    data = pdf.sort_values(list(pdf.columns)).to_csv(index=False).encode()
    return hashlib.sha256(data).hexdigest()[:16]
