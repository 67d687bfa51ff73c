"""Independent references for every job the benchmark times.

Each reference is computed once per invocation from the generated
inputs with numpy, networkx, DuckDB or plain Python, never from earlier
engine output.  ``check_*`` functions return ``(ok, detail)``; a failed
check is counted, it does not abort the run.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

# ------------------------------------------------------------------ derive
_IMPORT_RE = re.compile(r"import\s+([A-Za-z_][\w\.]*)")


def _module_of(path: str) -> str:
    path = re.sub(r"^(src|lib|main)/", "", path)
    path = re.sub(r"\.(py|java|scala|go)$", "", path)
    return path.replace("/", ".")


def import_edges(source: pd.DataFrame) -> Counter:
    """File-level import edges {((repo, path), (repo, path)): count}."""
    defs = defaultdict(list)
    for key, path in zip(zip(source["repo"], source["path"]), source["path"]):
        defs[_module_of(path)].append(key)
    weights: Counter = Counter()
    for repo, path, content in zip(source["repo"], source["path"], source["content"]):
        src = (repo, path)
        for module in _IMPORT_RE.findall(content):
            for dst in defs.get(module, ()):
                if dst != src:
                    weights[(src, dst)] += 1
    return weights


def derive_invariants(source: pd.DataFrame) -> dict:
    """Id-free invariants of the file-level import graph: edge count,
    weight multiset and sorted degree sequences (file ids are engine
    hashes, so the reference keys files by (repo, path) instead)."""
    weights = import_edges(source)
    return _edge_invariants(
        [s for s, _ in weights], [d for _, d in weights], list(weights.values())
    )


def _edge_invariants(src, dst, weight) -> dict:
    return {
        "edges": len(weight),
        "weights": sorted(Counter(float(w) for w in weight).items()),
        "out_degrees": sorted(Counter(src).values()),
        "in_degrees": sorted(Counter(dst).values()),
    }


def check_derive(edges: pd.DataFrame, ref: dict) -> tuple[bool, str]:
    got = _edge_invariants(
        edges["src"].tolist(), edges["dst"].tolist(), edges["weight"].tolist()
    )
    for key in ref:
        if got[key] != ref[key]:
            return False, f"derive {key} differs from the reference"
    if edges.duplicated(["src", "dst"]).any():
        return False, "derive emitted duplicate (src, dst) rows"
    return True, ""


# ------------------------------------------------------------------ graph
class GraphReference:
    """Vertex-indexed view of a directed edge list (src, dst, weight)."""

    def __init__(self, edges: pd.DataFrame):
        src = edges["src"].to_numpy(np.int64)
        dst = edges["dst"].to_numpy(np.int64)
        self.ids = np.unique(np.concatenate([src, dst]))
        self.si = np.searchsorted(self.ids, src)
        self.di = np.searchsorted(self.ids, dst)
        self.weight = edges["weight"].to_numpy(np.float64)
        self.n = len(self.ids)

    # PageRank ------------------------------------------------------------
    def pagerank_iterates(self, damping: float, tol: float, max_iter: int):
        """Power iterates x_1..x_k of weighted PageRank (out-edges share a
        vertex's rank in proportion to their weight, dangling rank is
        spread uniformly), stopping at the first L1 < tol."""
        n = self.n
        outdeg = np.bincount(self.si, weights=self.weight, minlength=n)
        dangling = outdeg == 0
        x = np.full(n, 1.0 / n)
        iterates = []
        for _ in range(max_iter):
            contrib = x[self.si] / outdeg[self.si] * self.weight
            s = np.bincount(self.di, weights=contrib, minlength=n)
            nx_ = (1.0 - damping) / n + damping * (s + x[dangling].sum() / n)
            l1 = float(np.abs(nx_ - x).sum())
            x = nx_
            iterates.append(x)
            if l1 < tol:
                break
        return iterates

    def _lookup(self, ids: np.ndarray) -> np.ndarray | None:
        pos = np.searchsorted(self.ids, ids)
        if len(ids) != self.n or not np.array_equal(self.ids[np.clip(pos, 0, self.n - 1)], ids):
            return None
        return pos

    def check_pagerank(self, result: pd.DataFrame, rounds: int, iterates) -> tuple[bool, str]:
        """Same round count as the reference and allclose(rtol=1e-6)
        to the reference iterate of that round."""
        if rounds != len(iterates):
            return False, f"pagerank took {rounds} rounds, reference {len(iterates)}"
        res = result.sort_values("id")
        pos = self._lookup(res["id"].to_numpy(np.int64))
        if pos is None:
            return False, "pagerank vertex set differs from the reference"
        got = res["pagerank"].to_numpy(np.float64)
        ok = np.allclose(got, iterates[-1][pos], rtol=1e-6, atol=0.0)
        return bool(ok), "" if ok else "pagerank values differ from the reference"

    # CC ------------------------------------------------------------------
    def components(self) -> np.ndarray:
        """Min vertex id of each vertex's weakly connected component."""
        import networkx as nx

        g = nx.Graph()
        g.add_nodes_from(range(self.n))
        g.add_edges_from(zip(self.si.tolist(), self.di.tolist()))
        label = np.empty(self.n, dtype=np.int64)
        for comp in nx.connected_components(g):
            members = np.fromiter(comp, dtype=np.int64)
            label[members] = self.ids[members].min()
        return label

    def check_values(self, result: pd.DataFrame, col: str, ref: np.ndarray, what: str):
        res = result.sort_values("id")
        pos = self._lookup(res["id"].to_numpy(np.int64))
        if pos is None:
            return False, f"{what} vertex set differs from the reference"
        ok = np.array_equal(res[col].to_numpy(), ref[pos])
        return bool(ok), "" if ok else f"{what} values differ from the reference"

    # SSSP ----------------------------------------------------------------
    def distances(self, source: int) -> np.ndarray:
        import networkx as nx

        g = nx.DiGraph()
        g.add_nodes_from(range(self.n))
        for s, d, w in zip(self.si.tolist(), self.di.tolist(), self.weight.tolist()):
            if not g.has_edge(s, d) or g[s][d]["weight"] > w:
                g.add_edge(s, d, weight=w)
        src = int(np.searchsorted(self.ids, source))
        dist = np.full(self.n, np.inf)
        for v, dv in nx.single_source_dijkstra_path_length(g, src).items():
            dist[v] = dv
        return dist

    # LPA -----------------------------------------------------------------
    def label_propagation(self, max_iter: int) -> np.ndarray:
        """Synchronous LPA on the symmetrized simple graph: most frequent
        neighbor label, ties to the smallest label; no neighbors keeps."""
        a = np.concatenate([self.si, self.di])
        b = np.concatenate([self.di, self.si])
        pairs = np.unique(np.stack([a, b], axis=1), axis=0)
        pairs = pairs[pairs[:, 0] != pairs[:, 1]]
        src, dst = pairs[:, 0], pairs[:, 1]
        label = self.ids.copy()
        for _ in range(max_iter):
            hist = (
                pd.DataFrame({"dst": dst, "label": label[src]})
                .groupby(["dst", "label"], sort=False)
                .size()
                .reset_index(name="cnt")
                .sort_values(["dst", "cnt", "label"], ascending=[True, False, True])
                .drop_duplicates("dst")
            )
            new = label.copy()
            new[hist["dst"].to_numpy()] = hist["label"].to_numpy()
            if np.array_equal(new, label):
                break
            label = new
        return label

    # triangles -----------------------------------------------------------
    def triangles(self) -> int:
        """Triangle count in DuckDB.  Edges point from the lower (degree,
        id) end to the higher, which bounds every vertex's out-degree by
        O(sqrt |E|) so hub vertices do not blow up the two-hop join."""
        import duckdb

        con = duckdb.connect()
        try:
            con.register("e", pd.DataFrame({"u": self.si, "v": self.di}))
            con.execute(
                "CREATE TEMP TABLE c AS SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b "
                "FROM e WHERE u <> v"
            )
            con.execute(
                "CREATE TEMP TABLE d AS SELECT x AS v, count(*) AS deg "
                "FROM (SELECT a AS x FROM c UNION ALL SELECT b FROM c) GROUP BY x"
            )
            first = "(da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b))"
            con.execute(
                f"CREATE TEMP TABLE o AS SELECT "
                f"CASE WHEN {first} THEN c.a ELSE c.b END AS lo, "
                f"CASE WHEN {first} THEN c.b ELSE c.a END AS hi "
                "FROM c JOIN d da ON da.v = c.a JOIN d db ON db.v = c.b"
            )
            return int(
                con.execute(
                    "SELECT count(*) FROM o x JOIN o y ON y.lo = x.hi "
                    "JOIN o z ON z.lo = x.lo AND z.hi = y.hi"
                ).fetchone()[0]
            )
        finally:
            con.close()


# ------------------------------------------------------------- similarity
def _cosines(X: np.ndarray, Q: np.ndarray) -> np.ndarray:
    xn = np.sqrt((X * X).sum(axis=1))
    qn = np.sqrt((Q * Q).sum(axis=1))
    return (Q @ X.T) / np.outer(qn, xn)


def knn_reference(ids: np.ndarray, X: np.ndarray, qids: np.ndarray, k: int) -> dict:
    """Exact cosine top-k per query (self excluded, ties to the smaller
    id): {query_id: [(neighbor_id, cos), ...]}."""
    Q = X[np.searchsorted(ids, qids)]
    cos = _cosines(X, Q)
    out = {}
    for qi, q in enumerate(qids):
        c = cos[qi].copy()
        c[ids == q] = -np.inf
        order = np.lexsort((ids, -c))[:k]
        out[int(q)] = [(int(ids[j]), float(c[j])) for j in order]
    return out


def check_knn(result: pd.DataFrame, ref: dict, ids, X, k: int) -> tuple[bool, str]:
    """Rank by rank, the returned neighbor's exact cosine equals the
    reference's within 1e-12 (equal-cosine neighbors may swap)."""
    pos = {int(i): j for j, i in enumerate(ids)}
    for q, expect in ref.items():
        rows = result[result["query_id"] == q].sort_values("rank")
        if rows["rank"].tolist() != list(range(1, len(expect) + 1)):
            return False, f"knn query {q}: ranks {rows['rank'].tolist()}"
        if rows["neighbor_id"].nunique() != len(rows) or q in set(rows["neighbor_id"]):
            return False, f"knn query {q}: duplicate or self neighbor"
        qv = X[pos[q]]
        for (_, c_ref), nb_got in zip(expect, rows["neighbor_id"].tolist()):
            v = X[pos[int(nb_got)]]
            c_got = float(qv @ v / (np.sqrt(qv @ qv) * np.sqrt(v @ v)))
            if abs(c_got - c_ref) > 1e-12:
                return False, f"knn query {q}: neighbor {nb_got} is not top-{k}"
    if set(result["query_id"].unique()) != set(ref):
        return False, "knn query set differs"
    return True, ""


def _round6(a: np.ndarray) -> np.ndarray:
    return np.round(a, 6)


def _assign(X, centroids, n_probe: int) -> np.ndarray:
    """Nearest ``n_probe`` buckets by 6-decimal cosine, ties to the
    smaller bucket (the engine's literal-centroid assignment)."""
    ccos = _round6(_cosines(np.asarray(centroids), X))
    b = np.arange(ccos.shape[1])
    order = np.lexsort((np.broadcast_to(b, ccos.shape), -ccos), axis=1)
    return order[:, :n_probe]


def ivf_recall_reference(ids, X, qids, k, n_centroids, iters, n_probe, exact) -> float:
    """Recall@k of a numpy replica of the trained IVF index (lowest-id
    init, Lloyd rounds with 6-decimal means) against ``exact``."""
    centroids = X[np.argsort(ids)[:n_centroids]].copy()
    for _ in range(iters):
        bucket = _assign(X, centroids, 1)[:, 0]
        for b in range(n_centroids):
            members = X[bucket == b]
            if len(members):
                centroids[b] = _round6(members.mean(axis=0))
    corpus_bucket = _assign(X, centroids, 1)[:, 0]
    Q = X[np.searchsorted(ids, qids)]
    probes = _assign(Q, centroids, n_probe)
    cos = _cosines(X, Q)
    hit = total = 0
    for qi, q in enumerate(qids):
        c = np.where(np.isin(corpus_bucket, probes[qi]), cos[qi], -np.inf)
        c[ids == q] = -np.inf
        cand = [j for j in np.lexsort((ids, -c))[:k] if np.isfinite(c[j])]
        got = {int(ids[j]) for j in cand}
        want = {nb for nb, _ in exact[int(q)]}
        hit += len(got & want)
        total += len(want)
    return hit / total if total else 1.0


def knn_recall(result: pd.DataFrame, exact: dict) -> float:
    hit = total = 0
    for q, expect in exact.items():
        got = set(result.loc[result["query_id"] == q, "neighbor_id"].tolist())
        want = {nb for nb, _ in expect}
        hit += len(got & want)
        total += len(want)
    return hit / total if total else 1.0


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _shingles(text: str, k: int) -> set[str]:
    toks = text.split(" ")
    if len(toks) < k:
        return {text}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def _half_up6(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def near_duplicates_reference(
    doc_ids, texts, k: int, threshold: float, n_perms: int, n_bands: int
) -> tuple[dict, int]:
    """MinHash-LSH near duplicates in plain Python (sha256 string-min
    signatures, band-key candidates, exact shingle Jaccard):
    ({(id1, id2): jaccard}, candidate pair count)."""
    sh = {int(i): _shingles(t, k) for i, t in zip(doc_ids, texts)}
    per_band = n_perms // n_bands
    buckets = defaultdict(list)
    for i, s in sh.items():
        sig = [min(_sha(f"s{p}|{x}") for x in s) for p in range(n_perms)]
        for b in range(n_bands):
            buckets[(b, "|".join(sig[b * per_band : (b + 1) * per_band]))].append(i)
    cands = set()
    for members in buckets.values():
        members = sorted(members)
        for a_i, a in enumerate(members):
            for b in members[a_i + 1 :]:
                cands.add((a, b))
    out = {}
    for a, b in cands:
        inter = len(sh[a] & sh[b])
        jac = _half_up6(inter / (len(sh[a]) + len(sh[b]) - inter))
        if jac >= threshold:
            out[(a, b)] = jac
    return out, len(cands)


def check_pairs(result: pd.DataFrame, ref: dict) -> tuple[bool, str]:
    got = {
        (int(a), int(b)): float(j)
        for a, b, j in zip(result["id1"], result["id2"], result["jaccard"])
    }
    if got != ref:
        return False, f"near-duplicate pairs differ ({len(got)} vs {len(ref)} reference)"
    return True, ""


def simhash_reference(doc_ids, texts) -> dict:
    """Portable SimHash: bit j of a token = parity of hex digit j of
    sha256(token); bit j of the document = sum of +/-1 votes >= 0."""
    bits: dict[str, np.ndarray] = {}
    out = {}
    for i, text in zip(doc_ids, texts):
        votes = np.zeros(64, dtype=np.int64)
        for tok in text.split(" "):
            if tok not in bits:
                bits[tok] = np.array([(int(c, 16) % 2) * 2 - 1 for c in _sha(tok)])
            votes += bits[tok]
        out[int(i)] = "".join("1" if v >= 0 else "0" for v in votes)
    return out


def check_mapping(result: pd.DataFrame, key: str, col: str, ref: dict, what: str):
    got = dict(zip(result[key].astype("int64").tolist(), result[col].tolist()))
    ok = got == ref
    return ok, "" if ok else f"{what} differs from the reference"
