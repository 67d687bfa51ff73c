"""Tests of the benchmark itself (no Spark session needed).

Run from the repository root:  python3 -m pytest layerbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from layerbench import oracles, run, stats  # noqa: E402

BENCHMARK = os.path.join(run.ROOT, "BENCHMARK.json")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec():
    with open(BENCHMARK) as fh:
        return json.load(fh)


def test_metric_names_and_units_match_benchmark_json(spec):
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(u) for u in list(run.END_TO_END.values()) + list(run.PER_LAYER.values()))


def test_benchmark_json_contract(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    from layerbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in spec["workloads"])
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in spec["per_layer"])


def test_result_line_has_every_metric_with_unit():
    values = {k: 1.5 for k in run.END_TO_END}
    line = json.loads(run.result_line(values, run.END_TO_END, 4, 0, []))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True
    assert line["metrics"] == {k: {"value": 1.5, "unit": u} for k, u in run.END_TO_END.items()}
    # a self-check problem makes the run incorrect even with no failure
    assert json.loads(run.result_line(values, run.END_TO_END, 4, 0, ["x"]))["correct"] is False


@pytest.mark.parametrize(
    "n, p", [(0, None), (9, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
             (999, 90.0), (1000, 99.0), (10000, 99.9)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        assert stats.samples_beyond(n, round(p * 10)) >= 10


def test_summarize_reports_sample_count_median_and_tail():
    s = stats.summarize([float(x) for x in range(1, 101)])
    assert s["n"] == 100 and s["median"] == 50.5
    assert s["tail_p"] == 90.0 and s["tail"] == pytest.approx(90.1)
    assert stats.summarize([3.0])["tail"] is None


class _Tracer:
    """Disabled tracer stand-in (no Spark context)."""

    def span(self, *a, **k):
        from contextlib import nullcontext

        return nullcontext()

    def clear_group(self):
        pass


class _WrongWorkload:
    """Two jobs; ``bad`` returns a deliberately wrong answer, ``boom``
    raises: both count as failures, the run is not aborted."""

    iterative = ()
    layer_of = {}
    warm_jobs = ("good", "boom")

    def jobs(self):
        return [
            ("good", lambda hook, warm: (42, None)),
            ("bad", lambda hook, warm: (41, None)),
            ("boom", lambda hook, warm: 1 / 0),
        ]

    def check(self, name, out):
        ok = out[0] == 42
        return ok, "" if ok else f"{out[0]} != 42"


def test_wrong_result_counts_in_fail_ratio():
    wl = _WrongWorkload()
    warm = run.run_pass(wl, _Tracer(), warm=True)
    passes = [run.run_pass(wl, _Tracer()) for _ in range(2)]
    attempted, failed = run.tally(warm, passes)
    # 3 jobs x 2 passes, plus the warm-up run that raised
    assert (attempted, failed) == (7, 5)
    assert passes[0]["good"]["ok"] and not passes[0]["bad"]["ok"]
    assert "ZeroDivisionError" in passes[0]["boom"]["detail"]
    line = json.loads(run.result_line({k: 1.0 for k in run.END_TO_END}, run.END_TO_END, attempted, failed, []))
    assert line["correct"] is False and line["failed"] == 5


def test_exact_counts_must_repeat(tmp_path):
    p1 = {"pagerank": {"ok": True, "rounds": 14, "digest": "a"}}
    p2 = {"pagerank": {"ok": True, "rounds": 15, "digest": "a"}}
    counts, problems = run.exact_counts([p1, p1])
    assert counts == {"pagerank": {"rounds": 14, "digest": "a"}} and not problems
    assert run.exact_counts([p1, p2])[1]
    saved = str(tmp_path / "counts.json")
    assert run.compare_saved(saved, counts) == []  # first run saves
    assert run.compare_saved(saved, counts) == []
    assert run.compare_saved(saved, run.exact_counts([p2])[0])
    # traced runs add per-round counts; untraced runs leave them alone
    traced = {**counts, "pagerank:round:trace": [[1, 4, 10, 146043]]}
    assert run.compare_saved(saved, traced) == []
    assert run.compare_saved(saved, counts) == []
    assert run.compare_saved(saved, {"pagerank:round:trace": [[1, 4, 10, 9]]})


# ------------------------------------------------------------------ oracles
def _graph():
    # two components: a directed 4-cycle with a chord, and a path 10->11
    src = [1, 2, 3, 4, 1, 10]
    dst = [2, 3, 4, 1, 3, 11]
    return pd.DataFrame({"src": src, "dst": dst, "weight": [1.0, 2.0, 1.0, 1.0, 5.0, 1.0]})


def test_graph_references_on_a_tiny_graph():
    g = oracles.GraphReference(_graph())
    assert g.components().tolist() == [1, 1, 1, 1, 10, 10]
    d = g.distances(1)
    assert d.tolist() == [0.0, 1.0, 3.0, 4.0, np.inf, np.inf]
    it = g.pagerank_iterates(0.85, 1e-10, 500)
    assert it[-1].sum() == pytest.approx(1.0)
    # vertex 1 splits its rank 1:5 between 2 and 3 (edge weights);
    # vertex 11 has no out-edge, so its rank is spread over all six
    x = it[-2]
    assert it[-1][1] == pytest.approx(0.15 / 6 + 0.85 * (x[0] / 6 + x[5] / 6))
    labels = g.label_propagation(5)
    assert g.triangles() == 2  # {1,2,3} and {1,3,4}
    assert set(labels[:4]) <= {1, 2, 3, 4}
    # synchronous LPA swaps the labels of a lone edge every round
    assert labels[4:].tolist() == [11, 10]


def test_checks_reject_wrong_values():
    g = oracles.GraphReference(_graph())
    it = g.pagerank_iterates(0.85, 1e-6, 200)
    good = pd.DataFrame({"id": g.ids, "pagerank": it[-1]})
    assert g.check_pagerank(good, len(it), it)[0]
    bad = good.assign(pagerank=good["pagerank"] * (1 + 1e-4))
    assert not g.check_pagerank(bad, len(it), it)[0]
    assert not g.check_pagerank(good, len(it) + 1, it)[0]
    cc = pd.DataFrame({"id": g.ids, "component": g.components()})
    assert g.check_values(cc, "component", g.components(), "cc")[0]
    assert not g.check_values(cc.assign(component=1), "component", g.components(), "cc")[0]


def test_derive_invariants_follow_imports():
    src = pd.DataFrame(
        {
            "repo": ["r", "r", "r"],
            "path": ["src/pkg0/mod0.py", "src/pkg1/mod1.py", "src/pkg2/mod2.py"],
            "content": ["import pkg1.mod1\nimport pkg1.mod1", "import pkg2.mod2\nimport pkg9.x", ""],
        }
    )
    inv = oracles.derive_invariants(src)
    assert inv["edges"] == 2 and inv["weights"] == [(1.0, 1), (2.0, 1)]
    edges = pd.DataFrame({"src": [7, 8], "dst": [8, 9], "weight": [2.0, 1.0]})
    assert oracles.check_derive(edges, inv)[0]
    assert not oracles.check_derive(edges.assign(weight=1.0), inv)[0]


def test_knn_reference_and_recall():
    rng = np.random.default_rng(0)
    X = rng.normal(size=(50, 8))
    ids = np.arange(50)
    ref = oracles.knn_reference(ids, X, np.array([0, 7]), 3)
    cos = X[0] @ X.T / (np.linalg.norm(X[0]) * np.linalg.norm(X, axis=1))
    cos[0] = -np.inf
    assert [nb for nb, _ in ref[0]] == np.argsort(-cos)[:3].tolist()
    rows = [(q, nb, r + 1) for q, lst in ref.items() for r, (nb, _) in enumerate(lst)]
    res = pd.DataFrame(rows, columns=["query_id", "neighbor_id", "rank"])
    assert oracles.check_knn(res, ref, ids, X, 3)[0]
    wrong = res.copy()
    wrong.loc[0, "neighbor_id"] = np.argsort(cos)[1]  # a far neighbor
    assert not oracles.check_knn(wrong, ref, ids, X, 3)[0]
    assert oracles.knn_recall(res, ref) == 1.0
    assert oracles.knn_recall(res.iloc[1:], ref) == pytest.approx(5 / 6)
    # a one-bucket index probes everything, so it recalls exactly
    assert oracles.ivf_recall_reference(ids, X, np.array([0, 7]), 3, 1, 2, 1, ref) == 1.0


def test_near_duplicate_reference_finds_edited_copy():
    texts = ["a b c d e f g h", "a b c d e f g x", "p q r s t u v w"]
    pairs, cands = oracles.near_duplicates_reference(range(3), texts, 3, 0.2, 4, 2)
    assert cands >= len(pairs)
    for (a, b), j in pairs.items():
        assert (a, b) == (0, 1) and j == pytest.approx(5 / 7, abs=1e-6)
    assert oracles._half_up6(0.0078125) == 0.007813


def test_simhash_reference_is_64_bits():
    out = oracles.simhash_reference([5, 6], ["hello world", "hello world"])
    assert out[5] == out[6] and len(out[5]) == 64 and set(out[5]) <= {"0", "1"}
