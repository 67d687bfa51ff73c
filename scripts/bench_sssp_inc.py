"""A/B the state models on the full 316M-edge graph: SSSP's sparse
wavefront is THE case the DeltaStateStore exists for.

Two state models over identical topology (weighted block store, 128
partitions) from the same source:

  * classic         — per-round O(|V|) state localCheckpoint
                      (r3 recording: BENCH/sssp_316m_r3.json, flat
                      ~4-5 s/round regardless of frontier size);
  * delta           — DeltaStateStore: append ONLY changed rows as a
                      new version, min-reconciled on read — O(changed)
                      writes, the round-4 design (docs/PERF.md).

The bucket-rewrite model recorded alongside them in
BENCH/sssp_inc_316m_r4.json was removed from the engine.

Each mode runs in its own subprocess (fresh JVM — no cache bleed);
results land in BENCH/sssp_inc_316m_r4.json tagged by mode.

Usage:
  python scripts/bench_sssp_inc.py [--modes delta,classic]
      [--edges /tmp/pcgraph_scaling_edges.parquet]
      [--source -7426096421218428235] [--out BENCH/sssp_inc_316m_r4.json]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def child(mode: str, edges_path: str, source: int, n_buckets: int) -> None:
    from pcgraph.algos.sssp import sssp
    from pcgraph.partition import ensure_block_store
    from pcgraph.session import get_spark

    spark = get_spark(app_name=f"pcgraph-sssp-{mode}", cores=32)
    edges = spark.read.parquet(edges_path)
    t0 = time.monotonic()
    blocks = ensure_block_store(
        spark, edges.select("src", "dst", "weight"), 128,
        edges_path + ".wstore128", weighted=True, tag="directed-w",
    )
    build_sec = time.monotonic() - t0
    state_dir = tempfile.mkdtemp(prefix=f"pcgraph_sssp_{mode.replace('-', '_')}_")
    t0 = time.monotonic()
    result, hist = sssp(
        spark, edges, source=source, num_partitions=128, blocks=blocks,
        incremental=mode != "classic",
        state_store_dir=state_dir if mode != "classic" else None,
        n_buckets=n_buckets,
    )
    loop_sec = time.monotonic() - t0
    n_reached = result.filter("distance < cast('inf' as double)").count()
    print(
        "SSSP_RESULT "
        + json.dumps(
            {
                "tag": mode,
                "n_edges": edges.count(),
                "source": source,
                "n_buckets": n_buckets if mode != "classic" else None,
                "supersteps": len(hist),
                "superstep_sec": round(sum(h["round_sec"] for h in hist), 2),
                "loop_wall_sec": round(loop_sec, 2),
                "store_open_sec": round(build_sec, 2),
                "n_reached": n_reached,
                "rounds": [
                    {
                        k: h[k]
                        for k in (
                            "superstep", "active", "round_sec",
                            "active_buckets", "store_version",
                            "compacted_buckets",
                        )
                        if k in h
                    }
                    for h in hist
                ],
            }
        )
    )
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--modes", default="delta,classic")
    ap.add_argument("--edges", default="/tmp/pcgraph_scaling_edges.parquet")
    ap.add_argument("--source", type=int, default=-7426096421218428235)
    ap.add_argument("--n-buckets", type=int, default=256)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "sssp_inc_316m_r4.json"))
    ap.add_argument("--child-mode", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()

    if args.child_mode:
        child(args.child_mode, args.edges, args.source, args.n_buckets)
        return

    modes = [m.strip() for m in args.modes.split(",")]
    unknown = sorted(set(modes) - {"classic", "delta"})
    if unknown:
        ap.error(f"unknown mode(s) {unknown}; choose from classic, delta")
    results = []
    for mode in modes:
        print(f"=== mode={mode} ===", flush=True)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--child-mode", mode, "--edges", args.edges,
             "--source", str(args.source), "--n-buckets", str(args.n_buckets)],
            capture_output=True, text=True, cwd=REPO,
        )
        sys.stderr.write(proc.stderr[-4000:])
        for line in proc.stdout.splitlines():
            if line.startswith("SSSP_RESULT "):
                results.append(json.loads(line[len("SSSP_RESULT "):]))
                print(line, flush=True)
        if proc.returncode != 0:
            print(f"mode {mode} FAILED rc={proc.returncode}", flush=True)
            print(proc.stdout[-4000:])
    with open(args.out, "w") as f:
        json.dump({"runs": results}, f, indent=1)
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
