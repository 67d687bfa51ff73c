"""Layered benchmark for the pcgraph partition-centric engine.

Usage (from the repository root):

    python3 layerbench/run.py --workload rounds_small --seed 1 --seconds 20 --trace 0

One invocation starts one Spark session on ``local[<cpus>]``, generates
the workload's inputs from ``--seed``, sets up several times, warms up,
then repeats the workload's job list until ``--seconds`` have passed
(at least ``min_passes`` times).  Every job result is checked against an independent
reference.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
enables the Spark UI, runs one untraced pass, one pass with round hooks
and REST sampling and the layer probes, and reports the per-layer
metrics.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
See README.md for the workloads and the layer map.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE_DIR = os.path.join(ROOT, ".layerbench")
# set-up = input preparation once plus the block-store builds, repeated;
# setup_s reports the median build
BUILD_REPS = 2

# end-to-end metrics (reported with --trace 0), with units
END_TO_END = {"job_s": "s", "setup_s": "s"}

# per-layer metrics (reported with --trace 1); a layer a workload does
# not run reports 0
PER_LAYER = {
    "session.start_s": "s",
    "host.busy_pct": "%",
    "host.steal_pct": "%",
    "host.peak_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
    "trace.round_cover": "ratio",
    "derive.write_s": "s",
    "derive.edges": "count",
    "derive.shuffle_bytes": "bytes",
    "partition.build_s": "s",
    "partition.store_bytes": "bytes",
    "partition.max_block_ratio": "ratio",
    "partition.intra_edge_frac": "ratio",
    "partition.block_read_cold_ms": "ms",
    "partition.block_read_memo_ms": "ms",
    **{
        f"engine.rounds.{j}": "count"
        for j in ("pagerank", "cc", "sssp", "label_prop")
    },
    "engine.round_s.p50": "s",
    "engine.round_s.p90": "s",
    "engine.jobs_per_round": "count",
    "engine.stages_per_round": "count",
    "engine.tasks_per_round": "count",
    "engine.driver_gap_s": "s",
    "engine.stage_s.route": "s",
    "engine.stage_s.kernel": "s",
    "engine.stage_s.merge": "s",
    "engine.shuffle_read_bytes_per_round": "bytes",
    "engine.shuffle_write_bytes_per_round": "bytes",
    "engine.spill_bytes": "bytes",
    "engine.gc_s": "s",
    "engine.cpu_frac": "ratio",
    "engine.active_vertices": "count",
    "kernel.pr_ns_per_edge": "ns/edge",
    "kernel.cc_ns_per_edge": "ns/edge",
    "kernel.sssp_ns_per_edge": "ns/edge",
    "kernel.lp_ns_per_edge": "ns/edge",
    "ckpt.bytes_per_round": "bytes",
    "ckpt.files_per_round": "count",
    "statestore.round_s": "s",
    "statestore.files_written": "count",
    "statestore.bytes_written": "bytes",
    "statestore.compacted_buckets": "count",
    "resume.open_s": "s",
    "similarity.train_ivf_s": "s",
    "similarity.shuffle_bytes": "bytes",
    "similarity.ivf_recall_at3": "ratio",
    "dedup.candidate_pairs": "count",
    "dedup.candidate_precision": "ratio",
}

# job -> the time-to-result metric it reports in the printed table
JOB_METRIC = {
    "derive": "derive_s",
    "pagerank": "pagerank_s",
    "cc": "cc_s",
    "sssp": "sssp_s",
    "label_prop": "label_prop_s",
    "triangles": "triangles_s",
    "knn": "knn_s",
    "knn_ivf": "knn_ivf_s",
    "dedup": "dedup_s",
    "simhash": "simhash_s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(workdir: str) -> None:
    """Benchmark-owned scratch space; Python workers import pcgraph
    from this checkout."""
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["PCGRAPH_BLOCK_CACHE"] = os.path.join(workdir, "block-cache")
    os.environ.setdefault("PCGRAPH_DRIVER_MEM", "3g")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def code_fingerprint() -> str:
    """Hash of the engine and benchmark sources: exact counts are only
    compared between runs of the same code."""
    h = hashlib.sha256()
    for base in ("pcgraph", "layerbench"):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


# ------------------------------------------------------------------ passes
def run_pass(wl, tracer, warm: bool = False) -> dict:
    """One pass over the job list.  Returns {job: record}; a job that
    raises or returns a wrong result is recorded with ok=False."""
    from layerbench.workloads import result_digest

    out = {}
    for name, fn in wl.jobs():
        if warm and name not in wl.warm_jobs:
            continue
        rec = {"ok": False, "detail": ""}
        with tracer.span(name, wl.layer_of.get(name, "engine")) as span:
            before = tracer.sampler.snapshot() if span is not None else None
            hook = tracer.round_hook(span) if span and name in wl.iterative else None
            try:
                t0 = time.perf_counter()
                res = fn(hook, warm)
                rec["s"] = time.perf_counter() - t0
            except Exception:  # a failing job is counted, the run goes on
                rec["detail"] = traceback.format_exc(limit=3)
                res = None
            if span is not None:
                tracer.end_rounds(span)
                after = tracer.sampler.snapshot()
                span["stage_totals"] = {k: after[k] - before[k] for k in after}
        tracer.clear_group()
        if res is None or warm:
            out[name] = rec
            continue
        hist = res[1] or []
        rec["rounds"] = len(hist)
        rec["round_s"] = [h["round_sec"] for h in hist]
        try:
            rec["ok"], rec["detail"] = wl.check(name, res)
            rec["digest"] = result_digest(res)
        except Exception:
            rec["ok"], rec["detail"] = False, traceback.format_exc(limit=3)
        out[name] = rec
    return out


def exact_counts(passes: list[dict]) -> tuple[dict, list[str]]:
    """Rounds and result digest per job; they must repeat exactly
    across the passes of one run."""
    counts, problems = {}, []
    for p in passes:
        for job, rec in p.items():
            if "digest" not in rec:
                continue
            c = {"rounds": rec["rounds"], "digest": rec["digest"]}
            if job in counts and counts[job] != c:
                problems.append(f"{job}: {c} differs from {counts[job]} within the run")
            counts.setdefault(job, c)
    return counts, problems


def round_counts(spans: list[dict]) -> dict:
    """Per iterative job of a traced pass: (jobs, stages, tasks, shuffle
    bytes written) of every round; these repeat exactly for one code
    version and seed."""
    out: dict[str, list] = {}
    for r in spans:
        if "group" in r:
            out.setdefault(f"{r['name']}:trace", []).append(
                [r["jobs"], r["stages"], r["tasks"], r["stage_delta"]["shuffleWriteBytes"]]
            )
    return out


def compare_saved(path: str, counts: dict) -> list[str]:
    """Compare with the counts saved by an earlier run of the same code
    and seed; save them when there are none."""
    saved = {}
    if os.path.exists(path):
        with open(path) as fh:
            saved = json.load(fh)
    problems = [
        f"{k}: {counts[k]} differs from an earlier run's {saved[k]}"
        for k in sorted(set(saved) & set(counts))
        if saved[k] != counts[k]
    ]
    if not set(counts) <= set(saved):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump({**counts, **saved}, fh, sort_keys=True)
        os.replace(path + ".tmp", path)
    return problems


def tally(warm: dict, passes: list[dict]) -> tuple[int, int]:
    """(attempted, failed): every checked job run, plus warm-up runs
    that raised; a wrong result or an exception is a failure."""
    crashed = sum(1 for r in warm.values() if "s" not in r)
    attempted = sum(len(p) for p in passes) + crashed
    failed = sum(1 for p in passes for r in p.values() if not r["ok"]) + crashed
    return attempted, failed


def result_line(values: dict, units: dict, attempted: int, failed: int, problems: list) -> str:
    """The last stdout line: exactly correct, attempted, failed, metrics."""
    return json.dumps(
        {
            "correct": failed == 0 and not problems,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
        }
    )


# ----------------------------------------------------------------- metrics
def pass_seconds(p: dict) -> float:
    """Time to result of a pass: the sum of its jobs' times."""
    return sum(r["s"] for r in p.values() if "s" in r)


def end_to_end(passes, setup_times, session_s) -> dict:
    return {
        "job_s": statistics.median(pass_seconds(p) for p in passes),
        "setup_s": session_s + statistics.median(setup_times),
    }


def table_rows(wl, passes, setup_times, session_s, peak_rss, rss_samples, attempted, failed):
    """Every end-to-end metric that applies to the workload, as
    (name, unit, samples) or (name, unit, value, n)."""
    from layerbench.stats import summarize

    rows = [("job_s", "s", [pass_seconds(p) for p in passes])]
    rows.append(("setup_s", "s", [session_s + t for t in setup_times]))
    per_metric: dict[str, list[float]] = {}
    for p in passes:
        for job, rec in p.items():
            if "s" in rec:
                per_metric.setdefault(JOB_METRIC[job], []).append(rec["s"])
    rows += [(m, "s", v) for m, v in per_metric.items()]
    round_s = [s for p in passes for job, rec in p.items() if job in wl.iterative for s in rec.get("round_s", [])]
    if round_s:
        edge_rounds = sum(
            wl.n_edges * rec.get("rounds", 0)
            for p in passes for job, rec in p.items() if job in wl.iterative
        )
        rows.append(("edge_rounds_per_s", "1/s", edge_rounds / sum(round_s), len(round_s)))
        rows.append(("round_s", "s", round_s))
    rows.append(("peak_rss_mb", "MB", peak_rss / 2**20, rss_samples))
    rows.append(("fail_ratio", "ratio", failed / attempted if attempted else 1.0, attempted))
    out = []
    for row in rows:
        if len(row) == 3:
            s = summarize(row[2])
            out.append((row[0], row[1], s["n"], s["median"], s["tail_p"], s["tail"]))
        else:
            out.append((row[0], row[1], row[3], row[2], None, None))
    return out


def per_layer(wl, tracer, traced, untraced_job_s, session_s, host_cpu, probes) -> dict:
    from layerbench.stats import percentile

    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = session_s
    m["host.busy_pct"] = 100.0 - host_cpu.get("idle_pct", 0.0) - host_cpu.get("iowait_pct", 0.0)
    m["host.steal_pct"] = host_cpu.get("steal_pct", 0.0)
    m["trace.overhead_ratio"] = pass_seconds(traced) / untraced_job_s
    spans = tracer.spans
    run_id = next(s["id"] for s in spans if s["layer"] == "run")
    jobs = {s["name"]: s for s in spans if s["parent"] == run_id}
    rounds = [s for s in spans if "group" in s]
    covers = {}
    for name in wl.iterative:
        mine = [r for r in rounds if r["parent"] == jobs[name]["id"]]
        m[f"engine.rounds.{name}"] = float(len(mine))
        if mine:
            covers[name] = sum(r["end"] - r["start"] for r in mine) / (
                jobs[name]["end"] - jobs[name]["start"]
            )
    m["trace.round_cover"] = min(covers.values()) if covers else 0.0
    print("round cover: " + " ".join(f"{j}={c:.3f}" for j, c in covers.items()))
    if "derive" in traced and "s" in traced["derive"]:
        m["derive.write_s"] = traced["derive"]["s"]
        m["derive.shuffle_bytes"] = jobs["derive"]["stage_totals"]["shuffleWriteBytes"]
    if rounds:
        med = lambda xs: float(statistics.median(xs)) if xs else 0.0  # noqa: E731
        wall = [r["end"] - r["start"] for r in rounds]
        m["engine.round_s.p50"] = percentile(wall, 50)
        m["engine.round_s.p90"] = percentile(wall, 90)
        m["engine.jobs_per_round"] = med([r["jobs"] for r in rounds])
        m["engine.stages_per_round"] = med([r["stages"] for r in rounds])
        m["engine.tasks_per_round"] = med([r["tasks"] for r in rounds])
        m["engine.driver_gap_s"] = med([(r["end"] - r["start"]) - r["job_cover_s"] for r in rounds])
        # positional split of the fused one-job round (classic loop)
        split = [r["stage_s"] for r in rounds if "stage_s" in r and r["jobs"] == 1]
        for stage in ("route", "kernel", "merge"):
            m[f"engine.stage_s.{stage}"] = med([x[stage] for x in split])
        d = [r["stage_delta"] for r in rounds]
        m["engine.shuffle_read_bytes_per_round"] = med([x["shuffleReadBytes"] for x in d])
        m["engine.shuffle_write_bytes_per_round"] = med([x["shuffleWriteBytes"] for x in d])
        m["engine.spill_bytes"] = sum(x["memoryBytesSpilled"] + x["diskBytesSpilled"] for x in d)
        m["engine.gc_s"] = sum(x["jvmGcTime"] for x in d) / 1e3
        run = sum(x["executorRunTime"] for x in d)
        m["engine.cpu_frac"] = sum(x["executorCpuTime"] for x in d) / run if run else 0.0
        m["engine.active_vertices"] = float(sum(r.get("active", 0) for r in rounds))
    if "knn" in jobs:
        m["similarity.shuffle_bytes"] = sum(
            jobs[j]["stage_totals"]["shuffleWriteBytes"] for j in ("knn", "knn_ivf")
        )
    unknown = set(probes) - set(m)
    if unknown:
        raise KeyError(f"probe metrics missing from PER_LAYER: {sorted(unknown)}")
    m.update({k: float(v) for k, v in probes.items()})
    return m


def print_table(workload, rows, problems, passes, passes_all) -> None:
    print(f"layerbench {workload}: {len(passes)} timed pass(es), {len(passes_all)} checked")
    print(f"{'metric':<22}{'unit':>7}{'n':>6}{'median':>14}{'tail':>20}")
    for name, unit, n, med, tail_p, tail in rows:
        t = f"p{tail_p:g}={tail:.4g}" if tail is not None else "n/a"
        print(f"{name:<22}{unit:>7}{n:>6}{med:>14.5g}{t:>20}")
    rounds = {j: r["rounds"] for j, r in passes[0].items() if r.get("rounds")}
    if rounds:
        print("rounds: " + " ".join(f"{j}={n}" for j, n in rounds.items()))
    for p in passes_all:
        for job, rec in p.items():
            if not rec["ok"]:
                print(f"FAILED {job}: {rec['detail'].strip()}")
    for msg in problems:
        print(f"SELF-CHECK {msg}")


def stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and the JVM's Python
    workers, and wait until each process has ended."""
    import subprocess

    from pyspark import SparkContext

    from layerbench.host import descendants, wait_gone

    children = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_gone(children, timeout_s=60)


# -------------------------------------------------------------------- main
def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    fingerprint = code_fingerprint()  # of the code this run executes
    workdir = os.path.join(STATE_DIR, f"work-{os.getpid()}")
    configure_env(workdir)
    try:
        from pcgraph.metrics import HostCpuSampler
        from pcgraph.session import get_spark

        from layerbench.host import PeakRss
        from layerbench.tracing import Tracer
        from layerbench.workloads import WORKLOADS
    except ImportError as err:
        print(f"layerbench: cannot import the engine from {ROOT}: {err}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"layerbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)

    cpus = os.cpu_count() or 4
    conf = {"spark.ui.enabled": "true" if args.trace else "false", "spark.ui.showConsoleProgress": "false"}
    try:
        with PeakRss() as rss:
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"layerbench-{args.workload}", cores=cpus, extra_conf=conf)
            session_s = time.perf_counter() - t0
            try:
                tracer = Tracer(spark, enabled=False)
                wl = WORKLOADS[args.workload](spark, workdir, args.seed)
                t0 = time.perf_counter()
                wl.prepare()
                prepare_s = time.perf_counter() - t0
                build_times = []
                for rep in range(BUILD_REPS):
                    t0 = time.perf_counter()
                    wl.build(f"rep{rep}")
                    build_times.append(time.perf_counter() - t0)
                setup_times = [prepare_s + t for t in build_times]
                phases = {"session": session_s, "prepare": prepare_s}
                phases.update({f"build{i + 1}": t for i, t in enumerate(build_times)})
                t0 = time.perf_counter()
                warm = run_pass(wl, tracer, warm=True)
                phases["warm_up"] = time.perf_counter() - t0
                phases.update({f"warm.{j}": r["s"] for j, r in warm.items() if "s" in r})
                t0 = time.perf_counter()
                wl.reference()
                phases["reference"] = time.perf_counter() - t0
                host = HostCpuSampler()
                passes = []
                t_start = time.perf_counter()
                # at least min_passes, so that job_s is the same statistic
                # whether or not a pass outlasts --seconds; a traced run
                # reports per-layer metrics only and needs one
                while len(passes) < (1 if args.trace else wl.min_passes) or (
                    not args.trace and time.perf_counter() - t_start < args.seconds
                ):
                    passes.append(run_pass(wl, tracer))
                host_cpu = host.delta()
                phases["passes"] = time.perf_counter() - t_start
                passes_all = list(passes)
                if args.trace:
                    tracer = Tracer(spark, enabled=True)
                    with tracer.span(f"{args.workload}:{args.seed}", "run"):
                        traced = run_pass(wl, tracer)
                        with tracer.span("layer_probes", "probes"):
                            probes = wl.layer_probes()
                    tracer.annotate_rounds()
                    untraced_job_s = pass_seconds(passes[-1])
                    passes_all.append(traced)
            finally:
                stop_spark(spark)
        peak = rss.peak
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    attempted, failed = tally(warm, passes_all)
    counts, problems = exact_counts(passes_all)
    if args.trace:
        counts.update(round_counts(tracer.spans))
    saved = os.path.join(STATE_DIR, "counts", f"{args.workload}-{args.seed}-{fingerprint}.json")
    problems += compare_saved(saved, counts)
    print("phases: " + " ".join(f"{k}={v:.4g}s" for k, v in phases.items()))
    print_table(
        args.workload,
        table_rows(wl, passes, setup_times, session_s, peak, rss.samples, attempted, failed),
        problems,
        passes,
        passes_all,
    )
    if args.trace:
        os.makedirs(os.path.join(STATE_DIR, "traces"), exist_ok=True)
        tracer.write(os.path.join(STATE_DIR, "traces", f"{args.workload}-{args.seed}.json"))
        values = per_layer(wl, tracer, traced, untraced_job_s, session_s, host_cpu, probes)
        values["host.peak_rss_mb"] = peak / 2**20
        units = PER_LAYER
    else:
        values = end_to_end(passes, setup_times, session_s)
        units = END_TO_END
    print(result_line(values, units, attempted, failed, problems))
    return 0


if __name__ == "__main__":
    sys.exit(main())
