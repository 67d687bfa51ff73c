"""Spans recorded from the benchmark's own files.

Nothing is instrumented inside ``pcgraph``: job and layer spans wrap the
public calls, and round spans come from the public ``post_superstep``
hook.  Each round's Spark jobs are tagged with ``setJobGroup`` so that
job, stage and task counts can be read back from the Spark REST API
after the job.  Spans stay in memory and are written once at the end.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from datetime import datetime
from urllib.request import urlopen

from pcgraph.metrics import StageMetricsSampler

# history fields copied onto round spans when the engine reports them
_HISTORY_FIELDS = ("active", "active_buckets", "store_version", "compacted_buckets")


def _rest_time(s: str | None) -> float | None:
    """Spark REST timestamps ('2026-10-17T03:40:12.345GMT') -> epoch s."""
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every call a no-op
    that adds no Spark jobs and no hooks."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = spark.sparkContext
        self.sampler = StageMetricsSampler(spark) if enabled else None
        if enabled and not self.sampler.available:
            raise RuntimeError("tracing needs spark.ui.enabled=true")

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    # ------------------------------------------------------------ rounds
    def round_hook(self, job: dict):
        """post_superstep hook for ``job`` (a job span): closes one round
        span per call and tags the next round's Spark jobs."""
        if not self.enabled:
            return None
        self.sampler.delta()  # baseline: the job's own start
        self.sc.setJobGroup(f"lb:{job['name']}:r1", f"{job['name']} round 1")
        state = {"last": None}

        def hook(step: int, metrics: dict) -> None:
            now = time.time()
            start = state["last"] if state["last"] is not None else now - metrics["round_sec"]
            rec = {
                "id": len(self.spans),
                "parent": job["id"],
                "name": f"{job['name']}:round",
                "layer": "engine",
                "step": step,
                "start": start,
                "end": now,
                "group": f"lb:{job['name']}:r{step}",
                "stage_delta": self.sampler.delta(),
            }
            rec.update({k: metrics[k] for k in _HISTORY_FIELDS if k in metrics})
            self.spans.append(rec)
            state["last"] = now
            self.sc.setJobGroup(f"lb:{job['name']}:r{step + 1}", f"{job['name']} round {step + 1}")

        return hook

    def end_rounds(self, job: dict) -> None:
        if self.enabled:
            self.sc.setJobGroup(f"lb:{job['name']}:result", f"{job['name']} result")

    def clear_group(self) -> None:
        if self.enabled:
            self.sc.setJobGroup("lb:other", "untagged")

    # ---------------------------------------------------------- REST data
    def _rest(self, path: str):
        url = f"{self.sampler.url}/api/v1/applications/{self.sampler.app_id}/{path}"
        with urlopen(url, timeout=30) as fh:
            return json.load(fh)

    def annotate_rounds(self) -> None:
        """Attach job/stage/task counts, job coverage and positional stage
        times (route, kernel, merge) to every round span."""
        if not self.enabled:
            return
        jobs = self._rest("jobs")
        stages = {s["stageId"]: s for s in self._rest("stages?status=complete")}
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup") or "", []).append(j)
        for rec in self.spans:
            if "group" not in rec:
                continue
            js = by_group.get(rec["group"], [])
            done = [stages[s] for j in js for s in j["stageIds"] if s in stages]
            done.sort(key=lambda s: s["stageId"])
            rec["jobs"] = len(js)
            rec["stages"] = len(done)
            rec["tasks"] = sum(s["numTasks"] for s in done)
            rec["job_cover_s"] = _covered(
                [(_rest_time(j.get("submissionTime")), _rest_time(j.get("completionTime"))) for j in js],
                rec["start"],
                rec["end"],
            )
            if len(done) >= 3:
                wall = [
                    (_rest_time(s.get("completionTime")) or 0.0)
                    - (_rest_time(s.get("submissionTime")) or 0.0)
                    for s in done
                ]
                rec["stage_s"] = {
                    "route": wall[0],
                    "kernel": sum(wall[1:-1]),
                    "merge": wall[-1],
                }

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if a is not None and b is not None
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
