"""Spans and Spark job/task counts recorded around the engine's public calls.

The benchmark never edits the engine: `instrument` replaces public functions
and methods with wrappers at run time, from this file, for the traced run
only. Each span carries a name, start, end, parent span and request id; the
Spark jobs and tasks it caused are counted through a per-span job group and
the status tracker (inclusive of child spans). Spans stay in memory and are
written out once, when the run ends.
"""
from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Tracer:
    def __init__(self):
        self.sc = None  # set by attach() once the session exists
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seen_stages: set[int] = set()
        self.request: str | None = None

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "request": self.request,
            "jobs": 0,
            "tasks": 0,
            **attrs,
        }
        self.spans.append(rec)
        group = f"perfbench-{rec['id']}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                jobs, tasks = self._count(group)
                rec["jobs"] += jobs
                rec["tasks"] += tasks
                parent = self._stack[-1] if self._stack else None
                if parent is not None:
                    parent["jobs"] += rec["jobs"]
                    parent["tasks"] += rec["tasks"]
                    self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _count(self, group: str) -> tuple[int, int]:
        """Jobs in the group, and tasks completed by stages not seen before
        (a stage reused from an earlier job is skipped, not re-run)."""
        st = self.sc.statusTracker()
        job_ids = list(st.getJobIdsForGroup(group))
        tasks = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in self._seen_stages:
                    continue
                stage = st.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks:
                    self._seen_stages.add(sid)
                    tasks += stage.numCompletedTasks
        return len(job_ids), tasks

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            if "end" not in s:
                continue
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a = max(a, cur_end)
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs.get(s["id"])}) + "\n")


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def instrument(tracer: Tracer) -> None:
    """Wrap the engine's public layer boundaries with tracer spans."""
    from lucenenet_spark import session
    from lucenenet_spark.operators import deletes, index_build, merge, search
    from lucenenet_spark.plans import parser
    from lucenenet_spark.streaming import nrt

    def wrap(owner, attr: str, name: str, after=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(rec, args, kwargs, out)
                return out

        setattr(owner, attr, traced)
        return traced

    wrap(session, "get_spark", "session.get_spark")
    wrap(parser, "parse", "parser.parse")

    IB = index_build.IndexBuilder
    for stage in ("ingest", "encode_postings", "compute_stats", "commit"):
        wrap(IB, stage, f"index_build.{stage}")
    wrap(IB, "build", "index_build.build",
         after=lambda rec, a, k, out: rec.update(bytes=dir_bytes(a[0].out_dir)))

    IS = search.IndexSearcher
    wrap(IS, "__init__", "search.open",
         after=lambda rec, a, k, out: rec.update(segments=len(a[0].segments)))
    wrap(IS, "search", "search.search")
    wrap(IS, "fetch", "search.fetch")

    N = nrt.NRTIndex
    wrap(N, "searcher", "search.open")
    wrap(N, "process_batch", "nrt.process_batch")
    wrap(N, "update_documents", "nrt.update_documents")
    wrap(N, "maybe_merge", "nrt.maybe_merge")

    def merged(rec, a, k, out):
        out_dir = a[2] if len(a) > 2 else k["out_dir"]
        rec.update(bytes=dir_bytes(out_dir))

    traced_merge = wrap(merge, "merge_segments", "merge.merge_segments", after=merged)
    nrt.merge_segments = traced_merge  # nrt binds the name at import

    def deleted(rec, a, k, out):
        import pyarrow.parquet as pq

        rec.update(docs=pq.ParquetDataset(out).read(columns=["docid"]).num_rows)

    wrap(deletes.DeleteLog, "delete_docids", "deletes.delete_docids", after=deleted)
