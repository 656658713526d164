"""Per-layer metrics of a traced run, computed from its spans.

Warm-up spans (request ids "warm-*") are left out; set-up spans are kept,
since set-up work (the session, topk_serve's index build) is what some
layers move. A layer that a workload never calls reports 0.
"""
from __future__ import annotations

import statistics

from inputs import FAMILIES
from spans import median

QUERY_FAMILIES = (*FAMILIES, "probe")


def per_layer(run) -> dict[str, tuple[float, str]]:
    tr = run.tracer
    kept = [s for s in tr.spans
             if "end" in s and not (s["request"] or "").startswith("warm")]
    by_id = {s["id"]: s for s in tr.spans}

    def named(name, top_level=False):
        out = [s for s in kept if s["name"] == name]
        if top_level:
            out = [s for s in out
                   if s["parent"] is None or by_id[s["parent"]]["name"] != name]
        return out

    def dur(name, top_level=False):
        return [s["end"] - s["start"] for s in named(name, top_level)]

    def med(name, key=None, top_level=False):
        if key is None:
            return median(dur(name, top_level))
        return median(s.get(key, 0) for s in named(name, top_level))

    queries = named("query")

    def per_query(key):
        """Mean over query families of the count of each family's first
        timed query. The first round of the serving list runs every family
        once at positions fixed for every seed, so the count does not
        depend on how many rounds a run got through."""
        first = {}
        for s in queries:
            first.setdefault(s["family"], s[key])
        return statistics.fmean(first.values()) if first else 0.0

    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (sum(dur("session.get_spark")), "s"),
    }
    for stage in ("ingest", "encode_postings", "compute_stats", "commit"):
        m[f"index_build.{stage}_s"] = (med(f"index_build.{stage}"), "s")
    m["index_build.jobs"] = (med("index_build.build", "jobs"), "count")
    m["index_build.tasks"] = (med("index_build.build", "tasks"), "count")
    m["index_build.bytes_written"] = (med("index_build.build", "bytes"), "bytes")
    m["parser.parse_s"] = (med("parser.parse"), "s")
    m["search.open_s"] = (med("search.open", top_level=True), "s")
    m["search.search_s"] = (med("search.search"), "s")
    m["search.fetch_s"] = (med("search.fetch"), "s")
    m["search.collect_s"] = (med("search.collect"), "s")
    m["search.jobs_per_query"] = (per_query("jobs"), "count")
    m["search.tasks_per_query"] = (per_query("tasks"), "count")
    m["search.segments_per_query"] = (median(s["segments"] for s in queries), "count")
    for fam in QUERY_FAMILIES:
        m[f"search.{fam}_p50_s"] = (
            median(s["end"] - s["start"] for s in queries if s["family"] == fam), "s")
    m["nrt.process_batch_s"] = (med("nrt.process_batch"), "s")
    m["nrt.update_documents_s"] = (med("nrt.update_documents"), "s")
    m["nrt.maybe_merge_s"] = (med("nrt.maybe_merge"), "s")
    m["nrt.merges"] = (len(named("merge.merge_segments")), "count")
    m["nrt.live_segments"] = (
        median(s["segments"] for s in queries if s["family"] == "probe"), "count")
    m["merge.merge_segments_s"] = (med("merge.merge_segments"), "s")
    m["merge.bytes_rewritten"] = (
        sum(s.get("bytes", 0) for s in named("merge.merge_segments")), "bytes")
    m["deletes.delete_docids_s"] = (med("deletes.delete_docids"), "s")
    m["deletes.deleted_docs"] = (
        sum(s.get("docs", 0) for s in named("deletes.delete_docids")), "count")
    return m
