"""Segment merge (compaction): N index segments -> one, Lucene-merge semantics.

Re-derivation of the reference's merge pipeline (SURVEY.md §2.3):
- term-aligned k-way merge of postings (Codecs/TermsConsumer.cs:100-197,
  MappingMultiDocsEnum.cs:106) becomes: decode every segment's blocks,
  shift docids by the segment docBase (Index/MergeState.cs:40-102;
  AtomicReaderContext docBase), union, re-encode with the shared build
  encoder — the shuffle aligns terms, replacing MultiTermsEnum.
- docIDs are remapped by cumulative docBase exactly like SegmentMerger.cs:89-148.
- block-max bounds are RE-derived under the merged corpus stats: the stored
  per-segment bounds used the segment's own avgdl and are not valid upper
  bounds globally — this is why multi-segment searchers disable pruning and
  compaction restores it.
- the heavy stored-doc data is NOT rewritten: the merged manifest lists the
  source segments' doc stores with shifted docbases, like Lucene merges
  postings/norms but can share doc stores. A merge that applies deletes
  renumbers docids (MergeState.DocMap), so it rewrites the live docs as one
  doc store in the same staging doc-row layout.
- salting is re-planned from EXACT merged df (summed per-segment term_stats,
  a tiny metadata union) rather than the build-time sketch.

Sources are opened with index_build.open_segments and the result committed
with index_build.commit_segment — the same loader and writer as searches and
builds, so a merged segment has the same format as a built one.
"""
from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .codec import BLOCK_SIZE
from .deletes import DeleteLog
from .index_build import (
    DOC_COLS,
    FKEY_SEP,
    PARTIALS_DDL,
    POSTINGS_DDL,
    SegmentSet,
    commit_segment,
    field_infos,
    make_merge_encode,
    open_segments,
    score_caches,
    split_salts,
    term_stats_view,
    write_postings,
)


def _remap(docids: np.ndarray, deleted: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """DocMap (MergeState.cs:40-102): keep-mask + renumbered ids.

    new_id = old_id - #deleted_below; deleted ids are dropped. `deleted` is
    the broadcast sorted global delete set (the liveDocs bitset analogue)."""
    below = np.searchsorted(deleted, docids, side="left")
    at = np.searchsorted(deleted, docids, side="right")
    keep = below == at  # not present in the deleted set
    return keep, docids - below


def _decoded_partials(
    spark: SparkSession,
    segments: list[dict],
    deleted: np.ndarray,
    hot: dict,
    max_doc: int,
) -> DataFrame:
    """Union of all segments' postings decoded to compact PARTIALS rows (one
    per block, split at new salt boundaries) with docids shifted to the global
    space and deletes applied/renumbered. Block granularity keeps the merge
    shuffle at ~postings/128 rows."""

    def decode_partition(it):
        from .codec import (
            decode_block,
            decode_offsets,
            decode_payloads,
            decode_positions,
        )

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                docids, tfs = decode_block(
                    r.docids_enc, r.tfs_enc, r.first_docid, r.count
                )
                docids = docids + r.docbase
                norms = np.frombuffer(r.norms_enc, dtype=np.uint8)
                n_pos = int(tfs.sum())
                poss = decode_positions(r.pos_enc, n_pos).astype(np.int32)
                if r.off_enc:
                    st_, en_ = decode_offsets(r.off_enc, n_pos)
                    offs = np.empty(2 * n_pos, dtype=np.int32)
                    offs[0::2] = st_
                    offs[1::2] = en_ - st_
                else:
                    offs = np.empty(0, dtype=np.int32)
                if r.pay_enc:
                    pay_lens, pay_buf = decode_payloads(r.pay_enc, n_pos)
                    pay_lens = pay_lens.astype(np.int32)
                else:
                    pay_lens, pay_buf = np.empty(0, dtype=np.int32), b""
                cum = np.concatenate([[0], np.cumsum(tfs)])
                if deleted.size:
                    keep, docids = _remap(docids, deleted)
                    if not keep.all():
                        # drop the deleted postings' position runs too
                        pos_keep = np.repeat(keep, tfs)
                        poss = poss[pos_keep]
                        if len(offs):
                            offs = offs.reshape(-1, 2)[pos_keep].reshape(-1)
                        if len(pay_lens):
                            byte_keep = np.repeat(pos_keep, pay_lens)
                            pay_buf = (
                                np.frombuffer(pay_buf, dtype=np.uint8)[byte_keep]
                                .tobytes()
                            )
                            pay_lens = pay_lens[pos_keep]
                    docids, tfs, norms = docids[keep], tfs[keep], norms[keep]
                    cum = np.concatenate([[0], np.cumsum(tfs)])
                if not len(docids):
                    continue
                pay_cum = (
                    np.concatenate([[0], np.cumsum(pay_lens.astype(np.int64))])
                    if len(pay_lens)
                    else None
                )
                hkey = r.field + FKEY_SEP + r.term
                for salt, b0, b1 in split_salts(
                    docids, hot.get(hkey, 1), max_doc
                ):
                    rows.append(
                        (
                            r.field,
                            r.term,
                            salt,
                            int(b1 - b0),
                            int(docids[b0]),
                            docids[b0:b1].tobytes(),
                            tfs[b0:b1].astype(np.int32).tobytes(),
                            norms[b0:b1].tobytes(),
                            poss[cum[b0] : cum[b1]].tobytes(),
                            offs[2 * cum[b0] : 2 * cum[b1]].tobytes()
                            if len(offs)
                            else b"",
                            pay_lens[cum[b0] : cum[b1]].tobytes()
                            if pay_cum is not None
                            else b"",
                            pay_buf[int(pay_cum[cum[b0]]) : int(pay_cum[cum[b1]])]
                            if pay_cum is not None
                            else b"",
                            -1,  # ids already global (offset_map unused)
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "field", "term", "salt", "count", "first_docid", "docids",
                    "tfs", "norms", "poss", "offs", "pay_lens", "pays", "pid",
                ],
            )

    out = None
    for s in segments:
        df = (
            spark.read.parquet(s["manifest"]["tables"]["postings"])
            .filter(F.col("block_no") >= 0)
            .withColumn("docbase", F.lit(s["docbase"]))
            .select(
                "field", "term", "first_docid", "count", "docids_enc",
                "tfs_enc", "norms_enc", "pos_enc", "off_enc", "pay_enc",
                "docbase",
            )
            .mapInPandas(decode_partition, PARTIALS_DDL)
        )
        out = df if out is None else out.unionByName(df)
    return out


def _rewrite_live_docs(
    spark: SparkSession, seg_set: SegmentSet, deleted: np.ndarray, out_dir: str
) -> tuple[int, dict, list[dict]]:
    """Rewrite the live docs with MergeState.DocMap renumbering (docid -
    #deleted below; postings get the same remap during decode) as one doc
    store in the staging doc-row layout, then recount the field stats over
    it in one aggregation. Returns (max_doc, fields, stagings)."""

    def remap_docid(ser: pd.Series) -> pd.Series:
        ids = ser.to_numpy(dtype=np.int64)
        keep, new = _remap(ids, deleted)
        out = new.astype("float64")
        out[~keep] = np.nan  # dropped below
        return pd.Series(out, index=ser.index)

    live = (
        seg_set.docs(spark)
        .withColumn("new_docid", F.pandas_udf(remap_docid, "double")(F.col("docid")))
        .filter(F.col("new_docid").isNotNull())
        .select(
            F.lit(0).cast("int").alias("pid"),
            F.col("new_docid").cast("long").alias("local_rank"),
            *DOC_COLS,
            *seg_set.shared["numeric_fields"],
        )
    )
    path = os.path.join(out_dir, "docs")
    n_ranges = max(len(seg_set.segments), 2)
    live.repartitionByRange(n_ranges, "local_rank").sortWithinPartitions(
        "local_rank"
    ).write.mode("overwrite").parquet(path)
    kw_fields = [f for f, info in seg_set.fields.items() if info["omit_norms"]]
    st = (
        spark.read.parquet(path)
        .agg(
            F.count("*").alias("max_doc"),
            F.sum(F.when(F.col("field_length") > 0, 1).otherwise(0)).alias("dc"),
            F.sum("field_length").alias("st"),
            *[
                F.sum(
                    F.when(F.col(f).isNotNull() & (F.col(f) != ""), 1).otherwise(0)
                ).alias(f"kw{i}")
                for i, f in enumerate(kw_fields)
            ],
        )
        .collect()[0]
    )
    max_doc = int(st["max_doc"])
    fields = field_infos(
        max_doc,
        int(st["dc"] or 0),
        int(st["st"] or 0),
        {f: int(st[f"kw{i}"] or 0) for i, f in enumerate(kw_fields)},
    )
    return max_doc, fields, [{"path": path, "offsets": {"0": 0}, "docbase": 0}]


# merged payload richness = the weakest source level (a segment without
# positions/offsets cannot supply them, FieldInfos merge semantics)
_LEVELS = ["docs_freqs", "docs_freqs_positions", "docs_freqs_positions_offsets"]


def merge_segments(
    spark: SparkSession,
    segment_dirs: list[str],
    out_dir: str,
    n_buckets: int = 32,
    salt_target: int = 1 << 20,
    block_size: int = BLOCK_SIZE,
    build_id: str = "merge-0",
) -> dict:
    """Compact N segments into one index at out_dir; returns its manifest.
    Raises ValueError if the sources disagree on a shared setting."""
    os.makedirs(out_dir, exist_ok=True)
    seg_set = open_segments(segment_dirs)
    segments = seg_set.segments

    # gather per-segment delete logs -> one sorted global delete set
    del_parts = []
    for s in segments:
        arr = DeleteLog(spark, s["dir"]).deleted_array()
        if arr.size:
            del_parts.append(arr + s["docbase"])
    deleted = (
        np.unique(np.concatenate(del_parts)) if del_parts else np.empty(0, np.int64)
    )
    if deleted.size:
        max_doc, fields, stagings = _rewrite_live_docs(spark, seg_set, deleted, out_dir)
    else:
        max_doc, fields, stagings = seg_set.max_doc, seg_set.fields, seg_set.stagings
    caches = score_caches(seg_set.shared["k1"], seg_set.shared["b"], fields)

    # exact merged df from the per-segment terms dictionaries -> salt plan
    ts = None
    for s in segments:
        df = term_stats_view(spark, s["manifest"]["tables"]["postings"])
        ts = df if ts is None else ts.unionByName(df)
    hot_rows = (
        ts.groupBy("field", "term").agg(F.sum("df").alias("df"))
        .filter(F.col("df") > salt_target)
        .collect()
    )
    hot = {
        r["field"] + FKEY_SEP + r["term"]: int(math.ceil(r["df"] / salt_target))
        for r in hot_rows
    }

    n_shuffle = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 8)
    lineage = json.dumps(
        {
            "build_id": build_id,
            "stage": "merge",
            "sources": [s["dir"] for s in segments],
            "docbases": [s["docbase"] for s in segments],
        }
    )
    partials = _decoded_partials(spark, segments, deleted, hot, max_doc)
    encoded = partials.repartition(n_shuffle, "field", "term", "salt").mapInPandas(
        make_merge_encode(caches, n_buckets, block_size, lineage), POSTINGS_DDL
    )
    write_postings(encoded, os.path.join(out_dir, "postings"), n_buckets)

    manifests = [s["manifest"] for s in segments]
    # payloads survive the merge only if EVERY source carries the same
    # provider (FieldInfos merge: a payload-less segment poisons the field)
    providers = {m["payload_provider"] for m in manifests}
    settings = {
        **seg_set.shared,
        "index_options": _LEVELS[min(_LEVELS.index(m["index_options"]) for m in manifests)],
        "payload_provider": providers.pop() if len(providers) == 1 else None,
        "block_size": block_size,
        "n_buckets": n_buckets,
        "salt_target": salt_target,
    }
    return commit_segment(
        spark, out_dir, build_id, settings, max_doc, fields, stagings, hot, []
    )
