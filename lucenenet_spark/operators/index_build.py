"""Index build pipeline: transcripts -> inverted-index tables.

Spark-first re-derivation of Lucene's ingestion lifecycle (SURVEY.md §3.3):

  Lucene                               | here
  -------------------------------------+------------------------------------------
  DocumentsWriterPerThread (DWPT)      | one range partition in mapInPandas
  DocInverter/TermsHash per-doc loop   | vectorized tokenize+count in the UDF
  FreqProxTermsWriter in-RAM postings  | per-partition partial posting lists (binary)
  flush sort + Lucene41PostingsWriter  | repartition(term,salt)+sort+mapInPandas encode
  NormsConsumer                        | norm_byte column (byte315, numpy)
  segments_N two-phase commit          | atomic _manifest.json rename
  per-thread flush checkpointing       | per-partition checkpoint rows, lineage+rate

Pass structure — the thing that matters at 100 TB (ONE pass over the text,
ONE compact shuffle, everything else metadata-only):

  pass 1 (text):  stream each input partition through a single mapInPandas:
                  tokenize, norm bytes, doc rows out, and the partition's
                  ENTIRE partial inverted index (term -> docid/tf/norm arrays,
                  the in-RAM DWPT) accumulated in unboxed buffers and flushed
                  as binary partial rows into the same staging table. If the
                  input is already clustered by (conv_id, turn_idx) — verified
                  cheaply, with in-stream order checks and auto-fallback —
                  there is NO shuffle at all; otherwise one range exchange.
                  Stable dense docIDs need no global sort: docid = offset[pid]
                  + local_rank with offsets from a driver prefix-sum over one
                  count per partition. Hot-term detection rides along as
                  per-partition top-term sketches in the checkpoint meta rows.
  shuffle:        partial rows only (~|vocab| rows per partition, raw int32/
                  uint8 payloads — two orders of magnitude fewer rows than
                  exploded postings) hash-partitioned by (term, salt); the
                  reduce concatenates partials in first_docid order (ranges
                  are disjoint, so NO per-posting sort) and block-encodes.
                  Per-(term,salt) stat rows (the terms dictionary) are
                  materialized inside the same write (block_no = -2).
  metadata only:  field stats from ingest meta sums (no job), committed in
                  the manifest's `fields` block; docs "table" is a
                  column-pruned VIEW of staging (no rewrite); commit reads
                  just the checkpoint meta rows.

Skew: hot terms (df above salt_target, estimated from the ingest sketches)
are salted by source-partition range rank, so their sub-lists stay
docid-contiguous, no single reduce group exceeds ~salt_target postings, and
block chains simply interleave by salt at query time.

Resumability: each stage is gated on its marker file (stage output is
deterministic and idempotent); re-running a build skips completed stages.
The final manifest rename is atomic — the PrepareCommit/Commit analogue
(IndexWriter.cs:3868,4092). On a real deployment the parquet writes become
Iceberg appends and the manifest an Iceberg snapshot commit; without an
Iceberg runtime the atomic-commit contract is emulated on parquet+rename.

This module is the only one that knows the segment format. A segment is a
postings table plus a manifest naming its doc stores; a build and a merge
(merge.py) both publish it through commit_segment, and every reader (search,
merge, CheckIndex) opens segments through open_segments / docs_view. There
is one doc-store form: each manifest lists `stagings`, tables of staging
doc rows (docid = offsets[pid] + local_rank + docbase) — a build's own
staging table, the source segments' stores of a merge, or the one store a
delete-applying merge rewrites with renumbered docids (pid 0, local_rank =
docid).
"""

from __future__ import annotations

import json
import math
import os
import time
import zlib
from collections import Counter
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.analysis import (
    analyzer_has_overlaps,
    tokenize_with_offsets,
    tokenize_with_positions,
)
from ..oracle import norm_cache
from .codec import BLOCK_SIZE, encode_posting_list

FIELD = "text"

# manifest layout version; readers holding a cached index of another
# version rebuild it (entry_support's stale-index guards)
FORMAT_VERSION = 6

# per-segment settings every manifest records (commit_segment writes exactly
# these); a merged segment carries them over from its sources
SEGMENT_SETTINGS = (
    "index_options", "payload_provider", "analyzer", "norm_spec",
    "numeric_fields", "k1", "b", "block_size", "n_buckets", "salt_target",
)

# the settings every segment of one set must share: IndexWriter-level
# invariants (analysis chain, similarity parameters, norm encoder, doc-value
# fields) that neither a merge nor a cross-segment searcher can reconcile
SHARED_SETTINGS = ("analyzer", "k1", "b", "norm_spec", "numeric_fields")

# keyword (StringField-like) fields indexed alongside the analyzed text
# field: untokenized exact values, single position 0, omitNorms (Lucene
# StringField omits norms -> BM25 scores them with norm = k1, b treated as 0,
# BM25Similarity.cs:262). The `field` column flows through staging/postings
# so per-field indexing is a data change, not a schema change (SURVEY §1.3).
DEFAULT_KEYWORD_FIELDS = ("role", "tool")

# separator for (field, term) composite keys in hot-term sketches/salt maps
FKEY_SEP = "\x1f"


def omit_norms_cache(k1: float) -> np.ndarray:
    """256-entry denominator cache for omitNorms fields: norm = k1 constant."""
    return np.full(256, np.float32(k1), dtype=np.float32)

# One staging table, three row kinds discriminated by local_rank:
#   >= 0  doc row (stored fields + norms; docid = offset[pid] + local_rank)
#   -1    per-partition checkpoint meta row (counts, ranges, rates, sketches)
#   -2    partial posting list row: one term's postings WITHIN this partition
#         as raw little-endian arrays (docids = local ranks int64, tfs int32,
#         norm bytes uint8). Written in the same single text pass — the
#         in-RAM DWPT partial index flushed to columnar storage. Downstream
#         encode reads ONLY these binary blobs (np.frombuffer — zero
#         per-object Arrow conversion, which profiling showed dominates).
STAGING_DDL = (
    "pid int, local_rank long, conv_id string, turn_idx int, role string,"
    " tool string, ts timestamp, field_length int, norm_byte short,"
    " meta string, field string, term string, pcount int, first_local long,"
    " docids binary, tfs binary, norms binary, poss binary, offs binary,"
    " pay_lens binary, pays binary"
)

_STAGING_COLS = [c.strip().split()[0] for c in STAGING_DDL.split(",")]

# caps on ONE staged partial-posting row's channels: bounds both the flush
# row width and (with the reduced columnar batch in encode_postings) the
# encode scan's per-batch memory, independent of corpus size. 16k postings /
# 64k positions keeps the worst row near ~0.5 MB.
_MAX_PARTIAL_POSTINGS = 16384
_MAX_PARTIAL_POSITIONS = 65536

POSTINGS_DDL = (
    "field string, term string, salt int, block_no int, first_docid long,"
    " last_docid long, count int, sum_tf long, max_score_bound float,"
    " docids_enc binary, tfs_enc binary, norms_enc binary, pos_enc binary,"
    " off_enc binary, pay_enc binary, bucket int"
)

POSTINGS_COLS = [c.split()[0] for c in POSTINGS_DDL.split(",")]

DOC_COLS = ["conv_id", "turn_idx", "role", "tool", "ts", "field_length", "norm_byte"]


def local_table(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Tiny driver-side table -> DataFrame via pandas/Arrow (a JVM
    LocalRelation). createDataFrame on a plain Python list builds a
    defaultParallelism-sliced Python RDD instead — ~5s of Python-worker
    round-trips per tiny metadata write at local[32]."""
    cols = [c.strip().split()[0] for c in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema)


def term_bucket(term: str, n_buckets: int) -> int:
    """Bucket id for a term — crc32 so Python and Spark agree (F.crc32)."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def term_stats_view(spark: SparkSession, postings_path: str) -> DataFrame:
    """Terms dictionary derived from the stat rows (block_no = -2) embedded in
    the postings table: (field, term, df, ttf, max_bound). One row per
    (field, term, salt) group is aggregated here; term-predicate filters push
    through the aggregation to the parquet scan (bucket dirs + row-group
    term stats)."""
    return (
        spark.read.parquet(postings_path)
        .filter(F.col("block_no") == -2)
        .groupBy("field", "term")
        .agg(
            F.sum("count").alias("df"),
            F.sum("sum_tf").alias("ttf"),
            F.max("max_score_bound").alias("max_bound"),
        )
        .select("field", "term", "df", "ttf", "max_bound")
    )


# Partial posting lists — the DWPT partial-index / map-side-combine stage.
# One row = one (term, salt) sub-list from ONE source partition, carrying raw
# little-endian arrays. ~100x fewer, ~30x denser rows than exploded
# (term, docid, tf) triples, so the term shuffle stops being row-overhead-bound.
PARTIALS_DDL = (
    "field string, term string, salt int, count int, first_docid long,"
    " docids binary, tfs binary, norms binary, poss binary, offs binary,"
    " pay_lens binary, pays binary, pid int"
)


def split_salts(docids: np.ndarray, n_salts: int, max_doc: int) -> list[tuple[int, int, int]]:
    """(salt, start, end) slices of a docid-sorted array under the contiguous
    range salting salt = docid * n_salts // max_doc."""
    if n_salts <= 1:
        return [(0, 0, len(docids))]
    salts = (docids * n_salts // max(max_doc, 1)).astype(np.int64)
    change = np.nonzero(salts[1:] != salts[:-1])[0]
    bounds = np.concatenate([[0], change + 1, [len(docids)]])
    return [
        (int(salts[b0]), int(b0), int(b1)) for b0, b1 in zip(bounds[:-1], bounds[1:])
    ]


def make_merge_encode(
    caches: dict[str, np.ndarray] | np.ndarray,
    n_buckets: int,
    block: int,
    lineage: str,
    offset_map: dict[int, int] | None = None,
):
    """Reduce side: merge each (field, term, salt)'s partials (disjoint docid
    ranges -> order partials by first_docid and CONCATENATE, no per-posting
    sort) and block-encode. The term-aligned merge of Lucene's SegmentMerger,
    as a shuffle + numpy concat. offset_map maps a partial's pid to the docid
    offset added to its locally-ranked ids (None = ids already global).
    caches: per-field 256-entry denominator caches for the block-max bounds
    (a bare ndarray is treated as the text field's, omitNorms fields fall
    back to a k1-constant cache derived from it)."""
    if isinstance(caches, np.ndarray):
        caches = {FIELD: caches}

    def merge_encode(it):
        bufs: list[pd.DataFrame] = []
        for pdf in it:
            if len(pdf):
                bufs.append(pdf)
        if not bufs:
            return
        gt0 = time.time()
        pdf = pd.concat(bufs, ignore_index=True) if len(bufs) > 1 else bufs[0]
        codes, uniques = pd.factorize(
            pdf["field"] + FKEY_SEP + pdf["term"], sort=False
        )
        order = np.lexsort(
            (pdf["first_docid"].to_numpy(), pdf["salt"].to_numpy(), codes)
        )
        codes = codes[order]
        salts = pdf["salt"].to_numpy()[order]
        d_bins = pdf["docids"].to_numpy()[order]
        t_bins = pdf["tfs"].to_numpy()[order]
        n_bins = pdf["norms"].to_numpy()[order]
        p_bins = pdf["poss"].to_numpy()[order]
        o_bins = pdf["offs"].to_numpy()[order]
        yl_bins = pdf["pay_lens"].to_numpy()[order]
        yb_bins = pdf["pays"].to_numpy()[order]
        pids = pdf["pid"].to_numpy()[order]
        change = np.nonzero((codes[1:] != codes[:-1]) | (salts[1:] != salts[:-1]))[0]
        bounds = np.concatenate([[0], change + 1, [len(codes)]])
        uniques = np.asarray(uniques)
        out_rows = []
        postings = 0
        for b0, b1 in zip(bounds[:-1], bounds[1:]):
            field, term = uniques[codes[b0]].split(FKEY_SEP, 1)
            if offset_map is None:
                # merge path: ids are already global int64
                docids = np.concatenate(
                    [np.frombuffer(d_bins[i], dtype=np.int64) for i in range(b0, b1)]
                )
            else:
                # build path: int32 local ranks + per-pid offset
                docids = np.concatenate(
                    [
                        np.frombuffer(d_bins[i], dtype=np.int32).astype(np.int64)
                        + offset_map[int(pids[i])]
                        for i in range(b0, b1)
                    ]
                )
            tfs = np.concatenate(
                [np.frombuffer(t_bins[i], dtype=np.int32) for i in range(b0, b1)]
            ).astype(np.int64)
            norms = np.concatenate(
                [np.frombuffer(n_bins[i], dtype=np.uint8) for i in range(b0, b1)]
            )
            positions = np.concatenate(
                [np.frombuffer(p_bins[i], dtype=np.int32) for i in range(b0, b1)]
            ).astype(np.int64)
            offs = np.concatenate(
                [np.frombuffer(o_bins[i], dtype=np.int32) for i in range(b0, b1)]
            ).astype(np.int64)
            pay_lens = np.concatenate(
                [np.frombuffer(yl_bins[i], dtype=np.int32) for i in range(b0, b1)]
            ).astype(np.int64)
            pay_bytes = b"".join(
                yb_bins[i] for i in range(b0, b1) if len(yb_bins[i])
            )
            postings += len(docids)
            cache = caches[field]
            rows = encode_posting_list(
                docids, tfs, norms, cache, block, positions=positions,
                offsets=offs if len(offs) == 2 * len(positions) and len(offs) else None,
                payload_lens=pay_lens
                if len(pay_lens) == len(positions) and len(pay_lens)
                else None,
                payload_bytes=pay_bytes,
            )
            bucket = term_bucket(term, n_buckets)
            for i, r in enumerate(rows):
                r["field"] = field
                r["term"] = term
                r["salt"] = int(salts[b0])
                r["bucket"] = bucket
                r["sum_tf"] = int(
                    tfs[i * block : min((i + 1) * block, len(tfs))].sum()
                )
            out_rows.extend(rows)
            # term-stats row (block_no = -2): df/ttf/max-bound for this
            # (field, term, salt) group, materialized in the SAME write — the
            # terms dictionary needs no separate aggregation job, and reads
            # prune to it via the bucket dir + term row-group stats
            out_rows.append(
                {
                    "field": field,
                    "term": term,
                    "salt": int(salts[b0]),
                    "block_no": -2,
                    "first_docid": int(docids[0]),
                    "last_docid": int(docids[-1]),
                    "count": int(len(docids)),
                    "sum_tf": int(tfs.sum()),
                    "max_score_bound": max(r["max_score_bound"] for r in rows),
                    "docids_enc": b"",
                    "tfs_enc": b"",
                    "norms_enc": b"",
                    "pos_enc": b"",
                    "off_enc": b"",
                    "pay_enc": b"",
                    "bucket": bucket,
                }
            )
        out = pd.DataFrame(out_rows)[POSTINGS_COLS]
        elapsed = time.time() - gt0
        yield out
        # per-partition checkpoint meta row (lineage + rate metrics)
        meta = {
            "stage": "encode",
            "postings": int(postings),
            "blocks": int(len(out)),
            "elapsed_sec": round(elapsed, 3),
            "postings_per_sec": round(postings / max(elapsed, 1e-9), 1),
            "lineage": lineage,
        }
        yield pd.DataFrame(
            [
                {
                    "field": "meta",
                    "term": json.dumps(meta),
                    "salt": -1,
                    "block_no": -1,
                    "first_docid": -1,
                    "last_docid": -1,
                    "count": 0,
                    "sum_tf": 0,
                    "max_score_bound": 0.0,
                    "docids_enc": b"",
                    "tfs_enc": b"",
                    "norms_enc": b"",
                    "pos_enc": b"",
                    "off_enc": b"",
                    "pay_enc": b"",
                    "bucket": -1,
                }
            ]
        )[POSTINGS_COLS]

    return merge_encode


def write_postings(encoded: DataFrame, path: str, n_buckets: int) -> None:
    """Read-optimized layout: bucket directories, term-sorted files, so a
    query prunes to |buckets(query terms)| dirs then row-group min/max.

    NO second shuffle: the encode shuffle already colocated each (field,
    term, salt) group, so a LOCAL sort (bucket, term) + partitionBy(bucket)
    produces term-sorted files per bucket dir directly — re-shuffling the
    encoded binary payloads (the full index size) cost more than the whole
    encode at the 92M-token bench. Each of the n_shuffle tasks writes one
    file per bucket it holds; queries still prune to one bucket dir and
    then row-group term min/max stats."""
    (
        encoded.sortWithinPartitions("bucket", "term", "salt", "block_no")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


class IndexBuilder:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        k1: float = 1.2,
        b: float = 0.75,
        n_buckets: int = 32,
        n_segments: int = 32,
        salt_target: int = 1 << 20,
        block_size: int = BLOCK_SIZE,
        top_terms_per_partition: int = 256,
        input_clustered: bool | None = None,
        keyword_fields: tuple[str, ...] = DEFAULT_KEYWORD_FIELDS,
        index_options: str = "docs_freqs_positions",
        payload_provider: str | None = None,
        analyzer: str = "standard",
        max_partial_postings: int = _MAX_PARTIAL_POSTINGS,
        max_partial_positions: int = _MAX_PARTIAL_POSITIONS,
        norm_spec: str = "standard",
        numeric_fields: tuple[str, ...] = (),
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.k1, self.b = k1, b
        self.max_partial_postings = max_partial_postings
        self.max_partial_positions = max_partial_positions
        self.n_buckets = n_buckets
        self.n_segments = n_segments
        self.salt_target = salt_target
        self.block_size = block_size
        self.top_terms = top_terms_per_partition
        self.keyword_fields = tuple(keyword_fields)
        # numeric doc-value columns (DoubleField / NumericDocValuesField —
        # Lucene.Net/Document/DoubleField.cs): stored as typed double
        # columns on the staging doc rows, surfaced by the docs view for
        # pushed-down range predicates and value sources (the spatial
        # PointVectorStrategy's x/y pair is the canonical user)
        for nf in numeric_fields:
            if nf in _STAGING_COLS:
                raise ValueError(
                    f"numeric field {nf!r} collides with a staging column"
                )
        self.numeric_fields = list(numeric_fields)
        # IndexOptions (FieldInfo.cs:315-356): DOCS_AND_FREQS skips the
        # positions payload entirely (~30-45% smaller index; phrase/span
        # queries then raise); default keeps positions; the _offsets level
        # additionally stores per-occurrence char offsets for
        # PostingsHighlighter-style fragmenting
        if index_options not in (
            "docs_freqs", "docs_freqs_positions", "docs_freqs_positions_offsets"
        ):
            raise ValueError(f"unknown index_options {index_options!r}")
        self.index_options = index_options
        # Analyzer choice (recorded in the manifest so query-side analysis
        # can match): "standard" = StandardAnalyzer chain; the other slots
        # add per-language stop sets + stem filters after the shared
        # tokenizer (functions/analysis._analyzer_chain)
        from ..functions.analysis import validate_analyzer

        validate_analyzer(analyzer)
        self.analyzer = analyzer
        # Per-occurrence payload channel (PayloadAttribute — Lucene payloads
        # are attached by the analysis chain and stored in the pos block;
        # Index/DocumentsWriterPerThread payload path). A NAMED provider so
        # the choice is recorded in the manifest and mirrorable in oracle
        # SQL: "position_float" = 4-byte big-endian float32 of (position+1)
        # per emitted token (PayloadHelper.EncodeSingle wire format).
        # Payloads require positions (FieldInfo.cs: payloads imply
        # DOCS_AND_FREQS_AND_POSITIONS+).
        # Norm encoder choice (Similarity.ComputeNorm is an INDEX-time
        # decision in Lucene — the byte stream differs per similarity):
        # "standard" = boost/sqrt(len) (BM25/DefaultSimilarity share it),
        # "sweetspot:<min>:<max>:<steepness>" = SweetSpotSimilarity's
        # plateau ComputeLengthNorm. Recorded in the manifest; queries on a
        # sweet index should use the "sweetspot[:...]" similarity (BM25's
        # docLen reconstruction assumes the standard byte).
        from ..functions.sweetspot import parse_norm_spec

        parse_norm_spec(norm_spec)  # validate early
        self.norm_spec = norm_spec
        if payload_provider not in (None, "position_float"):
            raise ValueError(f"unknown payload_provider {payload_provider!r}")
        if payload_provider and index_options == "docs_freqs":
            raise ValueError("payloads require positions in index_options")
        self.payload_provider = payload_provider
        # None = auto-detect via a narrow-column range check; True = trust the
        # input's partitioning (still verified post-hoc); False = force shuffle
        self.input_clustered = input_clustered

    # -- paths / markers -----------------------------------------------------
    def _p(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def _stage_info(self, stage: str) -> dict | None:
        p = self._p(f"_STAGE_{stage}")
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return None

    def _mark_stage(self, stage: str, info: dict) -> dict:
        tmp = self._p(f"_STAGE_{stage}.tmp")
        with open(tmp, "w") as f:
            json.dump(info, f)
        os.replace(tmp, self._p(f"_STAGE_{stage}"))
        return info

    # -- stage 1: ingest (the single text pass) ------------------------------
    def _input_is_clustered(self, transcripts: DataFrame) -> bool:
        """True iff the input's existing partitions hold non-overlapping
        (conv_id, turn_idx) ranges — a narrow-column check (parquet reads just
        two columns). When it holds, the heavy text shuffle + sort is skipped
        entirely: at 100 TB this is the difference between shuffling the whole
        corpus and shuffling nothing, and conversation logs are typically
        written clustered by conv_id.

        The pid comes from TaskContext inside a mapInPandas (a
        spark_partition_id() column over an in-memory relation is evaluated
        at plan time by ConvertToLocalRelation and reads 0 everywhere)."""

        def tag(it):
            from pyspark import TaskContext

            p = TaskContext.get().partitionId()
            for pdf in it:
                if len(pdf):
                    out = pdf[["conv_id", "turn_idx"]].copy()
                    out["pid"] = p
                    yield out

        rows = (
            transcripts.select("conv_id", "turn_idx")
            .mapInPandas(tag, "conv_id string, turn_idx int, pid int")
            .groupBy("pid")
            .agg(
                F.min(F.struct("conv_id", "turn_idx")).alias("lo"),
                F.max(F.struct("conv_id", "turn_idx")).alias("hi"),
            )
            .collect()
        )
        spans = sorted(
            ((r["lo"][0], r["lo"][1]), (r["hi"][0], r["hi"][1])) for r in rows
        )
        return all(a[1] < b[0] for a, b in zip(spans, spans[1:]))

    def ingest(self, transcripts: DataFrame, build_id: str) -> dict:
        info = self._stage_info("staging")
        if info is not None:
            return info
        t0 = time.time()
        top_terms = self.top_terms

        clustered = (
            self._input_is_clustered(transcripts)
            if self.input_clustered is None
            else self.input_clustered
        )
        input_lineage = json.dumps(
            {"build_id": build_id, "source": "transcripts", "clustered": clustered}
        )

        numeric_fields = self.numeric_fields
        staging_ddl = STAGING_DDL + "".join(
            f", {nf} double" for nf in numeric_fields
        )
        staging_cols = [c.strip().split()[0] for c in staging_ddl.split(",")]

        def _frame(cols: dict, n: int) -> pd.DataFrame:
            data = {c: cols.get(c) for c in staging_cols}
            for c, v in data.items():
                if v is None:
                    data[c] = pd.Series([None] * n, dtype="object")
            return pd.DataFrame(data)[staging_cols]

        keyword_fields = self.keyword_fields
        with_positions = self.index_options != "docs_freqs"
        with_offsets = self.index_options == "docs_freqs_positions_offsets"
        with_payloads = self.payload_provider == "position_float"
        analyzer = self.analyzer
        has_overlaps = analyzer_has_overlaps(analyzer)
        norm_spec = self.norm_spec
        max_partial_postings = self.max_partial_postings
        max_partial_positions = self.max_partial_positions

        def ingest_partition(it):
            # STREAMING doc rows (pipelined with the JVM read/write) while the
            # per-partition partial posting lists accumulate as per-(field,
            # term) lists of numpy chunks — the in-RAM DWPT. Term counting is
            # fully vectorized: one findall per row builds flat (term, doc,
            # pos) arrays, then factorize + lexsort + run-length boundaries
            # produce per-(term, doc) tfs and position slices with NO
            # per-token Python dict work. Order is VERIFIED with vectorized
            # comparisons, never re-sorted: the clustered fast path gets it
            # from the input files, the fallback from the JVM range+sort
            # exchange. Violation = hard error (builder falls back).
            from pyspark import TaskContext

            from ..functions.sweetspot import norm_encoder

            enc_norms = norm_encoder(norm_spec)
            gt0 = time.time()
            rank = 0
            # pid from the task context, NOT a spark_partition_id() column:
            # Catalyst's ConvertToLocalRelation evaluates projections over
            # in-memory relations at PLAN time where spark_partition_id()=0
            # for every row — which would collide all docid offsets
            pid = TaskContext.get().partitionId()
            seen_rows = False
            postings = 0
            sum_len = 0
            doc_count = 0
            kw_sums: dict[str, int] = {f: 0 for f in keyword_fields}
            lo = hi = None
            prev_key = None
            # (field, term) -> list of (docids i32, tfs i32, norms u8, poss i32)
            store: dict[tuple[str, str], list] = {}
            def sub_batches(frames, max_rows=8192):
                # bound the per-batch flat token arrays: a 64k-row Arrow
                # batch of long turns builds ~1 GB of transient Python
                # lists per worker, which at 32 concurrent workers turns
                # into memory pressure and inverse scaling
                for pdf0 in frames:
                    if len(pdf0) <= max_rows:
                        yield pdf0
                    else:
                        for c0 in range(0, len(pdf0), max_rows):
                            yield pdf0.iloc[c0 : c0 + max_rows].reset_index(
                                drop=True
                            )

            for pdf in sub_batches(it):
                n = len(pdf)
                if n == 0:
                    continue
                seen_rows = True
                conv = pdf["conv_id"].to_numpy()
                turn = pdf["turn_idx"].to_numpy()
                same = conv[1:] == conv[:-1]
                ok = np.all(
                    (conv[1:] > conv[:-1]) | (same & (turn[1:] > turn[:-1]))
                )
                first_key = (conv[0], int(turn[0]))
                if not ok or (prev_key is not None and first_key <= prev_key):
                    raise ValueError(
                        "input rows not in (conv_id, turn_idx) order within a "
                        "partition — rebuild with input_clustered=False to "
                        "force the range-shuffle path"
                    )
                prev_key = (conv[-1], int(turn[-1]))
                if lo is None:
                    lo = [str(first_key[0]), first_key[1]]
                hi = [str(prev_key[0]), prev_key[1]]
                lengths = np.empty(n, dtype=np.int32)
                totals = np.empty(n, dtype=np.int32)
                term_flat: list[str] = []
                pos_flat: list[int] = []
                off_flat: list[int] = []  # interleaved [start, end-start]
                for i, text in enumerate(pdf["text"].to_numpy()):
                    if with_offsets:
                        toks, poss, st_, en_ = tokenize_with_offsets(
                            text, analyzer
                        )
                    else:
                        toks, poss = tokenize_with_positions(text, analyzer)
                    totals[i] = len(toks)
                    if has_overlaps and toks:
                        # norm fieldLength discounts posInc-0 overlap
                        # tokens (FieldInvertState.NumOverlap;
                        # BM25Similarity.cs:156-160 discountOverlaps) —
                        # anchors = position-change count; sumTotalTermFreq
                        # below keeps counting every emitted token
                        lengths[i] = 1 + sum(
                            1 for a, b in zip(poss, poss[1:]) if b != a
                        )
                    else:
                        lengths[i] = len(toks)
                    term_flat.extend(toks)
                    if with_positions:
                        pos_flat.extend(poss)
                    if with_offsets:
                        for a, b in zip(st_, en_):
                            off_flat.append(a)
                            off_flat.append(b - a)
                norm_bytes = enc_norms(lengths)
                total = len(term_flat)
                if total:
                    codes, uniques = pd.factorize(
                        pd.Series(term_flat, dtype="object"), sort=False
                    )
                    uniques = np.asarray(uniques)
                    d_arr = np.repeat(
                        np.arange(n, dtype=np.int64) + rank,
                        totals.astype(np.int64),
                    )
                    ov = np.empty((0, 2), dtype=np.int32)
                    pay = np.empty(0, dtype=">f4")
                    if with_positions:
                        p_arr = np.asarray(pos_flat, dtype=np.int32)
                        o = np.lexsort((p_arr, d_arr, codes))
                        c, d, p = codes[o], d_arr[o], p_arr[o]
                        if with_offsets:
                            ov = np.asarray(off_flat, dtype=np.int32).reshape(
                                -1, 2
                            )[o]
                        if with_payloads:
                            # position_float provider: payload is a pure
                            # function of the (sorted) position array, so
                            # it is derived vectorized AFTER the lexsort —
                            # no per-occurrence bytes to reorder
                            pay = (p.astype(np.float32) + np.float32(1.0)).astype(
                                ">f4"
                            )
                    else:
                        o = np.lexsort((d_arr, codes))
                        c, d = codes[o], d_arr[o]
                        p = np.empty(0, dtype=np.int32)
                    # (term, doc) group boundaries -> tf runs + pos slices
                    gchange = np.nonzero((c[1:] != c[:-1]) | (d[1:] != d[:-1]))[0]
                    gb = np.concatenate([[0], gchange + 1, [total]])
                    g_tf = np.diff(gb).astype(np.int32)
                    g_doc = d[gb[:-1]]
                    g_code = c[gb[:-1]]
                    g_norm = norm_bytes[(g_doc - rank)]
                    postings += len(g_code)
                    tchange = np.nonzero(g_code[1:] != g_code[:-1])[0]
                    tb = np.concatenate([[0], tchange + 1, [len(g_code)]])
                    for t0, t1 in zip(tb[:-1], tb[1:]):
                        term = uniques[g_code[t0]]
                        store.setdefault((FIELD, term), []).append(
                            (
                                # local ranks fit int32 (a partition never
                                # holds 2^31 rows) — halves the payload
                                g_doc[t0:t1].astype(np.int32),
                                g_tf[t0:t1],
                                g_norm[t0:t1].astype(np.uint8),
                                p[gb[t0] : gb[t1]],
                                ov[gb[t0] : gb[t1]].reshape(-1)
                                if with_offsets
                                else np.empty(0, dtype=np.int32),
                                np.full(gb[t1] - gb[t0], 4, dtype=np.int32)
                                if with_payloads
                                else np.empty(0, dtype=np.int32),
                                pay[gb[t0] : gb[t1]].tobytes()
                                if with_payloads
                                else b"",
                            )
                        )
                # keyword fields: untokenized exact values, tf=1, pos=0,
                # omitNorms (norm byte 0 is ignored by the scorer).
                # array<string> columns are MULTI-VALUED keyword fields
                # (the SortedSet doc-values shape JoinUtil joins on,
                # Lucene.Net.Join/JoinUtil.cs + TestJoinUtil multi-value
                # cases): each DISTINCT value indexed once per doc —
                # StringField is IndexOptions.DOCS, so repeated adds of the
                # same value collapse to one posting with freq read as 1.
                # Multi-valued keyword fields are indexed, not stored.
                for kf in keyword_fields:
                    if kf not in pdf.columns:
                        continue
                    vals = pdf[kf].to_numpy()
                    ids_l: list[int] = []
                    vs_l: list[str] = []
                    for i, v in enumerate(vals):
                        if isinstance(v, str):
                            if v:
                                ids_l.append(i)
                                vs_l.append(v)
                        elif isinstance(v, (list, tuple, np.ndarray)):
                            for x in sorted(
                                {x for x in v if isinstance(x, str) and x}
                            ):
                                ids_l.append(i)
                                vs_l.append(x)
                    if not ids_l:
                        continue
                    ids = np.asarray(ids_l, dtype=np.int64) + rank
                    vs = np.asarray(vs_l, dtype=object)
                    # group by value, docids ascending within each value
                    # (ids are already asc; lexsort is stable on ties)
                    o = np.lexsort((ids, vs))
                    sv, si = vs[o], ids[o]
                    vchange = np.nonzero(sv[1:] != sv[:-1])[0]
                    vb = np.concatenate([[0], vchange + 1, [len(sv)]])
                    kw_sums[kf] += int(len(sv))
                    postings += len(vb) - 1
                    for v0, v1 in zip(vb[:-1], vb[1:]):
                        m = v1 - v0
                        store.setdefault((kf, sv[v0]), []).append(
                            (
                                si[v0:v1].astype(np.int32),
                                np.ones(m, dtype=np.int32),
                                np.zeros(m, dtype=np.uint8),
                                np.zeros(m, dtype=np.int32),
                                # StringFields never carry offsets or
                                # payloads (the value is untokenized) —
                                # off_enc/pay_enc stay empty at every level
                                np.empty(0, dtype=np.int32),
                                np.empty(0, dtype=np.int32),
                                b"",
                            )
                        )
                sum_len += int(totals.sum())
                doc_count += int((totals > 0).sum())
                yield _frame(
                    {
                        "pid": np.full(n, pid, dtype=np.int32),
                        "local_rank": rank + np.arange(n, dtype=np.int64),
                        "conv_id": pdf["conv_id"],
                        "turn_idx": pdf["turn_idx"],
                        "role": pdf["role"],
                        "tool": pdf["tool"],
                        "ts": pdf["ts"],
                        "field_length": lengths,
                        "norm_byte": norm_bytes.astype(np.int16),
                        **{nf: pdf[nf] for nf in numeric_fields},
                    },
                    n,
                )
                rank += n
            if not seen_rows:
                return
            # flush the partial index: rows per (field, term), raw arrays.
            # A single partial row's channels are CAPPED (hot terms in a big
            # partition otherwise produce multi-MB binary rows, and Spark's
            # vectorized parquet reader batches by ROW COUNT — 4096 fat rows
            # per columnar batch OOMs the encode scan as the corpus grows).
            # Oversized lists split on posting boundaries into consecutive
            # first_local-ordered rows; merge-encode already concatenates
            # partials in first_docid order, so chunks need no special
            # handling downstream.
            entries: list[tuple] = []
            key_df: dict[tuple[str, str], int] = {}
            for key in store:
                chunks = store[key]
                if len(chunks) == 1:
                    d, t, nrm, p, o, yl, yb = chunks[0]
                else:
                    d, t, nrm, p, o, yl = (
                        np.concatenate([ch[j] for ch in chunks])
                        for j in range(6)
                    )
                    yb = b"".join(ch[6] for ch in chunks)
                key_df[key] = len(d)
                if len(d) <= max_partial_postings and len(p) <= max_partial_positions:
                    entries.append(
                        (key, len(d), int(d[0]), d.tobytes(), t.tobytes(),
                         nrm.tobytes(), p.tobytes(), o.tobytes(),
                         yl.tobytes(), yb)
                    )
                    continue
                cum = np.concatenate([[0], np.cumsum(t, dtype=np.int64)])
                cumy = (
                    np.concatenate([[0], np.cumsum(yl, dtype=np.int64)])
                    if len(yl)
                    else None
                )
                i = 0
                n_post = len(d)
                while i < n_post:
                    j = min(i + max_partial_postings, n_post)
                    j2 = int(
                        np.searchsorted(
                            cum, cum[i] + max_partial_positions, side="right"
                        )
                        - 1
                    )
                    j = max(i + 1, min(j, j2))
                    pa, pb = int(cum[i]), int(cum[j])
                    entries.append(
                        (
                            key, j - i, int(d[i]),
                            d[i:j].tobytes(), t[i:j].tobytes(),
                            nrm[i:j].tobytes(), p[pa:pb].tobytes(),
                            o[2 * pa : 2 * pb].tobytes() if len(o) else b"",
                            yl[pa:pb].tobytes() if len(yl) else b"",
                            yb[int(cumy[pa]) : int(cumy[pb])]
                            if cumy is not None
                            else b"",
                        )
                    )
                    i = j
            for c0 in range(0, len(entries), 65536):
                chunk = entries[c0 : c0 + 65536]
                yield _frame(
                    {
                        "pid": np.full(len(chunk), pid, dtype=np.int32),
                        "local_rank": np.full(len(chunk), -2, dtype=np.int64),
                        "field_length": np.zeros(len(chunk), dtype=np.int32),
                        "norm_byte": np.zeros(len(chunk), dtype=np.int16),
                        "field": [e[0][0] for e in chunk],
                        "term": [e[0][1] for e in chunk],
                        "pcount": np.array([e[1] for e in chunk], dtype=np.int32),
                        "first_local": np.array(
                            [e[2] for e in chunk], dtype=np.int64
                        ),
                        "docids": [e[3] for e in chunk],
                        "tfs": [e[4] for e in chunk],
                        "norms": [e[5] for e in chunk],
                        "poss": [e[6] for e in chunk],
                        "offs": [e[7] for e in chunk],
                        "pay_lens": [e[8] for e in chunk],
                        "pays": [e[9] for e in chunk],
                    },
                    len(chunk),
                )
            elapsed = time.time() - gt0
            meta = {
                "stage": "ingest",
                "pid": pid,
                "rows": rank,
                "lo": lo,
                "hi": hi,
                "postings": postings,
                "sum_len": sum_len,
                "doc_count": doc_count,
                "kw_sums": kw_sums,
                "elapsed_sec": round(elapsed, 3),
                "postings_per_sec": round(postings / max(elapsed, 1e-9), 1),
                "top_terms": dict(
                    sorted(
                        (
                            (k[0] + FKEY_SEP + k[1], n_df)
                            for k, n_df in key_df.items()
                        ),
                        key=lambda kv: -kv[1],
                    )[:top_terms]
                ),
                "lineage": input_lineage,
            }
            yield _frame(
                {
                    "pid": [pid],
                    "local_rank": [-1],
                    "field_length": [0],
                    "norm_byte": [0],
                    "meta": [json.dumps(meta)],
                },
                1,
            )

        def run_pass(use_clustered: bool) -> None:
            src = transcripts
            if not use_clustered:
                src = src.repartitionByRange(
                    self.n_segments, "conv_id", "turn_idx"
                ).sortWithinPartitions("conv_id", "turn_idx")
            base_cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
            # keyword fields beyond the stored schema (e.g. multi-valued
            # array<string> columns) ride along for indexing only
            extra_kw = [
                kf for kf in self.keyword_fields
                if kf not in base_cols and kf in src.columns
            ]
            missing = [nf for nf in numeric_fields if nf not in src.columns]
            if missing:
                raise ValueError(f"numeric fields missing from input: {missing}")
            staged = (
                src.select(*base_cols, *extra_kw, *numeric_fields)
                .mapInPandas(ingest_partition, staging_ddl)
            )
            staged.write.mode("overwrite").parquet(self._p("staging"))

        conf = self.spark.conf
        if clustered:
            # one file split per partition: Spark's size-ordered file packing
            # would interleave key ranges within a partition. Splits of a
            # single file remain contiguous, so per-partition order holds.
            prev_cost = conf.get("spark.sql.files.openCostInBytes", "4194304")
            conf.set("spark.sql.files.openCostInBytes", str(128 * 1024 * 1024))
            try:
                run_pass(True)
            except Exception:
                # order verification failed inside the pass — input was not
                # actually clustered; fall back to the range-shuffle path
                clustered = False
                input_lineage = json.dumps(
                    {"build_id": build_id, "source": "transcripts", "clustered": False,
                     "note": "clustered fast path failed verification; shuffled"}
                )
                run_pass(False)
            finally:
                conf.set("spark.sql.files.openCostInBytes", prev_cost)
        else:
            run_pass(False)

        # driver-side prefix sum over the tiny meta rows -> docid offsets,
        # partitions ordered by their (conv_id, turn_idx) range start
        metas = [
            json.loads(r["meta"])
            for r in self.spark.read.parquet(self._p("staging"))
            .filter(F.col("local_rank") == -1)
            .select("meta")
            .collect()
        ]
        metas.sort(key=lambda m: (m["lo"][0], m["lo"][1]))
        # range disjointness must hold or docids would not be a global rank
        for a, b in zip(metas, metas[1:]):
            assert (a["hi"][0], a["hi"][1]) < (b["lo"][0], b["lo"][1]), (
                "partition key ranges overlap — input neither clustered nor "
                "range-partitioned; rebuild with input_clustered=False"
            )
        offsets, acc = {}, 0
        for m in metas:
            offsets[m["pid"]] = acc
            acc += m["rows"]
        # hot-term estimate: sum of per-partition top-term local dfs. A term
        # hot overall is hot in many partitions, so the truncated per-partition
        # sketches cover it; underestimates only delay salting, never break it.
        est_df: Counter[str] = Counter()
        for m in metas:
            est_df.update(m["top_terms"])
        hot = {
            t: int(math.ceil(df / self.salt_target))
            for t, df in est_df.items()
            if df > self.salt_target
        }
        return self._mark_stage(
            "staging",
            {
                "build_id": build_id,
                "n_docs": acc,
                "offsets": {str(k): v for k, v in offsets.items()},
                # rank of each pid in key-range order (for partition-granular
                # hot-term salting) — metas are sorted by range start here
                "pid_rank": {str(m["pid"]): i for i, m in enumerate(metas)},
                "sum_ttf": int(sum(m["sum_len"] for m in metas)),
                "doc_count": int(sum(m["doc_count"] for m in metas)),
                "kw_sums": {
                    f: int(sum(m.get("kw_sums", {}).get(f, 0) for m in metas))
                    for f in self.keyword_fields
                },
                "hot_terms": hot,
                # slim per-partition checkpoint info so commit() needs no
                # staging re-read
                "metas": [
                    {k: m[k] for k in ["pid", "rows", "postings", "postings_per_sec", "lineage"]}
                    for m in metas
                ],
                "elapsed": round(time.time() - t0, 2),
            },
        )

    # -- stage 2: encode postings (the single explode shuffle) ----------------
    def encode_postings(self, build_id: str, staging_info: dict) -> dict:
        info = self._stage_info("postings")
        if info is not None:
            return info
        t0 = time.time()
        offsets = {int(k): v for k, v in staging_info["offsets"].items()}
        pid_rank = {int(k): v for k, v in staging_info["pid_rank"].items()}
        n_parts = max(len(pid_rank), 1)
        max_doc = int(staging_info["n_docs"])
        hot = {t: n for t, n in staging_info["hot_terms"].items() if n > 1}
        caches = score_caches(self.k1, self.b, self._fields(staging_info))
        n_buckets = self.n_buckets
        block = self.block_size
        n_shuffle = max(
            int(self.spark.conf.get("spark.sql.shuffle.partitions", "32")), 8
        )
        # size the merge-encode shuffle by DATA, not only by the session
        # conf: each reduce task materializes its groups' decoded channel
        # arrays, so a fixed partition count makes per-task memory grow
        # linearly with the corpus (OOMs past ~10M docs at 32 partitions).
        # Staging bytes via the Hadoop FS API (works on HDFS/S3 the same);
        # ~4x parquet->in-memory expansion, target <=128 MiB per task.
        try:
            jpath = self.spark._jvm.org.apache.hadoop.fs.Path(self._p("staging"))
            fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
            staged_bytes = int(fs.getContentSummary(jpath).getLength())
        except Exception:
            staged_bytes = 0
        n_shuffle = max(n_shuffle, math.ceil(staged_bytes * 4 / (128 << 20)))

        # the partial posting lists were flushed during ingest; this stage is
        # a pure shuffle of compact binary rows + numpy merge-encode — no
        # per-object Arrow conversion anywhere on the hot path.
        partials = (
            self.spark.read.parquet(self._p("staging"))
            .filter(F.col("local_rank") == -2)
            .select(
                "pid", "field", "term", "pcount", "first_local",
                "docids", "tfs", "norms", "poss", "offs", "pay_lens", "pays",
            )
        )
        off_expr = F.create_map(
            *[x for p, o in offsets.items() for x in (F.lit(p), F.lit(o))]
        )
        # partition-granular hot-term salting: every partial is one partition's
        # docid-contiguous sub-list, so salt = pid_range_rank * n_salts //
        # n_partitions keeps salt groups docid-contiguous with zero splitting
        rank_expr = F.create_map(
            *[x for p, r in pid_rank.items() for x in (F.lit(p), F.lit(r))]
        )
        fkey = F.concat(F.col("field"), F.lit(FKEY_SEP), F.col("term"))
        if hot:
            hot_expr = F.create_map(
                *[x for t, s in hot.items() for x in (F.lit(t), F.lit(s))]
            )
            salt_col = F.when(
                hot_expr[fkey].isNotNull(),
                (
                    F.element_at(rank_expr, F.col("pid"))
                    * hot_expr[fkey]
                    / F.lit(n_parts)
                ).cast("int"),
            ).otherwise(F.lit(0))
        else:
            salt_col = F.lit(0)
        partials = partials.select(
            "field",
            "term",
            salt_col.alias("salt"),
            F.col("pcount").alias("count"),
            (F.element_at(off_expr, F.col("pid")) + F.col("first_local")).alias(
                "first_docid"
            ),
            "docids",
            "tfs",
            "norms",
            "poss",
            "offs",
            "pay_lens",
            "pays",
            "pid",
        )
        lineage = json.dumps({"build_id": build_id, "stage": "encode", "max_doc": max_doc})
        encoded = partials.repartition(n_shuffle, "field", "term", "salt").mapInPandas(
            make_merge_encode(caches, n_buckets, block, lineage, offsets), POSTINGS_DDL
        )
        # the partials scan reads wide binary rows (<=~0.5 MB each after the
        # flush caps); the vectorized reader batches by ROW COUNT, so drop
        # from 4096 to 256 rows/batch for THIS job only — bounds scan-task
        # memory at ~128 MB worst-case instead of ~2 GB
        batch_conf = "spark.sql.parquet.columnarReaderBatchSize"
        prev_batch = self.spark.conf.get(batch_conf, "4096")
        self.spark.conf.set(batch_conf, "256")
        try:
            write_postings(encoded, self._p("postings"), n_buckets)
        finally:
            self.spark.conf.set(batch_conf, prev_batch)
        return self._mark_stage(
            "postings", {"build_id": build_id, "elapsed": round(time.time() - t0, 2)}
        )

    @staticmethod
    def _fields(staging_info: dict) -> dict:
        # from the ingest meta sums: no job
        return field_infos(
            int(staging_info["n_docs"]),
            int(staging_info["doc_count"]),
            int(staging_info["sum_ttf"]),
            staging_info["kw_sums"],
        )

    # -- stage 3: field stats (metadata only) ---------------------------------
    def compute_stats(self, build_id: str, staging_info: dict) -> dict:
        """Per-field stats for the manifest's `fields` block. The terms
        dictionary is materialized as stat rows INSIDE the postings write
        (block_no = -2) and the field stats come from the ingest meta sums,
        so this stage runs no Spark job and writes no table."""
        return {
            "build_id": build_id,
            "max_doc": int(staging_info["n_docs"]),
            "fields": self._fields(staging_info),
        }

    # -- stage 4: checkpoints + atomic manifest commit ------------------------
    def commit(self, build_id: str, staging_info: dict, stats_info: dict) -> dict:
        return commit_segment(
            self.spark,
            self.out_dir,
            build_id,
            {k: getattr(self, k) for k in SEGMENT_SETTINGS},
            stats_info["max_doc"],
            stats_info["fields"],
            [{"path": self._p("staging"), "offsets": staging_info["offsets"], "docbase": 0}],
            staging_info["hot_terms"],
            # ingest checkpoint metas ride in the stage marker (no staging
            # re-read)
            [dict(m, stage="ingest") for m in staging_info["metas"]],
        )

    def build(self, transcripts: DataFrame, build_id: str = "build-0") -> dict:
        """Full build: ingest -> encode -> stats -> commit. Idempotent/resumable:
        completed stages (marker files) are skipped on re-run."""
        os.makedirs(self.out_dir, exist_ok=True)
        staging_info = self.ingest(transcripts, build_id)
        self.encode_postings(build_id, staging_info)
        stats_info = self.compute_stats(build_id, staging_info)
        return self.commit(build_id, staging_info, stats_info)


# -- the segment format -------------------------------------------------------


def avgdl_f32(sum_ttf: int, max_doc: int) -> np.float32:
    """A field's average length in float32 (BM25Similarity.cs:91-102); 1
    for a field without tokens."""
    if sum_ttf <= 0:
        return np.float32(1.0)
    return np.float32(np.float64(sum_ttf) / np.float64(max_doc))


def field_infos(
    max_doc: int, doc_count: int, sum_ttf: int, kw_sums: dict[str, int]
) -> dict[str, dict]:
    """The manifest's `fields` block: the analyzed text field's stats, plus
    one omitNorms entry per keyword field whose count is its (doc, value)
    pairs (each a single tf=1 posting, so doc_count == sum_ttf)."""
    fields = {
        FIELD: {
            "doc_count": int(doc_count),
            "sum_ttf": int(sum_ttf),
            "avgdl": float(avgdl_f32(sum_ttf, max_doc)),
            "omit_norms": False,
        }
    }
    for kf, n in kw_sums.items():
        fields[kf] = {
            "doc_count": int(n), "sum_ttf": int(n), "avgdl": 1.0, "omit_norms": True,
        }
    return fields


def score_caches(k1: float, b: float, fields: dict[str, dict]) -> dict[str, np.ndarray]:
    """Per-field 256-entry BM25 denominator caches: the byte315 norm cache
    under the field's avgdl, or the k1 constant for omitNorms fields."""
    return {
        f: omit_norms_cache(k1)
        if info["omit_norms"]
        else norm_cache(k1, b, np.float32(info["avgdl"]))
        for f, info in fields.items()
    }


def commit_segment(
    spark: SparkSession,
    out_dir: str,
    build_id: str,
    settings: dict,
    max_doc: int,
    fields: dict[str, dict],
    stagings: list[dict],
    hot_terms: dict[str, int],
    checkpoints: list[dict],
) -> dict:
    """Commit the segment whose postings are at out_dir/postings — the one
    writer of the segment format, for builds and merges alike.

    Writes the build_checkpoints table (the given stage metas plus the
    encode metas embedded in the postings), then publishes _manifest.json by
    atomic rename (segments_N commit, SegmentInfos.cs:55-75). `settings`
    must hold every SEGMENT_SETTINGS key; `stagings` lists the segment's doc
    stores as {path, offsets, docbase}."""
    postings = os.path.join(out_dir, "postings")
    checkpoints_path = os.path.join(out_dir, "build_checkpoints")
    encode_metas = [
        json.loads(r["term"])
        for r in spark.read.parquet(postings)
        .filter(F.col("block_no") == -1)
        .select("term")
        .collect()
    ]
    now = datetime.now(timezone.utc).isoformat()
    rows = [
        (
            build_id,
            m["stage"],
            int(m.get("pid", i)),
            "done",
            int(m["postings"]),
            float(m["postings_per_sec"]),
            m["lineage"],
            now,
        )
        for i, m in enumerate(checkpoints + encode_metas)
    ]
    local_table(
        spark,
        rows,
        "build_id string, stage string, partition_id int, status string,"
        " postings long, postings_per_sec double, lineage string, committed_at string",
    ).coalesce(1).write.mode("overwrite").parquet(checkpoints_path)

    text = fields[FIELD]
    manifest = {
        "format_version": FORMAT_VERSION,
        "build_id": build_id,
        "field": FIELD,
        **{k: settings[k] for k in SEGMENT_SETTINGS},
        "fields": fields,
        "max_doc": int(max_doc),
        "doc_count": text["doc_count"],
        "sum_ttf": text["sum_ttf"],
        "avgdl": text["avgdl"],
        "stagings": stagings,
        "hot_terms": hot_terms,
        "tables": {"postings": postings, "build_checkpoints": checkpoints_path},
        "committed_at": now,
    }
    tmp = os.path.join(out_dir, "_manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, os.path.join(out_dir, "_manifest.json"))  # atomic publish
    return manifest


def load_manifest(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "_manifest.json")) as f:
        m = json.load(f)
    if m.get("format_version") != FORMAT_VERSION:
        raise ValueError(
            f"{index_dir}: manifest format {m.get('format_version')}, this "
            f"reader needs {FORMAT_VERSION}; rebuild the index"
        )
    return m


@dataclass
class SegmentSet:
    """Segments opened together (a multi-segment reader or a merge's
    sources): manifests with cumulative docbases (AtomicReaderContext.cs:
    36,44-48), field stats summed across segments (TermContext.cs:90-145)
    and the SHARED_SETTINGS they agree on."""

    segments: list[dict]  # {"dir", "manifest", "docbase"}
    max_doc: int
    fields: dict[str, dict]
    shared: dict

    @property
    def avgdl(self) -> np.float32:
        return np.float32(self.fields[FIELD]["avgdl"])

    @property
    def stagings(self) -> list[dict]:
        """Every segment's doc stores, docbases shifted to the set's docids."""
        return [
            dict(sg, docbase=sg["docbase"] + s["docbase"])
            for s in self.segments
            for sg in s["manifest"]["stagings"]
        ]

    def docs(self, spark: SparkSession) -> DataFrame:
        return _stagings_view(spark, self.stagings, self.shared["numeric_fields"])


def open_segments(segment_dirs: list[str]) -> SegmentSet:
    """Open a segment set; raises ValueError if its segments disagree on a
    SHARED_SETTINGS value (Lucene cannot produce such a set: these are fixed
    at IndexWriter level)."""
    if not segment_dirs:
        raise ValueError("at least one index segment required")
    segments, docbase = [], 0
    for d in segment_dirs:
        m = load_manifest(d)
        segments.append({"dir": d, "manifest": m, "docbase": docbase})
        docbase += int(m["max_doc"])
    shared = {}
    for key in SHARED_SETTINGS:
        values = [s["manifest"][key] for s in segments]
        if any(v != values[0] for v in values):
            raise ValueError(f"cannot combine segments with different {key}: {values}")
        shared[key] = values[0]
    doc_count = sum_ttf = 0
    kw_sums: dict[str, int] = {}
    for s in segments:
        for f, info in s["manifest"]["fields"].items():
            if f == FIELD:
                doc_count += int(info["doc_count"])
                sum_ttf += int(info["sum_ttf"])
            else:
                kw_sums[f] = kw_sums.get(f, 0) + int(info["sum_ttf"])
    return SegmentSet(
        segments, docbase, field_infos(docbase, doc_count, sum_ttf, kw_sums), shared
    )


def docs_view(spark: SparkSession, manifest: dict) -> DataFrame:
    """The docs 'table' of one segment: column-pruned scans of its doc
    stores + on-the-fly stable docid.

    A merged index references the doc stores of its source segments (each
    with a docbase) instead of rewriting the heavy text data — the stored-
    fields analogue of Lucene's merge keeping doc data per segment file."""
    return _stagings_view(spark, manifest["stagings"], manifest["numeric_fields"])


def _stagings_view(
    spark: SparkSession, stagings: list[dict], numeric_fields: list[str]
) -> DataFrame:
    out = None
    for sg in stagings:
        offsets = {int(k): v + int(sg["docbase"]) for k, v in sg["offsets"].items()}
        pairs = [x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
        m = F.create_map(*pairs) if pairs else F.create_map()
        df = (
            spark.read.parquet(sg["path"])
            .filter(F.col("local_rank") >= 0)
            .select(
                (F.element_at(m, F.col("pid")) + F.col("local_rank")).alias("docid"),
                *DOC_COLS,
                *numeric_fields,
            )
        )
        out = df if out is None else out.unionByName(df)
    return out
