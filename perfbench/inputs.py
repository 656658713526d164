"""Seeded benchmark inputs: transcript corpora, query lists, NRT micro-batches.

Everything here runs on the driver with numpy/pyarrow before the engine
sees any data; the same seed always yields the same bytes. Inputs are written as
parquet so the engine reads them like a stored table, and each NRT
micro-batch is its own small parquet directory (no per-batch filter over a
shared corpus).
"""
from __future__ import annotations

import dataclasses
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from lucenenet_spark import datagen

HOT = "popcorn"  # the hot term datagen appends to ~20% of turns
ROLES = tuple(datagen._ROLES)
TOOLS = tuple(datagen._TOOLS)

SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])

# Query families, in the fixed order the serving loop cycles through them.
FAMILIES = ("term_hot", "term_mid", "term_rare", "and", "or", "msm",
            "phrase", "sloppy", "prefix", "field")


# The engine's own transcript vocabulary: common words (stopwords
# included), mid-frequency words and a long rare tail.
_WORDS, _PROBS = datagen._vocab(None)
_CUM = np.cumsum(_PROBS)
_CUM[-1] = 1.0  # every draw in [0, 1) maps to a word


@dataclasses.dataclass
class Conversations:
    """Turns of whole conversations, sorted by (conv_id, turn_idx)."""

    conv_id: list[str]
    turn_idx: np.ndarray
    text: list[str]

    def __len__(self) -> int:
        return len(self.text)

    @property
    def role(self) -> list[str]:
        return [ROLES[t % len(ROLES)] for t in self.turn_idx]

    @property
    def tool(self) -> list[str | None]:
        return [TOOLS[i % len(TOOLS)] if r == "tool" else None
                for i, r in enumerate(self.role)]

    def keys(self) -> list[tuple[str, int]]:
        return list(zip(self.conv_id, (int(t) for t in self.turn_idx)))

    def text_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.text)


def conversations(rng: np.random.Generator, ids: list[str], mean_tokens: int = 22,
                  shape: np.random.Generator | None = None) -> Conversations:
    """Generate the turns of each conversation id with the engine's
    transcript vocabulary and role/tool rules (lucenenet_spark.datagen):
    zipf-ish 1..12 turns, geometric turn lengths, the hot term in ~20% of
    turns. Unlike datagen, the caller names the conversations. Turn counts and
    lengths come from `shape` when given, so callers can hold the size of
    an input fixed while its words still follow the seed."""
    shape = rng if shape is None else shape
    n_turns = np.minimum(12, shape.zipf(1.8, size=len(ids)))
    conv_id = [c for c, n in zip(ids, n_turns) for _ in range(n)]
    turn_idx = np.concatenate([np.arange(n) for n in n_turns]).astype(np.int32)
    lens = np.minimum(20 * mean_tokens, shape.geometric(1.0 / mean_tokens, len(conv_id)))
    toks = _WORDS[np.searchsorted(_CUM, rng.random(int(lens.sum())))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    hot = rng.random(len(conv_id)) < 0.20
    text = [
        " ".join(toks[bounds[i]:bounds[i + 1]]) + (" " + HOT if hot[i] else "")
        for i in range(len(conv_id))
    ]
    return Conversations(conv_id, turn_idx, text)


def write_parquet(conv: Conversations, out_dir: str, n_files: int = 1,
                  version: int = 0) -> None:
    """Write turns as n_files parquet files, each a contiguous key range.
    `ts` encodes (version, row), so a fetched row names the version it came
    from and a stale (deleted) turn is recognisable."""
    os.makedirs(out_dir, exist_ok=True)
    n = len(conv)
    table = pa.table(
        {
            "conv_id": conv.conv_id,
            "turn_idx": conv.turn_idx,
            "role": conv.role,
            "text": conv.text,
            "tool": conv.tool,
            "ts": version_ts(version, np.arange(n, dtype=np.int64)),
        },
        schema=SCHEMA,
    )
    bounds = [n * i // n_files for i in range(n_files + 1)]
    for i in range(n_files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))


def version_ts(version: int, row) -> np.ndarray:
    """Microsecond timestamps unique per (version, row)."""
    return TS0 + (version * 1_000_000 + np.asarray(row, dtype=np.int64)) * 1_000_000


TS0 = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z


# -- queries -------------------------------------------------------------------

@dataclasses.dataclass(frozen=True)
class QuerySpec:
    family: str
    text: str  # classic query-parser syntax
    min_should_match: int = 0  # applied to the parsed query (no parser syntax)


def _doc_freqs(conv: Conversations) -> dict[str, int]:
    df: dict[str, int] = {}
    for t in conv.text:
        for w in set(t.split()):
            df[w] = df.get(w, 0) + 1
    return df


def _adjacent_pairs(conv: Conversations, rng: np.random.Generator, n: int) -> list[str]:
    """Phrases of two adjacent common words that occur in the corpus."""
    out: list[str] = []
    for i in rng.permutation(len(conv)):
        toks = conv.text[i].split()
        for a, b in zip(toks, toks[1:]):
            if a.startswith("common") and b.startswith("common") and a != b:
                p = f"{a} {b}"
                if p not in out:
                    out.append(p)
                break
        if len(out) == n:
            return out
    raise ValueError("corpus too small for phrase queries")


def query_pool(conv: Conversations, rng: np.random.Generator,
               variants: int) -> dict[str, list[QuerySpec]]:
    """`variants` distinct queries per family, every term present in `conv`.
    The hot term is the last term_hot variant."""
    df = _doc_freqs(conv)
    present = lambda prefix: sorted(w for w in df if w.startswith(prefix))  # noqa: E731
    commons, mids, rares = present("common"), present("word"), present("rare")
    pick = lambda xs, k: [xs[i] for i in rng.choice(len(xs), k, replace=False)]  # noqa: E731
    v = variants
    pairs = _adjacent_pairs(conv, rng, 2 * v)
    pool = {
        "term_hot": pick(commons, v - 1) + [HOT],
        "term_mid": pick(mids, v),
        "term_rare": pick(rares, v),
        "and": [f"+{HOT} +{w}" for w in pick(mids, v)],
        "or": [f"{a} OR {b} OR {c}" for a, b, c in
               zip(pick(mids, v), pick(mids, v), pick(rares, v))],
        "msm": [f"{HOT} {c} {a} {b}" for c, a, b in
                zip(pick(commons, v), pick(mids, v), pick(mids, v))],
        "phrase": [f'"{p}"' for p in pairs[:v]],
        "sloppy": [f'"{p}"~3' for p in pairs[v:]],
        "prefix": [f"{w[:8]}*" for w in pick([r for r in rares if len(r) >= 8], v)],
        "field": [f"role:{ROLES[i % 3]}" if i % 2 == 0 else f"tool:{TOOLS[i % 5]}"
                  for i in rng.permutation(6)[:v]],
    }
    return {
        f: [QuerySpec(f, t, 2 if f == "msm" else 0) for t in texts]
        for f, texts in pool.items()
    }


def serving_list(pool: dict[str, list[QuerySpec]], cycles: int) -> list[QuerySpec]:
    """`cycles` rounds over FAMILIES, one query of each family per round, so
    any whole number of rounds has the same family mix. Within a family the
    variant follows a FIXED Zipf-like pattern (independent of the seed):
    repeats sit at the same positions for every seed while the query texts
    come from the seeded pool."""
    pattern = np.random.default_rng(20251017)
    out = []
    for _ in range(cycles):
        for fam in FAMILIES:
            variants = pool[fam]
            p = 1.0 / np.arange(1, len(variants) + 1)
            out.append(variants[int(pattern.choice(len(variants), p=p / p.sum()))])
    return out
