"""Porter stemming: the pluggable "english" analyzer slot.

Reference: PorterStemFilter appended after stop removal
(Lucene.Net.Analysis.Common/Analysis/En/PorterStemFilter.cs; behavioral
fixtures follow Lucene.Net.Tests.Analysis.Common/Analysis/En/
TestPorterStemFilter.cs and the examples in M.F. Porter, "An algorithm
for suffix stripping", Program 14(3) 1980). The SQL mirror
(entry_support._porter_sql_pipeline) is an independent implementation of
the same published algorithm — fuzz-compared here so the stemmed gates
are non-circular.
"""
import numpy as np
import pytest

from lucenenet_spark import oracle
from lucenenet_spark.functions.analysis import tokenize_text, tokenize_with_positions
from lucenenet_spark.functions.porter import porter_stem

from .conftest import hits

# canonical pairs from the published algorithm's worked examples
FIXTURES = {
    "caresses": "caress", "ponies": "poni", "ties": "ti", "caress": "caress",
    "cats": "cat", "feed": "feed", "agreed": "agre", "plastered": "plaster",
    "bled": "bled", "motoring": "motor", "sing": "sing",
    "conflated": "conflat", "troubled": "troubl", "sized": "size",
    "hopping": "hop", "tanned": "tan", "falling": "fall", "hissing": "hiss",
    "fizzed": "fizz", "failing": "fail", "filing": "file",
    "happy": "happi", "sky": "sky",
    "relational": "relat", "conditional": "condit", "rational": "ration",
    "valenci": "valenc", "hesitanci": "hesit", "digitizer": "digit",
    "conformabli": "conform", "radicalli": "radic", "differentli": "differ",
    "vileli": "vile", "analogousli": "analog",
    "vietnamization": "vietnam", "predication": "predic", "operator": "oper",
    "feudalism": "feudal", "decisiveness": "decis", "hopefulness": "hope",
    "callousness": "callous", "formaliti": "formal", "sensitiviti": "sensit",
    "sensibiliti": "sensibl",
    "triplicate": "triplic", "formative": "form", "formalize": "formal",
    "electriciti": "electr", "electrical": "electr", "hopeful": "hope",
    "goodness": "good",
    "revival": "reviv", "allowance": "allow", "inference": "infer",
    "airliner": "airlin", "gyroscopic": "gyroscop", "adjustable": "adjust",
    "defensible": "defens", "irritant": "irrit", "replacement": "replac",
    "adjustment": "adjust", "dependent": "depend", "adoption": "adopt",
    "homologou": "homolog", "communism": "commun", "activate": "activ",
    "angulariti": "angular", "homologous": "homolog", "effective": "effect",
    "bowdlerize": "bowdler",
    "probate": "probat", "rate": "rate", "cease": "ceas",
    "controll": "control", "roll": "roll",
    # words the gate corpus actually contains
    "merge": "merg", "table": "tabl", "value": "valu", "line": "line",
    "stream": "stream", "batch": "batch",
}


def test_porter_fixtures():
    for w, want in FIXTURES.items():
        assert porter_stem(w) == want, w


def test_analyzer_chain_stems_after_stop_removal():
    toks = tokenize_text("the ponies are merging tables", analyzer="english")
    # "the"/"are" are stopwords; the rest stem
    assert toks == ["poni", "merg", "tabl"]
    # positions keep the stopword gaps, unchanged by stemming
    toks, poss = tokenize_with_positions(
        "the ponies are merging", analyzer="english"
    )
    assert toks == ["poni", "merg"] and poss == [1, 3]


def test_standard_analyzer_unchanged():
    assert tokenize_text("the ponies are merging") == ["ponies", "merging"]


def test_sql_porter_fuzz_matches_python():
    """The independent SQL Porter pipeline must agree with porter.py on a
    suffix-heavy random word list plus all fixtures."""
    import random

    import duckdb

    from lucenenet_spark.entry_support import _porter_sql_pipeline

    words = set(FIXTURES)
    rng = random.Random(11)
    for _ in range(500):
        n = rng.randint(3, 12)
        words.add(
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyyes") for _ in range(n))
        )
    words = sorted(words)
    con = duckdb.connect()
    vals = ", ".join(f"('{w}')" for w in words)
    sql = f"""WITH rawtoks AS (
  SELECT 0 AS docid, 0 AS ord, tok FROM (VALUES {vals}) t(tok)),
{_porter_sql_pipeline()}
SELECT tok, stem FROM stemmap"""
    got = dict(con.execute(sql).fetchall())
    bad = [w for w in words if porter_stem(w) != got.get(w)]
    assert not bad, bad[:10]


STEM_TEXTS = [
    "merging the tables quickly",
    "he merges two sorted tables",
    "a merged table was filed",
    "filing system files the merger",
    "hopping and hopped and hopes",
    "the ponies pony around happily",
    "plain words without endings here",
    "relational databases use relations",
    "",  # empty doc: zero tokens, still counted in stats
] * 3  # repeat so df/tf vary


def _stem_corpus_pdf():
    import pandas as pd

    n = len(STEM_TEXTS)
    return pd.DataFrame(
        {
            "conv_id": [f"conv-{i//4:08d}" for i in range(n)],
            "turn_idx": [i % 4 for i in range(n)],
            "role": ["user"] * n,
            "text": STEM_TEXTS,
            "tool": [None] * n,
            "ts": pd.to_datetime("2024-01-01"),
        }
    )


@pytest.fixture(scope="module")
def stemmed_index(spark, tmp_path_factory):
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from lucenenet_spark.operators.index_build import IndexBuilder

    out = str(tmp_path_factory.mktemp("idxstem") / "main")
    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    df = spark.createDataFrame(_stem_corpus_pdf(), schema).repartition(3)
    IndexBuilder(
        spark, out, n_buckets=4, n_segments=4, salt_target=10**9,
        analyzer="english",
    ).build(df)
    return out


@pytest.fixture(scope="module")
def stemmed_oracle():
    pdf = _stem_corpus_pdf().sort_values(["conv_id", "turn_idx"])
    return oracle.build_index(pdf["text"].tolist(), analyzer="english")


def test_stemmed_index_parity(spark, stemmed_index, stemmed_oracle):
    from lucenenet_spark.operators.search import IndexSearcher
    from lucenenet_spark.plans.parser import parse

    s = IndexSearcher(spark, stemmed_index)
    assert s.analyzer == "english"
    for query, stem in [("merging", "merg"), ("tables", "tabl"), ("filed", "file")]:
        q = parse(query, analyzer=s.analyzer)
        want = oracle.top_k(oracle.term_scores(stemmed_oracle, stem), 15)
        assert want, (query, stem)  # non-vacuous: family exists in corpus
        got = hits(s.search(q, 15))
        assert got == want, query


def test_stem_unifies_inflection_family(spark, stemmed_index):
    """df('merg') on the stemmed index spans merging/merges/merged/merger."""
    from lucenenet_spark.operators.search import IndexSearcher

    s = IndexSearcher(spark, stemmed_index)
    # merging/merges/merged all -> merg ("merger" keeps its -er: m=1)
    df_merg = s.doc_freqs([("text", "merg")])[("text", "merg")]
    assert df_merg == 9  # 3 distinct docs x 3 repeats
    # the surface forms are NOT in the stemmed index
    assert s.doc_freqs([("text", "merging")])[("text", "merging")] == 0


def test_analyzing_suggester(spark, tmp_path):
    """AnalyzingSuggester: analyzed-form prefix match, weight-ordered,
    surface dedup keeps max weight; the english analyzer matches inflected
    queries against stemmed analyzed forms."""
    from lucenenet_spark.operators import suggest as sg

    rows = [
        ("merging tables", 10),
        ("merging tables", 4),  # dup surface: keep weight 10
        ("merged table stats", 7),
        ("merge conflict", 9),
        ("the stopword start", 3),
        ("stream processing", 8),
    ]
    entries = spark.createDataFrame(rows, "surface string, weight long")
    d = str(tmp_path / "sugg")
    sg.build_analyzing_suggester(spark, entries, d, analyzer="english")
    # query "merges" stems to "merg" -> matches all three merge entries
    got = [
        (r["surface"], r["weight"])
        for r in sg.analyzing_lookup(spark, d, "merges", k=10).collect()
    ]
    assert got == [
        ("merging tables", 10),
        ("merge conflict", 9),
        ("merged table stats", 7),
    ]
    # two-token analyzed prefix
    got2 = [
        r["surface"] for r in sg.analyzing_lookup(spark, d, "merging tab", 10).collect()
    ]
    assert got2 == ["merging tables", "merged table stats"]
    # empty analyzed query (all stopwords) -> full channel, weight-ordered
    got3 = [r["surface"] for r in sg.analyzing_lookup(spark, d, "the", 2).collect()]
    assert got3 == ["merging tables", "merge conflict"]


def test_fuzzy_suggester(spark, tmp_path):
    """FuzzySuggester: completions whose analyzed form extends the query
    within the edit budget; exact non-fuzzy prefix; short queries exact."""
    from lucenenet_spark.operators import suggest as sg

    rows = [
        ("merge conflict", 9),
        ("marge simpson", 5),      # 1 sub from "merge"
        ("merge", 3),
        ("ranger", 2),             # shares no prefix char with 'm'
        ("emerge now", 7),         # first char differs -> excluded by band
    ]
    entries = spark.createDataFrame(rows, "surface string, weight long")
    d = str(tmp_path / "fsugg")
    sg.build_analyzing_suggester(spark, entries, d)
    got = [
        (r["surface"], r["weight"])
        for r in sg.fuzzy_lookup(spark, d, "merge", k=10, max_edits=1).collect()
    ]
    assert got == [("merge conflict", 9), ("marge simpson", 5), ("merge", 3)]
    # short query (< min_fuzzy_length): exact prefix only
    got2 = [r["surface"] for r in sg.fuzzy_lookup(spark, d, "mar", k=10).collect()]
    assert got2 == ["marge simpson"]
    # prefix_dl sanity: transposition counts one edit
    assert sg.prefix_dl("mereg", "merge conflict", 1) <= 1


def test_highlight_marks_stemmed_matches(spark, stemmed_index):
    """On a stemmed index the highlighter matches on stems but shows the
    surface form: query stem 'merg' marks 'merging'."""
    from lucenenet_spark.operators.highlight import highlight
    from lucenenet_spark.operators.search import IndexSearcher
    from lucenenet_spark.plans.parser import parse
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    source = spark.createDataFrame(_stem_corpus_pdf(), schema)
    s = IndexSearcher(spark, stemmed_index)
    q = parse("merging", analyzer=s.analyzer)
    rows = highlight(s, q, ["merg"], source, k=5).collect()
    assert rows
    marked = [r["snippet"] for r in rows if "<b>" in r["snippet"]]
    assert marked  # at least one snippet marks a surface form
    assert any("<b>merging</b>" in m or "<b>merges</b>" in m or "<b>merged</b>" in m
               for m in marked)


@pytest.mark.parametrize(
    "setting",
    [
        {"analyzer": "english"},
        {"norm_spec": "sweetspot:3:10:0.5"},
        {"k1": 1.5},
    ],
    ids=["analyzer", "norm_spec", "k1"],
)
def test_merge_rejects_mixed_analyzers(spark, tmp_path, corpus_pdf, index_dir, setting):
    """Segments that differ in an IndexWriter-level setting index
    incompatible term spaces or norms; merging them must fail up front."""
    from lucenenet_spark.operators.index_build import IndexBuilder
    from lucenenet_spark.operators.merge import merge_segments

    other = str(tmp_path / "other")
    IndexBuilder(
        spark, other, n_buckets=2, n_segments=2, input_clustered=False, **setting
    ).build(spark.createDataFrame(corpus_pdf.head(40)))
    with pytest.raises(ValueError):
        merge_segments(spark, [index_dir, other], str(tmp_path / "mixed"))
