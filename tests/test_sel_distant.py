"""SEL serialize/parse round-trip + distant supervision DP matcher."""

from collections import Counter

from deepkg_spark.operators.distant import (
    TokenTrie,
    decode_tie_or_break,
    distant_supervision,
    segment_dp,
    tie_or_break_spans,
)
from deepkg_spark.operators.relations import triples_frame
from deepkg_spark.operators.sel import (
    CODE_SCHEMA,
    parse_sel,
    sel_roundtrip_triples,
    sel_to_relations,
    spot_asoc_to_sel,
)
from deepkg_spark.sources.corpus import load_corpus


# ---------------------------------------------------------------- SEL unit

def test_sel_roundtrip_unit():
    spots = [
        ("file", "org/repo1/src/f.py", [("imports", "mod7"), ("defines", "fn3")]),
        ("function", "fn3", [("calls", "mod7.call")]),
    ]
    sel = spot_asoc_to_sel(spots)
    assert parse_sel(sel) == spots


def test_sel_repair_unbalanced():
    # missing final close bracket -> repaired by appending
    sel = "<extra_id_0> file <extra_id_5> f.py <extra_id_0> imports <extra_id_5> mod1 <extra_id_1>"
    assert parse_sel(sel) == [("file", "f.py", [("imports", "mod1")])]
    # orphan close -> dropped
    assert parse_sel("<extra_id_1> garbage") == []
    # no split marker -> node dropped
    assert parse_sel("<extra_id_0> justwords <extra_id_1>") == []


def test_sel_validation_drops():
    text = "f.py mod1 fn9"
    ok = [("file", "f.py", [("imports", "mod1")])]
    assert sel_to_relations(spot_asoc_to_sel(ok), text, CODE_SCHEMA) == [
        ("f.py", "file", "imports", "mod1", "module")
    ]
    # label not in schema -> dropped
    bad_type = [("alien", "f.py", [("imports", "mod1")])]
    assert sel_to_relations(spot_asoc_to_sel(bad_type), text, CODE_SCHEMA) == []
    # role illegal for spot type -> dropped
    bad_role = [("function", "fn9", [("imports", "mod1")])]
    assert sel_to_relations(spot_asoc_to_sel(bad_role), text, CODE_SCHEMA) == []
    # span not in text -> dropped
    missing = [("file", "f.py", [("imports", "mod999")])]
    assert sel_to_relations(spot_asoc_to_sel(missing), text, CODE_SCHEMA) == []
    # null span -> dropped at parse
    nul = "<extra_id_0> file <extra_id_5> f.py <extra_id_0> imports <extra_id_5> <extra_id_6> <extra_id_1> <extra_id_1>"
    assert sel_to_relations(nul, text, CODE_SCHEMA) == []
    # duplicates -> suppressed
    dup = [("file", "f.py", [("imports", "mod1"), ("imports", "mod1")])]
    assert len(sel_to_relations(spot_asoc_to_sel(dup), text, CODE_SCHEMA)) == 1


def test_sel_roundtrip_equals_regexp_path(spark, sf_dir):
    corpus = load_corpus(spark, sf_dir)
    a = Counter(tuple(r) for r in sel_roundtrip_triples(corpus).collect())
    b = Counter(
        tuple(r) for r in triples_frame(corpus).select(
            "repo", "path", "subj", "subj_type", "pred", "obj", "obj_type"
        ).collect()
    )
    assert a == b and sum(a.values()) > 0


# ---------------------------------------------------------------- distant DP

def _trie():
    return TokenTrie(
        [
            ("big table", "obj", 1.0),
            ("table", "obj", 1.0),
            ("big", "adj", 1.0),
            ("fast big table scan", "op", 0.5),
        ]
    )


def test_segment_dp_prefers_len_squared():
    # "big table" as one 2-token match (score 4) beats two 1-token (1+1)
    segs = segment_dp("the big table scan".split(), _trie())
    assert (1, 3, "obj") in segs


def test_segment_dp_weighting():
    # 4-token noisy match: 0.5*16 = 8 > core "big table"(4) + nothing else
    segs = segment_dp("fast big table scan".split(), _trie())
    assert segs == [(0, 4, "op")]
    # but with core weight on the long match it also wins outright
    trie2 = TokenTrie([("big table", "obj", 1.0), ("fast big table scan", "op", 0.2)])
    assert segment_dp("fast big table scan".split(), trie2) == [(1, 3, "obj")]


def test_distant_supervision_frame(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dictionary = spark.createDataFrame(
        [("big table", "obj", True), ("fast", "adj", True), ("slow query", "obj", False)],
        ["surface", "type", "is_core"],
    )
    out = distant_supervision(docs, dictionary)
    rows = out.collect()
    assert len(rows) > 0
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in rows:
        toks = [t for t in texts[r["doc_id"]].split(" ") if t]
        assert " ".join(toks[r["start_tok"] : r["end_tok"]]) == r["surface"]
    # determinism across parallelism
    a = Counter(tuple(r) for r in out.collect())
    b = Counter(tuple(r) for r in distant_supervision(docs.repartition(7), dictionary).collect())
    assert a == b


def test_tie_or_break(spark):
    tokens = ["acute", "renal", "failure", "and", "pain"]
    ties = [False, True, True, False, False]
    types = ["disease", "disease", "disease", "O", "symptom"]
    assert decode_tie_or_break(tokens, ties, types) == [
        (0, 3, "disease"),
        (4, 5, "symptom"),
    ]
    rows = [(0, i, tokens[i], ties[i], types[i]) for i in range(5)]
    df = spark.createDataFrame(rows, ["sent_id", "pos", "token", "tie", "type"])
    got = {tuple(r) for r in tie_or_break_spans(df).collect()}
    assert got == {(0, 0, 3, "disease"), (0, 4, 5, "symptom")}


def test_sel_to_events_validation_and_dedup():
    from deepkg_spark.operators.sel import (
        CODE_SCHEMA,
        sel_to_events,
        spot_asoc_to_sel,
    )

    text = "import mod5\ndef fn1(x):\n    return mod5.call(x)\n"
    # valid event + duplicate + bad role + span not in text + non-event spot
    sel = spot_asoc_to_sel(
        [
            ("invoke", "mod5.call", [("callee", "mod5"), ("caller", "fn1")]),
            ("invoke", "mod5.call", [("callee", "mod5")]),  # dup role record
            ("invoke", "mod5.call", [("bogus_role", "mod5")]),
            ("invoke", "mod5.call", [("callee", "mod99")]),  # span absent
            ("file", "whatever", [("imports", "mod5")]),  # entity spot: skip
        ]
    )
    recs = sel_to_events(sel, text, CODE_SCHEMA)
    assert recs == [
        ("invoke", "mod5.call", text.find("mod5.call"), "callee", "mod5", 7),
        ("invoke", "mod5.call", text.find("mod5.call"), "caller", "fn1", text.find("fn1")),
    ]


def test_sel_to_events_trigger_absent_drops_record():
    from deepkg_spark.operators.sel import CODE_SCHEMA, sel_to_events, spot_asoc_to_sel

    sel = spot_asoc_to_sel([("invoke", "mod9.call", [("callee", "mod9")])])
    assert sel_to_events(sel, "no trigger here", CODE_SCHEMA) == []


def test_fix_unk_from_text_properties():
    """Property: repairing a span whose middle words were masked with <unk>
    recovers the original span (hypothesis over word lists)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from deepkg_spark.operators.sel import fix_unk_from_text

    word = st.text(alphabet="abcdefgXYZ0123", min_size=1, max_size=6)

    @settings(max_examples=60, deadline=None)
    @given(st.lists(word, min_size=3, max_size=6), st.data())
    def inner(words, data):
        span = " ".join(words)
        text = f"prefix {span} suffix"
        i = data.draw(st.integers(1, len(words) - 2))
        masked = " ".join(w if j != i else "<unk>" for j, w in enumerate(words))
        fixed = fix_unk_from_text(masked, text)
        # the regex bridges one non-space run: masking one word must recover
        # a substring of the text that contains the surviving literals
        assert fixed in text
        assert fixed.startswith(words[0]) and fixed.endswith(words[-1])

    inner()


def test_fix_unk_fallbacks():
    from deepkg_spark.operators.sel import fix_unk_from_text

    assert fix_unk_from_text("plain", "plain text") == "plain"
    assert fix_unk_from_text("<unk> gone", "no such thing??") == "<unk> gone"
    long_span = "<unk> " + "z" * 200
    assert fix_unk_from_text(long_span, "z" * 300) == long_span
    # regex metacharacters in literals are escaped
    assert fix_unk_from_text("fn(<unk>)", "use fn(arg) now") == "fn(arg)"


def test_sel_relations_repair_unk_spans():
    from deepkg_spark.operators.sel import CODE_SCHEMA, sel_to_relations, spot_asoc_to_sel

    text = "org/r/p\nimport mod42\ndef fn7(x):\n    return mod42.call(x)\n"
    sel = spot_asoc_to_sel([("file", "org/r/p", [("imports", "<unk>od42")])])
    recs = sel_to_relations(sel, text, CODE_SCHEMA)
    assert recs == [("org/r/p", "file", "imports", "mod42", "module")]


def test_t2s_normalization():
    from deepkg_spark.functions.text import normalize_series, t2s
    import pandas as pd

    assert t2s("中國學生") == "中国学生"
    out = normalize_series(pd.Series(["Ábc 國", None]))
    assert out[0] == "abc 国" and out[1] is None


def test_sel_parsers_never_raise_on_garbage():
    """Fuzz: arbitrary text through the SEL parser, unk repair, relation and
    event extraction must degrade to records-or-nothing, never raise."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from deepkg_spark.operators.sel import (
        CODE_SCHEMA,
        fix_unk_from_text,
        parse_sel,
        sel_to_events,
        sel_to_relations,
    )

    tokens = st.sampled_from(
        ["<extra_id_0>", "<extra_id_1>", "<extra_id_5>", "<extra_id_6>",
         "<unk>", "file", "invoke", "imports", "callee", "mod5", "(", ")",
         "[", "*", ".", "?", "+", "a b", ""]
    )

    @settings(max_examples=120, deadline=None)
    @given(st.lists(tokens, max_size=24), st.text(max_size=40))
    def inner(parts, text):
        sel = " ".join(parts)
        parse_sel(sel)
        fix_unk_from_text(sel, text)
        sel_to_relations(sel, text, CODE_SCHEMA)
        sel_to_events(sel, text, CODE_SCHEMA)

    inner()


def test_ssi_prefix_contract_and_semantics(spark, sf_dir):
    """Hash-pinned SSI prefix construction: oracle parity, every positive
    candidate appears, exactly k negatives are inserted, and the prompt
    order is the pinned hash order (stable across partitionings)."""
    from deepkg_spark.operators.sel import SPOT_PROMPT, TEXT_START, ssi_prefix, ssi_prefix_duck_sql
    from tests.compare import compare_spark_duck, duck_connect

    cands = ("table", "query", "spark", "row", "column", "stream", "filter", "merge")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    df = ssi_prefix(docs, cands, k_neg=2)
    compare_spark_duck(
        df, duck_connect(sf_dir),
        ssi_prefix_duck_sql("(SELECT doc_id, text FROM documents)", cands, k_neg=2),
    )
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in df.collect():
        prefix, _, text = r["ssi"].partition(f" {TEXT_START} ")
        assert text == texts[r["doc_id"]]
        spots = [s.strip() for s in prefix.split(SPOT_PROMPT) if s.strip()]
        toks = set(texts[r["doc_id"]].split(" "))
        pos = {c for c in cands if c in toks}
        neg = [s for s in spots if s not in pos]
        assert set(spots) >= pos            # every positive kept
        assert len(neg) == min(2, len(set(cands) - pos))  # exactly k negatives
    # partitioning invariance
    again = ssi_prefix(docs.repartition(7), cands, k_neg=2)
    assert sorted(r["ssi"] for r in df.collect()) == sorted(
        r["ssi"] for r in again.collect()
    )


# ---------------------------------------------------------------- DP oracle

def test_distant_dp_duck_sql_exhaustive_vs_python():
    """The recursive-CTE oracle reproduces segment_dp exactly — including
    the >=/> tie-breaks (bigram beats equal trigram; skip needs strict
    improvement) — over EVERY length-6 token sequence from a 3-letter
    alphabet with overlapping dictionary surfaces (729 docs)."""
    import itertools

    import duckdb

    from deepkg_spark.operators.distant import (
        TokenTrie,
        distant_dp_duck_sql,
        segment_dp,
    )

    core = ["a b", "b c", "c a"]
    full = ["a b c", "b c a", "c c c"]
    docs = [
        (i, " ".join(toks))
        for i, toks in enumerate(itertools.product("abc", repeat=6))
    ]

    trie = TokenTrie(
        [(s, "phrase", 1.0) for s in core] + [(s, "phrase3", 0.5) for s in full]
    )
    expect = set()
    for doc_id, text in docs:
        toks = [t for t in text.split(" ") if t]
        for s, e, etype in segment_dp(toks, trie):
            expect.add((doc_id, s, e, etype, " ".join(toks[s:e])))

    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", docs)
    sql = distant_dp_duck_sql(
        "d",
        core_sql="SELECT * FROM (VALUES "
        + ", ".join(f"('{s}')" for s in core) + ") t(ngram)",
        full_sql="SELECT * FROM (VALUES "
        + ", ".join(f"('{s}')" for s in full) + ") t(ngram)",
    )
    got = set(con.execute(sql).fetchall())
    assert got == expect and expect
