"""G26 duplicated-span detection: hand-checkable goldens + trim round-trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ferc_xbrl_extractor_spark.operators import spans as sp


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BOILER = "b1 b2 b3 b4"  # 4 tokens, injected into several docs


def _spans_in_form(monkeypatch, df, hot, **kwargs):
    """duplicated_spans with the form probe's verdict fixed: ``hot=True``
    reaches the aggregate + semi-join form, ``hot=False`` the window
    form."""
    with monkeypatch.context() as m:
        m.setattr(sp, "probe_hot_gram", lambda *a, **k: hot)
        return {tuple(r) for r in sp.duplicated_spans(df, **kwargs).collect()}


@pytest.fixture(scope="module")
def corpus(spark):
    # doc 1 and 2 share BOILER mid-document; doc 3 repeats a 4-gram
    # internally; doc 4 is all-unique; doc 5 is shorter than n.
    return _docs(
        spark,
        [
            (1, f"u11 u12 {BOILER} u13 u14"),
            (2, f"u21 {BOILER} u22 u23 u24"),
            (3, "r1 r2 r3 r4 x r1 r2 r3 r4"),
            (4, "v1 v2 v3 v4 v5 v6"),
            (5, "w1 w2"),
        ],
    )


def test_positional_grams_positions_and_count(spark, corpus):
    g = sp.positional_grams(corpus, n=4)
    per_doc = {
        r["doc_id"]: r["cnt"]
        for r in g.groupBy("doc_id").agg(F.count("*").alias("cnt")).collect()
    }
    # tokens: d1=8, d2=8, d3=9, d4=6, d5=2 -> positions = tokens-n+1 (>=0)
    assert per_doc == {1: 5, 2: 5, 3: 6, 4: 3}


def test_duplicated_spans_golden(spark, corpus):
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in sp.duplicated_spans(corpus, n=4).collect()
    }
    # BOILER starts at token 2 in doc 1 and token 1 in doc 2 (one 4-gram
    # each -> span of exactly 4 tokens). Doc 3's repeated "r1 r2 r3 r4"
    # occurs at positions 0 and 5 -> two islands (gap 5 > n=4).
    assert got == {(1, 2, 6), (2, 1, 5), (3, 0, 4), (3, 5, 9)}


def test_adjacent_grams_merge_into_one_span(spark):
    # Two docs share 5 consecutive tokens -> two overlapping 4-grams
    # (positions p and p+1) must merge into ONE span of 5 tokens.
    docs = _docs(
        spark,
        [(1, "a b c d e x y"), (2, "q a b c d e")],
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in sp.duplicated_spans(docs, n=4).collect()
    }
    assert got == {(1, 0, 5), (2, 1, 6)}


def test_trim_removes_exactly_the_spans(spark, corpus):
    out = {
        r["doc_id"]: (r["clean_text"], r["n_kept_tokens"])
        for r in sp.trim_duplicated_spans(corpus, n=4).collect()
    }
    assert out[1] == ("u11 u12 u13 u14", 4)
    assert out[2] == ("u21 u22 u23 u24", 4)
    assert out[3] == ("x", 1)  # both repeats of the 4-gram removed
    assert out[4] == ("v1 v2 v3 v4 v5 v6", 6)  # untouched
    assert out[5] == ("w1 w2", 2)  # shorter than n -> no grams, untouched


def test_min_count_threshold(spark, corpus):
    # min_count=3: BOILER occurs only twice corpus-wide -> nothing from
    # docs 1/2 survives; doc 3's internal repeat is also only 2 occurrences.
    assert sp.duplicated_spans(corpus, n=4, min_count=3).count() == 0


def test_empty_and_whitespace_docs(spark):
    docs = _docs(spark, [(1, ""), (2, "   "), (3, "a b c d"), (4, "a b c d")])
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in sp.duplicated_spans(docs, n=4).collect()
    }
    assert got == {(3, 0, 4), (4, 0, 4)}
    trimmed = {
        r["doc_id"]: r["clean_text"]
        for r in sp.trim_duplicated_spans(docs, n=4).collect()
    }
    assert trimmed == {1: "", 2: "", 3: "", 4: ""}


def test_hot_gram_safe_mode_equivalence(spark, corpus, monkeypatch):
    """The hot-gram-safe (aggregate + semi-join) form and the window form
    give the same spans, and so does whatever the probe picks."""
    auto = {tuple(r) for r in sp.duplicated_spans(corpus, n=4).collect()}
    agg = _spans_in_form(monkeypatch, corpus, True, n=4)
    win = _spans_in_form(monkeypatch, corpus, False, n=4)
    assert auto == agg == win and auto  # same spans from both formulations


def test_hot_gram_default_handles_boilerplate_gram(spark):
    """One gram shared by 50% of documents (the 100-TB skew scenario the
    r4 verdict flagged): the default form must stay on the aggregate +
    semi-join shape (map-side combine absorbs the hot key — no count
    window that would single-task it) and still produce exact spans."""
    hot = "x y z w"  # one 4-gram, verbatim in every even doc
    rows = [
        (i, f"{hot} unique{i} a{i} b{i} c{i}" if i % 2 == 0
         else f"only{i} d{i} e{i} f{i} g{i}")
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = sp.duplicated_spans(docs, n=4).collect()
    got = {(r.doc_id, r.span_start, r.span_end) for r in out}
    assert got == {(i, 0, 4) for i in range(0, 200, 2)}


def test_contamination_spans_runs_and_zeros(spark):
    from ferc_xbrl_extractor_spark.operators.spans import contamination_spans

    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        # doc 1: carries the full 10-token benchmark string -> 3 grams
        # (n=8) in one step-1 run -> longest = 3 + 7 = 10
        (1, "prefix words here " + bench_text + " suffix tail"),
        # doc 2: two separated 8-token copies -> two runs of 1, longest 8
        (2, bench_text.rsplit(" ", 2)[0] + " xx yy zz qq ww ee rr tt "
            + bench_text.rsplit(" ", 2)[0]),
        # doc 3: clean
        (3, "totally unrelated content with enough words to carry grams"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")

    out = {
        r["doc_id"]: (r["n_hit_grams"], r["longest_overlap_tokens"])
        for r in contamination_spans(corpus, bench, n=8).collect()
    }
    assert out[1] == (3, 10)
    assert out[2] == (2, 8)
    assert out[3] == (0, 0)
    # every corpus doc reports (zero-hit docs included)
    assert len(out) == 3


@pytest.mark.slow
def test_auto_form_probe_picks_per_corpus_and_is_value_identical(
    spark, monkeypatch
):
    """G26 form probe (r5 review item #8): the probe picks the window form
    on flat corpora and the aggregate form on hot-gram corpora, and BOTH
    forms produce the same spans as the probe's pick on both fixture
    classes — correctness is probe-independent."""
    flat = spark.createDataFrame(
        [(i, f"p{i} q{i} r{i} s{i} t{i} u{i} shared tail gram four") for i in range(60)],
        "doc_id long, text string",
    )
    # one boilerplate gram owns ~75% of all gram rows (share x partitions
    # well past the hot_factor threshold)
    hot = spark.createDataFrame(
        [(i, "x y z w" if i % 4 else f"u{i} v{i} a{i} b{i}")
         for i in range(60)],
        "doc_id long, text string",
    )
    # the probe's threshold is share x shuffle partitions (a session
    # conf that other tests' get_spark() calls may have re-set on the
    # shared session) — pin it for a deterministic verdict
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        assert sp.probe_hot_gram(flat, n=4) is False
        assert sp.probe_hot_gram(hot, n=4) is True
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    for corpus in (flat, hot):
        auto = {tuple(r) for r in sp.duplicated_spans(corpus, n=4).collect()}
        agg = _spans_in_form(monkeypatch, corpus, True, n=4)
        win = _spans_in_form(monkeypatch, corpus, False, n=4)
        assert auto == agg == win


def test_probe_cache_never_keys_local_relations(spark):
    """Regression pin (r6 gotcha, fixed once): two DIFFERENT literal
    corpora share a LocalRelation plan shape whose canonicalized text
    covers the schema, not the data — caching them would cross-
    contaminate verdicts. The cache must skip LocalRelations entirely:
    opposite verdicts back-to-back, zero entries added."""

    def _values(rows):
        vals = ", ".join(f"({i}, '{t}')" for i, t in rows)
        df = spark.sql(
            f"SELECT col1 AS doc_id, col2 AS text FROM VALUES {vals}"
        )
        plan = df._jdf.queryExecution().analyzed().canonicalized().toString()
        assert "LocalRelation" in plan  # the shape under test
        return df

    hot = _values(
        [(i, "x y z w" if i % 4 else f"u{i} v{i} a{i} b{i}")
         for i in range(60)]
    )
    flat = _values(
        [(i, f"p{i} q{i} r{i} s{i} t{i} u{i} tail gram here four")
         for i in range(60)]
    )
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    n0 = len(sp._HOT_GRAM_PROBE_CACHE)
    try:
        # same schema, same probe params, opposite data: the second call
        # must NOT return the first's cached verdict
        assert sp.probe_hot_gram(hot, n=4) is True
        assert sp.probe_hot_gram(flat, n=4) is False
        assert sp.probe_hot_gram(hot, n=4) is True
        assert len(sp._HOT_GRAM_PROBE_CACHE) == n0  # nothing was cached
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def test_probe_cache_keys_file_backed_plans(spark, tmp_path):
    """File-backed corpora cache by canonicalized plan (paths included):
    the second probe over the same parquet is a dict hit, and a probe
    over a DIFFERENT path with identical schema does not collide."""
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        p_hot = str(tmp_path / "hot")
        p_flat = str(tmp_path / "flat")
        spark.createDataFrame(
            [(i, "x y z w" if i % 4 else f"u{i} v{i} a{i} b{i}")
             for i in range(60)],
            "doc_id long, text string",
        ).write.parquet(p_hot)
        spark.createDataFrame(
            [(i, f"p{i} q{i} r{i} s{i} t{i} u{i} tail gram here four")
             for i in range(60)],
            "doc_id long, text string",
        ).write.parquet(p_flat)
        n0 = len(sp._HOT_GRAM_PROBE_CACHE)
        hot = spark.read.parquet(p_hot)
        flat = spark.read.parquet(p_flat)
        assert sp.probe_hot_gram(hot, n=4) is True
        assert len(sp._HOT_GRAM_PROBE_CACHE) == n0 + 1
        # fresh DataFrame over the same files: canonicalization makes it
        # the same key — cache hit, no growth
        assert sp.probe_hot_gram(spark.read.parquet(p_hot), n=4) is True
        assert len(sp._HOT_GRAM_PROBE_CACHE) == n0 + 1
        # different path, same schema: its own key, its own verdict
        assert sp.probe_hot_gram(flat, n=4) is False
        assert len(sp._HOT_GRAM_PROBE_CACHE) == n0 + 2
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


@pytest.mark.slow
def test_cdc_chunks_insertion_robustness_and_report(spark):
    """G97: content-defined chunking — chunks concatenate back to the
    exact text, an INSERTION early in a copy re-aligns every later
    chunk (the CDC property whole-document hashing lacks: most chunk
    md5s are shared), empty/NULL docs chunk to nothing, short docs are
    one chunk, validation raises, and the dedup report's accounting is
    exact (cross-engine values are the g97_cdc_chunks/g97_cdc_report
    oracles, hash-green at both scales)."""
    import pytest as _pytest

    from ferc_xbrl_extractor_spark.operators.spans import (
        cdc_chunks,
        cdc_dedup_report,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "in the warm morning sun near the river bank " * 3
    )
    docs = spark.createDataFrame(
        [(1, base), (2, "INSERTED PREFIX >>> " + base), (3, "short"),
         (4, ""), (5, None)],
        "doc_id long, text string",
    )
    ch = cdc_chunks(docs, window=8, divisor=64).collect()
    by_doc = {}
    for r in ch:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # exact reconstruction: consecutive slices of the text, by length,
    # hash to the chunk md5s and cover it; contiguous idx
    import hashlib

    off = 0
    for r in sorted(by_doc[1], key=lambda r: r["chunk_idx"]):
        piece = base[off : off + r["n_chars"]]
        assert hashlib.md5(piece.encode()).hexdigest() == r["chunk_md5"]
        off += r["n_chars"]
    assert off == len(base)
    assert sorted(r["chunk_idx"] for r in by_doc[1]) == list(
        range(len(by_doc[1]))
    )
    # insertion robustness: ≥60% of the original's chunk hashes
    # reappear in the prefixed copy
    a = {r["chunk_md5"] for r in by_doc[1]}
    b = {r["chunk_md5"] for r in by_doc[2]}
    assert len(a & b) / len(a) >= 0.6
    # edges
    assert len(by_doc[3]) == 1 and by_doc[3][0]["n_chars"] == 5
    assert 4 not in by_doc and 5 not in by_doc

    rep = cdc_dedup_report(
        cdc_chunks(docs, window=8, divisor=64)
    ).collect()[0]
    # serial reference over the collected chunks
    from collections import Counter

    cnt = Counter((r["chunk_md5"], r["n_chars"]) for r in ch)
    total = sum(n * c for (_, n), c in cnt.items())
    dup = sum(n * (c - 1) for (_, n), c in cnt.items())
    assert rep["n_chunks"] == len(ch)
    assert rep["n_distinct"] == len(cnt)
    assert rep["total_chars"] == total and rep["dup_chars"] == dup
    assert rep["dup_ratio_micro"] == (1_000_000 * dup) // total

    with _pytest.raises(ValueError, match=">= 1"):
        cdc_chunks(docs, window=0)
