"""Unit tests for the LLM-pipeline gap operators (G2-G4, G11)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ferc_xbrl_extractor_spark.operators import (
    multimodal,
    neardup,
    similarity,
    text,
)

from conftest import SF0001, needs_sf0001


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat on the mat today"),
            (2, "the cat sat on the mat yesterday"),  # near-dup of 1
            (3, "completely different words entirely here now"),
            (4, "the cat sat on the mat today"),  # exact dup of 1
        ],
        "doc_id long, text string",
    )


def test_jaccard_finds_near_and_exact_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in neardup.jaccard_pairs(docs, n=3, threshold=0.4).collect()
    }
    assert pairs[(1, 4)] == 1.0  # exact dup
    assert 0.4 <= pairs[(1, 2)] < 1.0  # near dup
    assert (2, 4) in pairs
    assert not any(3 in p for p in pairs)


def test_minhash_exact_dup_always_collides(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in neardup.minhash_lsh_pairs(
            docs, n=3, num_hashes=12, bands=6, threshold=0.9
        ).collect()
    }
    # identical docs have identical signatures -> guaranteed candidate
    assert (1, 4) in pairs


def test_minhash_signature_matches_table_variant(spark, docs):
    """The per-row expression form and the shuffle form must agree —
    they're the same mathematical signature."""
    expr = docs.select(
        "doc_id", neardup.minhash_signature("text", 3, 4).alias("sig")
    ).collect()
    st = neardup.shingle_table(docs)
    tab = neardup.minhash_signature_table(st, num_hashes=4).collect()
    by_id_expr = {r["doc_id"]: list(r["sig"]) for r in expr}
    by_id_tab = {r["doc_id"]: [r[f"mh{i}"] for i in range(4)] for r in tab}
    assert by_id_expr == by_id_tab


def test_simhash_near_dups_close(docs):
    out = neardup.simhash_pairs(
        docs, bits=16, prefix_bits=2, max_hamming=16
    ).collect()
    ham = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    assert ham.get((1, 4)) == 0  # identical text -> identical fingerprint


def test_cosine_topk_exact(spark):
    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [1.0, 0.01]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = similarity.cosine_topk(corpus, corpus.filter(F.col("vec_id") == 0), k=2)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in rows] == [3, 1]
    assert rows[0]["sim"] > rows[1]["sim"]


@pytest.mark.slow
def test_embedding_neardup_finds_near_identicals(spark):
    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.5, 0.2]),
            (1, [1.0, 0.0, 0.5, 0.2]),  # identical to 0
            (2, [-1.0, 0.3, -0.5, 0.1]),
            (3, [0.99, 0.01, 0.52, 0.19]),  # near 0/1
        ],
        "vec_id long, embedding array<double>",
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_neardup_pairs(corpus, 0.99).collect()
    }
    assert exact == {(0, 1), (0, 3), (1, 3)}


@pytest.mark.slow
@needs_sf0001
def test_ivf_topk_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(
            emb, queries, k=5, nprobe=8
        ).collect()
    }
    # nprobe=8 of 16 lists scans ~half the corpus; the true neighbors are
    # concentrated in the probed lists, so recall should be well above the
    # 50% a random half-scan would give.
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall {recall:.2f} below floor"
    # full-probe IVF is exhaustive: must equal brute force exactly
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(
            emb, queries, k=5, nprobe=16
        ).collect()
    }
    assert full == exact


def _assert_native_two_phase_topk(df, key):
    """The final adaptive plan of a ``row_number() <= k`` top-k has ONE
    ``hashpartitioning(key)`` exchange, with the partial WindowGroupLimit
    below it and the final one above it (SPARK-37099)."""
    import re

    df.collect()  # let AQE finalize
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.split("== Initial Plan ==")[0].splitlines()

    def at(pattern):
        return [i for i, line in enumerate(lines) if re.search(pattern, line)]

    hashed = at(r"Exchange hashpartitioning\(")
    assert len(hashed) == 1, plan
    assert re.search(rf"hashpartitioning\({key}#\d+L?, ", lines[hashed[0]]), plan
    final = at(r"WindowGroupLimit .*, Final$")
    partial = at(r"WindowGroupLimit .*, Partial$")
    assert len(final) == len(partial) == 1, plan
    # the plan prints top-down: Final consumes the exchange, which
    # consumes the map-side Partial
    assert final[0] < hashed[0] < partial[0], plan


def test_topk_per_key_native_two_phase_plan(spark):
    rows = [(i % 3, float(i), i) for i in range(300)]
    df = spark.createDataFrame(rows, "k int, score double, id int").repartition(8)
    order = [F.col("score").desc(), F.col("id")]
    top = similarity.topk_per_key(df, ["k"], order, 5)
    _assert_native_two_phase_topk(top, "k")
    want = []
    for key in range(3):
        group = sorted((r for r in rows if r[0] == key), key=lambda r: (-r[1], r[2]))
        want += [(*r, rank) for rank, r in enumerate(group[:5], start=1)]
    assert sorted(map(tuple, top.collect())) == sorted(want)


def test_text_stats(docs):
    row = {
        r["doc_id"]: r
        for r in text.with_text_stats(docs).collect()
    }[1]
    assert row["n_tokens"] == 7
    assert row["n_uniq_tokens"] == 6  # 'the' twice
    assert row["stopword_ratio"] == round(2 / 7, 4)


def test_tokens_handle_whitespace(spark):
    df = spark.createDataFrame([(1, "  a  b \t c  ")], "doc_id long, text string")
    assert df.select(text.tokens("text").alias("t")).first()["t"] == ["a", "b", "c"]


def test_language_id_picks_profile(spark):
    df = spark.createDataFrame(
        [(1, "der hund und die katze das haus"), (2, "the dog and the cat")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang_pred"] for r in text.language_id(df).collect()}
    assert got == {1: "de", 2: "en"}


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(1, "a b  c"), (2, " a b c ")], "doc_id long, text string"
    )
    fps = [r["fp"] for r in text.fingerprint(df).collect()]
    assert fps[0] == fps[1]


def test_multimodal_features_deterministic(spark):
    media = multimodal.media_table_from_binary(
        spark.createDataFrame(
            [(1, bytearray(b"hello")), (2, bytearray(b""))],
            "id long, blob binary",
        ),
        "id",
        "blob",
        "image",
        "image/png",
    )
    feats = {r["media_id"]: r for r in multimodal.extract_features(media, dim=4).collect()}
    assert feats[1]["n_bytes"] == 5
    assert feats[1]["content_md5"] == "5d41402abc4b2a76b9719d911017c592"  # md5('hello')
    assert len(feats[1]["feature"]) == 4
    # same bytes -> same fake feature, run to run
    again = {
        r["media_id"]: r for r in multimodal.extract_features(media, dim=4).collect()
    }
    assert feats[1]["feature"] == again[1]["feature"]


@pytest.mark.skipif(
    multimodal._PILImage is not None, reason="Pillow present: real path works"
)
def test_multimodal_stub_raises_without_codec(spark):
    media = multimodal.media_table_from_binary(
        spark.createDataFrame([(1, bytearray(b"x"))], "id long, blob binary"),
        "id",
        "blob",
        "video",
        "video/mp4",
    )
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        multimodal.extract_features(media, decode_stub=False).collect()


@pytest.mark.skipif(
    multimodal._PILImage is None, reason="Pillow not importable in sandbox"
)
def test_multimodal_real_decode_when_pillow_present(spark):
    """When the environment grows Pillow, decode_stub=False must run a
    REAL decode through the identical mapInPandas plumbing: features of
    a 2x2 PNG come from pixels."""
    import io

    img = multimodal._PILImage.new("RGB", (2, 2), (255, 0, 0))
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    media = multimodal.media_table_from_binary(
        spark.createDataFrame(
            [(1, bytearray(buf.getvalue()))], "id long, blob binary"
        ),
        "id",
        "blob",
        "image",
        "image/png",
    )
    feat = multimodal.extract_features(media, dim=4, decode_stub=False).first()
    assert len(feat["feature"]) == 4
    assert all(-1.0 <= v < 1.0 for v in feat["feature"])

    # NULL/empty content must quarantine (NULL outputs), not crash the job
    nulls = multimodal.media_table_from_binary(
        spark.createDataFrame([(2, None)], "id long, blob binary"),
        "id", "blob", "image", "image/png",
    )
    nf = multimodal.extract_features(nulls, dim=4, decode_stub=False).first()
    assert nf["feature"] is None and nf["n_bytes"] == 0


def test_salted_agg_matches_plain_agg(spark):
    from ferc_xbrl_extractor_spark.operators import analytics

    # one hot key carrying 90% of rows
    df = spark.createDataFrame(
        [("hot" if i % 10 else f"k{i % 7}", float(i), 1.0) for i in range(1000)],
        "k string, a double, b double",
    )
    salted = {
        r["k"]: (r["n"], r["sum_a"], r["sum_b"])
        for r in analytics.salted_agg(df, ["k"], ["a", "b"]).collect()
    }
    plain = {
        r["k"]: (r["n"], r["sum_a"], r["sum_b"])
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("a").alias("sum_a"),
            F.sum("b").alias("sum_b"),
        )
        .collect()
    }
    assert salted == plain


def test_sample_by_rate_deterministic_and_stratified(spark):
    from ferc_xbrl_extractor_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "es") for i in range(2000)],
        "doc_id long, lang string",
    )
    kept = sampling.sample_by_rate(
        df, id_col="doc_id", key_col="lang",
        rates={"en": 0.5, "es": 0.1}, salt="t",
    )
    rows = kept.collect()
    again = sampling.sample_by_rate(
        df, id_col="doc_id", key_col="lang",
        rates={"en": 0.5, "es": 0.1}, salt="t",
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))  # reproducible
    by_lang = {"en": 0, "es": 0}
    for r in rows:
        by_lang[r["lang"]] += 1
    # 1000 draws per stratum: binomial 3-sigma bands around 500 / 100
    assert 430 <= by_lang["en"] <= 570
    assert 60 <= by_lang["es"] <= 140
    # a different salt is an independent redraw, not a shifted copy
    other = sampling.sample_by_rate(
        df, id_col="doc_id", key_col="lang",
        rates={"en": 0.5, "es": 0.1}, salt="u",
    ).collect()
    assert other and sorted(map(tuple, other)) != sorted(map(tuple, rows))


def test_sample_by_rate_is_map_side_only(spark):
    from ferc_xbrl_extractor_spark.operators import sampling

    df = spark.range(100).selectExpr("id AS doc_id", "'en' AS lang")
    plan = sampling.sample_by_rate(
        df, key_col="lang", rates={"en": 0.3}, id_col="doc_id"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure scan -> filter


def test_stratified_sample_n_exact_budgets_single_exchange(spark):
    import hashlib

    from ferc_xbrl_extractor_spark.operators import sampling

    rows = [(i, f"s{i % 5}") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, source string").repartition(8)
    sample = sampling.stratified_sample_n(df, "source", 7, "doc_id")
    _assert_native_two_phase_topk(sample, "source")
    # exact budgets: per stratum, the 7 ids with the smallest md5 hex
    want = []
    for s in range(5):
        ids = sorted(
            (i for i, src in rows if src == f"s{s}"),
            key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
        )
        want += [(i, f"s{s}") for i in ids[:7]]
    assert sorted(map(tuple, sample.collect())) == sorted(want)


def test_decontaminate_drops_overlapping_docs(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta other words here"),  # shares 3-grams w/ bench
            (3, "entirely unrelated text with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    survivors = {
        r["doc_id"]
        for r in neardup.decontaminate(
            corpus, bench, n=3, min_overlap=2
        ).collect()
    }
    assert survivors == {3}
    report = {
        r["doc_id"]: r["n_hits"]
        for r in neardup.contamination_report(
            corpus, bench, n=3, min_overlap=1
        ).collect()
    }
    assert report[1] == 4  # all four 3-grams of doc 1
    assert report[2] == 2  # 'alpha beta gamma', 'beta gamma delta'
    assert 3 not in report


@pytest.mark.slow
def test_kmv_sketch_reports(spark):
    """G108: KMV distinct/intersection sketches — complete (< k)
    sketches degrade to EXACT set arithmetic for distinct, union and
    intersection; the estimator lands inside a generous error band on
    a 1000-key stratum; NULL keys carry no identity; k < 2 raises."""
    from ferc_xbrl_extractor_spark.operators import analytics

    rows = (
        [("big", i) for i in range(1000)]
        + [("c", i) for i in [1, 2, 3, 4, 5]]
        + [("d", i) for i in [4, 5, 6]]
        + [("c", None)]
    )
    df = spark.createDataFrame(rows, "st string, key long")
    d = {
        r["stratum"]: (r["n_sketch"], r["est_distinct"])
        for r in analytics.kmv_distinct_report(df, "key", "st", k=64).collect()
    }
    assert d["c"] == (5, 5)  # complete sketch: exact, NULL key ignored
    assert d["d"] == (3, 3)
    assert d["big"][0] == 64
    assert 700 <= d["big"][1] <= 1400  # ~1/sqrt(62) rel. error, wide band

    p = {
        (r["stratum_a"], r["stratum_b"]): (
            r["d_a"], r["d_b"], r["est_union"], r["est_inter"]
        )
        for r in analytics.kmv_intersection_report(
            df, "key", "st", k=64
        ).collect()
    }
    # both complete -> exact set arithmetic: |c|=5, |d|=3, |c∪d|=6, |c∩d|=2
    assert p[("c", "d")] == (5, 3, 6, 2)
    # big ⊇ c: union estimate equals big's own estimate (c's hashes do
    # not displace big's minima unless they coincide with them)
    assert p[("big", "c")][2] == d["big"][1]

    with pytest.raises(ValueError, match="k must"):
        analytics.kmv_sketch_table(df, "key", "st", k=1)


@pytest.mark.slow
def test_kmv_merge_identity_and_lpm_join(spark):
    """G108b: merged per-part KMV sketches are BIT-IDENTICAL to the
    direct whole-stratum sketch (k-min of union == k-min of parts'
    k-mins) and the estimate column agrees. G111: longest-prefix-match
    join goldens on a hand CIDR table — most specific wins, default
    route catches the rest, 'left' keeps misses NULL, duplicate
    (prefix, len) rows tie-break to the smallest payload, raises."""
    from ferc_xbrl_extractor_spark.operators import analytics
    from ferc_xbrl_extractor_spark.operators.joins import lpm_join

    # --- G108b merge identity
    rows = [("p1" if i % 2 else "p2", i * 31 % 500) for i in range(400)]
    df = spark.createDataFrame(rows, "part string, key long")
    sub = analytics.kmv_sketch_table(df, "key", "part", k=16)
    merged = analytics.kmv_merge_sketches(
        sub.select(F.lit("all").alias("stratum"), "sketch"), ["stratum"], k=16
    ).collect()[0]
    direct = analytics.kmv_sketch_table(
        df.select(F.lit("all").alias("whole"), "key"), "key", "whole", k=16
    ).collect()[0]
    assert list(merged["sketch"]) == list(direct["sketch"])
    est = (
        spark.createDataFrame([(list(merged["sketch"]),)], "sketch array<long>")
        .select(analytics.kmv_estimate_col("sketch", 16).alias("e"))
        .collect()[0]["e"]
    )
    d = {
        r["stratum"]: r["est_distinct"]
        for r in analytics.kmv_distinct_report(
            df.select(F.lit("all").alias("s"), "key"), "key", "s", k=16
        ).collect()
    }
    assert est == d["all"]
    with pytest.raises(ValueError, match="k must"):
        analytics.kmv_merge_sketches(sub, ["stratum"], k=1)

    # --- G111 LPM join (bits=8 for readable goldens)
    facts = spark.createDataFrame(
        [(1, 170), (2, 130), (3, 10), (4, 250)], "fid long, key long"
    )
    # /4 1010xxxx (160-175) inside /2 10xxxxxx (128-191); /0 default
    # does NOT cover 192+ (no row for 11xxxxxx except the default)...
    # default /0 covers everything, so fid 4 matches it too
    pfx = spark.createDataFrame(
        [(2, 2, "A"), (10, 4, "B"), (0, 0, "D"), (0, 0, "C")],
        "prefix long, prefix_len int, tag string",
    )
    got = {
        r["fid"]: (r["matched_len"], r["tag"])
        for r in lpm_join(facts, pfx, "key", bits=8, how="left").collect()
    }
    assert got == {
        1: (4, "B"),  # most specific wins over /2 and /0
        2: (2, "A"),
        3: (0, "C"),  # duplicate /0 rows -> smallest payload
        4: (0, "C"),
    }
    inner = lpm_join(
        facts, pfx.filter(F.col("prefix_len") > 0), "key", bits=8, how="inner"
    ).collect()
    assert sorted(r["fid"] for r in inner) == [1, 2]  # misses dropped
    left = lpm_join(
        facts, pfx.filter(F.col("prefix_len") > 0), "key", bits=8, how="left"
    ).collect()
    miss = {r["fid"]: r["matched_len"] for r in left}
    assert miss[3] is None and miss[4] is None  # visible, never dropped
    with pytest.raises(ValueError, match="how"):
        lpm_join(facts, pfx, "key", how="full")
    with pytest.raises(ValueError, match="usable lengths"):
        lpm_join(facts, pfx.filter(F.col("prefix_len") > 90), "key", bits=8)


def test_extract_links(spark):
    """G112: href extraction — double/single quotes, whitespace around
    '=', occurrence multiplicity kept, non-HTML rows yield nothing."""
    from ferc_xbrl_extractor_spark.operators import text as text_ops

    rows = [
        (1, '<a href="https://a.com/x">l</a><link href = \'b.com\'>'
            '<area href="https://a.com/x">'),
        (2, "no markup at all"),
        (3, "<a href=unquoted>out of scope</a>"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["href"])
        for r in text_ops.extract_links(df).collect()
    )
    assert got == [
        (1, "b.com"), (1, "https://a.com/x"), (1, "https://a.com/x")
    ]


def test_host_edges_and_ip_to_long(spark):
    """G113: crawl rows → host edges — absolute links take their own
    host (lowercased, port stripped), protocol-relative take the
    href's host, path-relative self-edge, non-web schemes dropped,
    pages without a resolvable URL dropped."""
    from ferc_xbrl_extractor_spark.operators import text as text_ops

    rows = [
        (1, "https://www.a.com/p",
         '<a href="HTTPS://B.com:443/x">b</a>'
         "<a href='//c.org/y'>c</a>"
         '<a href="/rel">r</a>'
         '<a href="mailto:z@q.r">m</a>'
         '<a href="javascript:void(0)">j</a>'),
        (2, "not a url", '<a href="https://d.net/z">d</a>'),  # src dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    got = sorted(
        (r["doc_id"], r["src_host"], r["dst_host"])
        for r in text_ops.host_edges(df).collect()
    )
    assert got == [
        (1, "www.a.com", "b.com"),     # scheme case-insensitive, :443 gone
        (1, "www.a.com", "c.org"),     # protocol-relative
        (1, "www.a.com", "www.a.com"), # path-relative self-edge
    ]


@pytest.mark.slow
def test_multi_benchmark_decontamination(spark):
    """G107: one-pass multi-benchmark report — per-(doc, bench) hit
    counts with benchmark-side multiplicity deduplicated; a doc
    contaminated by two suites appears under both; the single-benchmark
    case equals the G15 operators row for row."""
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (3, "alpha beta gamma delta one two three four"),  # both
            (4, "entirely unrelated text with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    b0 = spark.createDataFrame(
        # duplicated benchmark rows must NOT double the counts
        [(100, "alpha beta gamma delta"), (101, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(200, "one two three four five")], "doc_id long, text string"
    )
    rep = {
        (r["doc_id"], r["bench"]): r["n_hits"]
        for r in neardup.contamination_multi_report(
            corpus, {"b0": b0, "b1": b1}, n=3, min_overlap=2
        ).collect()
    }
    assert rep == {
        (1, "b0"): 2,  # 'alpha beta gamma', 'beta gamma delta'
        (2, "b1"): 3,
        (3, "b0"): 2,
        (3, "b1"): 2,
    }

    # single-benchmark identity with the G15 pair
    single = sorted(
        (r["doc_id"], r["n_hits"])
        for r in neardup.contamination_multi_report(
            corpus, {"only": b0}, n=3, min_overlap=1
        ).collect()
    )
    g15 = sorted(
        (r["doc_id"], r["n_hits"])
        for r in neardup.contamination_report(
            corpus, b0, n=3, min_overlap=1
        ).collect()
    )
    assert single == g15

    with pytest.raises(ValueError, match="benchmarks"):
        neardup.contamination_multi_report(corpus, {})


def _funnel(docs, **params):
    """curate_funnel as ``{drop_stage: n_docs}``."""
    from ferc_xbrl_extractor_spark.pipeline import curate

    return {
        r["drop_stage"]: r["n_docs"]
        for r in curate.curate_funnel(docs, **params).collect()
    }


def test_curate_corpus_stages_compose(spark):
    from ferc_xbrl_extractor_spark.pipeline import curate

    corpus = spark.createDataFrame(
        [
            # passes quality, unique, clean
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"),
            # exact duplicate of 1 under a higher id -> dedup drops it
            (9, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"),
            # too short -> quality filter drops it
            (2, "tiny doc", "en"),
            # heavy stopwords -> quality filter drops it
            (3, "the the the the the the the the of of of of", "en"),
            # overlaps the benchmark -> decontamination drops it
            (4, "contaminated shared phrase one two three four five six seven", "en"),
            # clean survivor in another stratum
            (5, "uno dos tres cuatro cinco seis siete ocho nueve diez", "es"),
        ],
        "doc_id long, text string, lang string",
    )
    bench = spark.createDataFrame(
        [(100, "shared phrase one two three four five six seven extra")],
        "doc_id long, text string",
    )
    out = curate.curate_corpus(
        corpus,
        bench,
        min_tokens=5,
        max_stopword_ratio=0.5,
        min_uniq_ratio=0.5,
        min_overlap=5,
        stratum_col="lang",
        sample_n=10,
    )
    assert {r["doc_id"] for r in out.collect()} == {1, 5}


def test_repetition_stats_goldens(spark):
    from ferc_xbrl_extractor_spark.operators.text import with_repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b\na b\nc d"),        # 1 of 3 lines duplicated
            (2, "x y z x y z x y"),      # heavy 2/3-gram repetition
            (3, ""),                     # empty: all ratios 0
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in with_repetition_stats(df, line_sep="\n").collect()
    }
    assert got[1]["n_lines"] == 3
    assert got[1]["dup_line_ratio"] == pytest.approx(1 / 3, abs=1e-4)
    assert got[1]["dup_2gram_ratio"] == pytest.approx(0.2)
    assert got[2]["dup_2gram_ratio"] == pytest.approx(1 - 3 / 7, abs=1e-4)
    assert got[2]["dup_3gram_ratio"] == pytest.approx(0.5)
    assert got[3]["n_lines"] == 0 and got[3]["dup_line_ratio"] == 0.0


def test_pii_redaction_goldens(spark):
    from ferc_xbrl_extractor_spark.operators.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b-c_d@sub.example.co.uk now"),
            (2, "call 555-123-4567 or 555.123.4567"),
            (3, "ssn 123-45-6789 ip 192.168.0.1"),
            (4, "no pii here, just v1.2 and x@y"),  # x@y: no TLD → kept
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["red"], r["pii"].asDict())
        for r in df.select(
            "doc_id",
            redact_pii("text").alias("red"),
            pii_counts("text").alias("pii"),
        ).collect()
    }
    assert out[1][0] == "mail <EMAIL> now"
    assert out[2][0] == "call <PHONE> or <PHONE>"
    assert out[3][0] == "ssn <SSN> ip <IP>"
    assert out[4][0] == "no pii here, just v1.2 and x@y"
    assert out[1][1] == {"n_email": 1, "n_ssn": 0, "n_ipv4": 0, "n_phone": 0}
    assert out[2][1]["n_phone"] == 2
    assert out[3][1] == {"n_email": 0, "n_ssn": 1, "n_ipv4": 1, "n_phone": 0}


@pytest.mark.slow
def test_pack_sequences_matches_serial_prefix_sum(spark):
    from ferc_xbrl_extractor_spark.operators.packing import pack_sequences

    rows = [(i, "s" if i % 2 else "t", 10 + (i % 7)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    got = {
        r["doc_id"]: (r["tok_offset"], r["seq_id"], r["n_seqs"])
        for r in pack_sequences(df, budget=32, by="source", block_size=8).collect()
    }
    offs: dict = {}
    for i, src, n in sorted(rows, key=lambda r: (r[1], r[0])):
        o = offs.get(src, 0)
        offs[src] = o + n
        assert got[i] == (o, o // 32, (o + n - 1) // 32 - o // 32 + 1), i
    # global stream (no `by`), block boundaries not aligned to budget
    got2 = {
        r["doc_id"]: r["tok_offset"]
        for r in pack_sequences(df, budget=100, block_size=7).collect()
    }
    o = 0
    for i, _, n in sorted(rows):
        assert got2[i] == o, i
        o += n


def test_pack_sequences_empty_doc_spans_one_seq(spark):
    from ferc_xbrl_extractor_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(0, 5), (1, 0), (2, 3)], "doc_id long, n_tokens long"
    )
    got = {r["doc_id"]: r["n_seqs"] for r in pack_sequences(df, budget=4).collect()}
    assert got == {0: 2, 1: 1, 2: 1}


def test_quantize_int8_roundtrip_error_bound(spark):
    from ferc_xbrl_extractor_spark.operators.similarity import (
        dequantize,
        quantize_int8,
    )

    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0, 0.0]), (3, [127.0])],
        "id long, embedding array<double>",
    )
    rows = {
        r["id"]: r
        for r in quantize_int8(df).withColumn("deq", dequantize()).collect()
    }
    assert rows[1]["q"] == [64, -127, 32]
    assert rows[2]["q"] == [0, 0, 0] and rows[2]["q_scale"] == 0.0
    assert rows[3]["q"] == [127] and rows[3]["deq"] == [127.0]
    # reconstruction error ≤ scale/2 per element
    for r in rows.values():
        for orig, deq in zip(r["embedding"], r["deq"]):
            assert abs(orig - deq) <= r["q_scale"] / 2 + 1e-12


def test_corpus_jsonl_and_csv_roundtrip(spark, tmp_path):
    from ferc_xbrl_extractor_spark.sources.corpus import (
        load_documents_csv,
        load_documents_json,
        write_corpus_shards,
    )

    rows = [
        (1, 'line one\nline "two"', "en", "web", 19),
        (2, "plain text, with commas", "en", "books", 23),
        (3, None, None, "web", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    jdir, cdir = str(tmp_path / "j"), str(tmp_path / "c")
    write_corpus_shards(df, jdir, shards=2, fmt="json")
    write_corpus_shards(df, cdir, shards=2, fmt="csv")

    back_j = {r["doc_id"]: r for r in load_documents_json(spark, jdir).collect()}
    assert back_j[1]["text"] == 'line one\nline "two"'
    assert back_j[3]["text"] is None and back_j[3]["source"] == "web"

    back_c = {r["doc_id"]: r for r in load_documents_csv(spark, cdir).collect()}
    assert back_c[1]["text"] == 'line one\nline "two"'
    assert back_c[2]["text"] == "plain text, with commas"

    import glob

    assert len(glob.glob(jdir + "/part-*")) == 2


def test_jsonl_dropmalformed_skips_bad_lines(spark, tmp_path):
    from ferc_xbrl_extractor_spark.sources.corpus import load_documents_json

    p = tmp_path / "corpus.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok", "lang": "en", "source": "w", "n_chars": 2}\n'
        "this is not json\n"
        '{"doc_id": 2, "text": "also ok", "lang": "en", "source": "w", "n_chars": 7}\n'
    )
    got = load_documents_json(spark, str(p), mode="DROPMALFORMED").collect()
    assert sorted(r["doc_id"] for r in got) == [1, 2]


def test_curate_optional_stages_compose(spark):
    from ferc_xbrl_extractor_spark.pipeline.curate import curate_corpus

    docs = spark.createDataFrame(
        [
            # near-identical pair (cluster dedup keeps min id)
            (1, "the quick brown fox jumps over the lazy dog again today", "w"),
            (2, "the quick brown fox jumps over the lazy dog again tomorrow", "w"),
            # repetitive boilerplate (dup 3-grams) → dropped by the screen
            (3, "buy now " * 20, "w"),
            # clean doc with PII → survives, redacted
            (4, "independent unique sentence mentioning bob@example.com directly here", "w"),
        ],
        "doc_id long, text string, source string",
    )
    out = curate_corpus(
        docs,
        min_tokens=5,
        max_stopword_ratio=1.0,
        min_uniq_ratio=0.0,
        max_dup_3gram_ratio=0.5,
        neardup_threshold=0.5,
        redact=True,
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 4}, rows.keys()
    assert "<EMAIL>" in rows[4]["text"]


def test_materialize_sequences_orders_within_seq(spark):
    from ferc_xbrl_extractor_spark.operators.packing import (
        materialize_sequences,
        pack_sequences,
    )

    df = spark.createDataFrame(
        [(i, f"d{i}", 10) for i in range(8)],
        "doc_id long, text string, n_tokens long",
    )
    packed = pack_sequences(df, budget=25, block_size=3)
    seqs = {
        r["seq_id"]: r
        for r in materialize_sequences(packed).collect()
    }
    # 10 tokens/doc, budget 25: docs 0,1,2 start in seq 0; 3,4 in seq 1...
    assert seqs[0]["seq_text"] == "d0 d1 d2"
    assert seqs[0]["n_docs"] == 3 and seqs[0]["start_offset"] == 0
    assert seqs[1]["seq_text"] == "d3 d4"
    assert seqs[2]["seq_text"] == "d5 d6 d7"


def test_pack_sequences_null_stream_and_zero_size_guards(spark):
    from ferc_xbrl_extractor_spark.operators.packing import (
        pack_sequences,
        temperature_rates,
    )

    df = spark.createDataFrame(
        [(0, "w", 5), (1, None, 3), (2, "w", 4)],
        "doc_id long, source string, n_tokens long",
    )
    packed = pack_sequences(df, by="source", budget=8, block_size=2)
    got = {r["doc_id"]: r["tok_offset"] for r in packed.collect()}
    # NULL stream packs as its own stream, nothing silently dropped
    assert got == {0: 0, 1: 0, 2: 5}

    # a corpus whose only stratum is NULL has no size to mix by
    ndf = spark.createDataFrame([(0, None, 10)], "doc_id long, source string, n_tokens long")
    with pytest.warns(UserWarning), pytest.raises(ValueError, match="no non-empty strata"):
        temperature_rates(ndf, 0.5)


def test_csv_header_order_mismatch_fails_loudly(spark, tmp_path):
    from ferc_xbrl_extractor_spark.sources.corpus import load_documents_csv

    p = tmp_path / "scrambled.csv"
    p.write_text("text,doc_id,lang,source,n_chars\nhello,7,en,w,5\n")
    with pytest.raises(Exception, match="(?i)header|schema"):
        load_documents_csv(spark, str(p)).collect()


def test_bm25_ranks_relevant_docs(spark):
    import math

    from ferc_xbrl_extractor_spark.operators.text import bm25_scores

    df = spark.createDataFrame(
        [
            (1, "hash join beats merge join on small tables"),
            (2, "the scan was slow"),
            (3, "hash hash hash everywhere hash"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["bm25"] for r in bm25_scores(df, ["hash", "join"]).collect()}
    assert got[2] == 0.0
    assert got[1] > got[3] > 0  # doc 1 matches both terms; tf saturation caps doc 3

    # spot-check one score against the textbook formula
    n, k1, b = 3.0, 1.2, 0.75
    avgdl = (8 + 4 + 5) / 3.0
    def idf(dfreq): return math.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
    def term(tf, dl, dfreq):
        return idf(dfreq) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    expected = term(1, 8, 2) + term(2, 8, 1)
    assert abs(got[1] - expected) < 1e-9


@needs_sf0001
def test_quantized_topk_close_to_exact(spark):
    from ferc_xbrl_extractor_spark.operators.similarity import (
        cosine_topk,
        quantized_cosine_topk,
    )
    from ferc_xbrl_extractor_spark.sources.star import load_table

    emb = load_table(spark, SF0001, "embeddings")
    queries = emb.filter("vec_id < 5")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    quant = {
        (r["query_id"], r["neighbor_id"])
        for r in quantized_cosine_topk(emb, queries, k=10).collect()
    }
    # int8 quantization keeps ANN recall high: ≥80% of exact top-10 pairs
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.8, recall


def test_unigram_surprisal_goldens(spark):
    import math

    from ferc_xbrl_extractor_spark.operators.text import unigram_surprisal

    df = spark.createDataFrame(
        [(1, "the the the the"), (2, "zyzzyva qwerty plugh xyzzy"), (3, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["surprisal"] for r in unigram_surprisal(df).collect()}
    # p(the)=4/8 -> ln 2; hapax p=1/8 -> ln 8; empty doc -> NULL
    assert got[1] == pytest.approx(math.log(2), abs=1e-4)
    assert got[2] == pytest.approx(math.log(8), abs=1e-4)
    assert got[3] is None


def test_training_data_pipeline_end_to_end(spark, tmp_path):
    """The full training-data path in one plan chain: curate (quality +
    dedup + redact) -> token counts -> sequence packing -> materialized
    sequence shards -> JSONL delivery -> read-back."""
    from ferc_xbrl_extractor_spark.operators.packing import (
        materialize_sequences,
        pack_sequences,
    )
    from ferc_xbrl_extractor_spark.operators.text import token_counts
    from ferc_xbrl_extractor_spark.pipeline.curate import curate_corpus
    from ferc_xbrl_extractor_spark.sources.corpus import write_corpus_shards

    docs = spark.createDataFrame(
        [
            (i, f"document number {i} with plenty of distinct words "
                f"alpha{i} beta{i} gamma{i} delta{i} mail x{i}@y.com", "web")
            for i in range(20)
        ]
        + [(100, "document number 1 with plenty of distinct words "
                 "alpha1 beta1 gamma1 delta1 mail x1@y.com", "web")],  # near-dup of 1
        "doc_id long, text string, source string",
    )
    curated = curate_corpus(
        docs,
        min_tokens=5,
        max_stopword_ratio=1.0,
        min_uniq_ratio=0.0,
        neardup_threshold=0.5,
        redact=True,
    )
    sized = curated.withColumn("n_tok", token_counts(curated))
    packed = pack_sequences(
        sized, order_col="doc_id", token_col="n_tok", budget=40, by="source"
    )
    seqs = materialize_sequences(packed, by="source")
    out = str(tmp_path / "shards")
    write_corpus_shards(
        seqs.select("source", "seq_id", "seq_text"), out, shards=2, fmt="json"
    )
    back = spark.read.schema("source string, seq_id long, seq_text string").json(out)
    rows = back.collect()
    full_text = " ".join(r["seq_text"] for r in sorted(rows, key=lambda r: r["seq_id"]))
    # near-dup collapsed: doc 100's text absent; PII redacted everywhere
    assert len([r for r in rows if r["seq_text"]]) >= 2
    assert "@y.com" not in full_text and "<EMAIL>" in full_text
    assert full_text.count("document number 1 ") == 1


def test_curate_cli_runs_end_to_end(spark, tmp_path, capsys):
    import json as _json

    from ferc_xbrl_extractor_spark.curate_cli import parse, run_main

    src = str(tmp_path / "in")
    spark.createDataFrame(
        [
            (i, f"document {i} has plenty of distinct interesting words "
                f"a{i} b{i} c{i} d{i} e{i}", "web")
            for i in range(12)
        ]
        + [(50, "tiny", "web")],
        "doc_id long, text string, source string",
    ).write.parquet(src)

    out = str(tmp_path / "out")
    args = parse(
        [src, "--output", out, "--min-tokens", "5", "--min-uniq-ratio", "0",
         "--max-stopword-ratio", "1", "--pack-budget", "30",
         "--pack-by", "source", "--shards", "2"]
    )
    assert run_main(args) == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["input_rows"] == 13
    assert summary["packed"] is True
    back = spark.read.schema(
        "source string, seq_id long, seq_text string, n_docs long, start_offset long"
    ).json(out)
    assert back.count() == summary["output_rows"] > 0
    assert "tiny" not in " ".join(r["seq_text"] for r in back.collect())


@pytest.mark.slow
def test_curate_cli_linkrank_flags(spark, tmp_path, capsys):
    """--link-edges + --min-link-rank: the CLI ranks the link graph and
    drops below-threshold ranked docs; unranked docs survive."""
    import json as _json

    from ferc_xbrl_extractor_spark.curate_cli import parse, run_main
    from ferc_xbrl_extractor_spark.operators import graph

    src = str(tmp_path / "in")
    spark.createDataFrame(
        [
            (i, f"document {i} has plenty of distinct interesting words "
                f"a{i} b{i} c{i} d{i} e{i}", "web")
            for i in range(1, 7)
        ],
        "doc_id long, text string, source string",
    ).write.parquet(src)
    edges_path = str(tmp_path / "edges")
    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 1), (5, 1), (1, 2), (2, 3), (3, 4)],
        "src long, dst long",
    )
    edges.write.parquet(edges_path)
    ranks = {r["node"]: r["node_rank"]
             for r in graph.pagerank(edges, iters=3).collect()}
    thresh = ranks[5] + 1

    out = str(tmp_path / "out")
    args = parse(
        [src, "--output", out, "--min-tokens", "5", "--min-uniq-ratio", "0",
         "--max-stopword-ratio", "1",
         "--link-edges", edges_path, "--min-link-rank", str(thresh),
         "--shards", "1"]
    )
    assert run_main(args) == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    want = {n for n, v in ranks.items() if v >= thresh} | {6}
    assert summary["output_rows"] == len(want)


def test_chunk_documents_windows_and_edges(spark):
    from ferc_xbrl_extractor_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "x y"), (3, "")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["chunk_id"]): (r["n_chunk_tokens"], r["chunk_text"])
        for r in chunk_documents(df, max_tokens=4, overlap=1).collect()
    }
    assert got == {
        (1, 0): (4, "a b c d"),
        (1, 1): (4, "d e f g"),   # stride 3: last token of prior chunk repeats
        (1, 2): (4, "g h i j"),
        (2, 0): (2, "x y"),       # short doc: one whole chunk
        (3, 0): (0, ""),          # empty doc: one empty chunk
    }
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, max_tokens=4, overlap=4)


def test_hll_partials_merge_to_whole_data_estimate(spark):
    """Sketch-union consistency: rolling partial sketches up must agree
    with sketching the whole column in one pass to within the lgK error
    bound (union register state differs slightly from one-pass), and both
    must sit within the bound of the exact count — that is what makes
    per-partition sketches safe to persist and merge incrementally."""
    from ferc_xbrl_extractor_spark.operators import analytics

    df = spark.range(0, 5000).select(
        (F.col("id") % 7).alias("grp"),
        (F.col("id") % 40).alias("part"),
        (F.col("id") % 911).alias("v"),
    )
    parts = analytics.hll_partial_sketches(df, ["grp", "part"], "v", lgk=12)
    rolled = analytics.hll_rollup(parts, ["grp"])
    whole = df.groupBy("grp").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("v", F.lit(12))).alias("whole_est")
    )
    joined = rolled.join(whole, "grp").collect()
    assert len(joined) == 7
    for r in joined:
        assert abs(r["distinct_est"] - r["whole_est"]) <= 0.02 * r["whole_est"] + 1
        assert r["n_sketches"] == 40
    # and the estimate is within the lgK=12 error bound of the truth
    exact = {r["grp"]: r["d"] for r in
             df.groupBy("grp").agg(F.count_distinct("v").alias("d")).collect()}
    for r in joined:
        assert abs(r["distinct_est"] - exact[r["grp"]]) / exact[r["grp"]] < 0.05


def test_bloom_no_false_negatives_and_bounded_fpr(spark):
    """Every inserted key must probe True (one-sidedness is the contract
    the decontamination prefilter relies on); non-members must match at
    roughly the nominal rate, not wildly above it."""
    from ferc_xbrl_extractor_spark.operators import bloom

    members = spark.range(0, 2000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    bf = bloom.bloom_build(members, "k")
    assert members.filter(~bloom.might_contain(bf, F.col("k"))).count() == 0

    others = spark.range(100000, 110000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    fp = others.filter(bloom.might_contain(bf, F.col("k"))).count()
    assert fp / 10000 < 0.03  # nominal 1%, generous headroom


@pytest.mark.slow
def test_bloom_decontaminate_equals_exact(spark):
    """The bloom path is a prefilter + exact verify: output must equal the
    plain broadcast-join decontamination."""
    from ferc_xbrl_extractor_spark.operators import bloom, neardup

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated text about spark planning here"),
            (3, "the quick brown fox appears in this doc too"),
            (4, "another clean document with original content inside"),
        ],
        "doc_id long, text string",
    )
    benchmark = spark.createDataFrame(
        [(100, "quick brown fox jumps over everything")],
        "doc_id long, text string",
    )
    exact = {
        r["doc_id"]
        for r in neardup.decontaminate(corpus, benchmark, n=3).collect()
    }
    got = {
        r["doc_id"]
        for r in bloom.bloom_decontaminate(corpus, benchmark, n=3).collect()
    }
    assert got == exact
    assert 2 in got and 4 in got and 1 not in got


@pytest.mark.slow
def test_interval_join_matches_naive_range_join(spark):
    """Bucketized point-in-interval join must equal the naive inequality
    join on every bound mode, and must plan as an equi-join (never
    BroadcastNestedLoop — the thing that dies at scale)."""
    from ferc_xbrl_extractor_spark.operators.joins import interval_join

    points = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(60)], "pid int, k int, t double"
    )
    intervals = spark.createDataFrame(
        [
            (100, 0, 5.0, 20.0),
            (101, 0, 19.0, 25.0),  # overlaps 100
            (102, 1, 0.0, 0.0),    # degenerate single-point interval
            (103, 2, 50.0, 200.0), # extends past the data
            (104, 1, -10.0, -1.0), # matches nothing
        ],
        "iid int, k int, s double, e double",
    )
    for closed in ("both", "left", "right", "neither"):
        lo = ">=" if closed in ("both", "left") else ">"
        hi = "<=" if closed in ("both", "right") else "<"
        naive = points.alias("p").join(
            intervals.alias("i"),
            F.expr(f"p.k = i.k AND p.t {lo} i.s AND p.t {hi} i.e"),
        ).select("pid", "iid")
        got = interval_join(
            points, intervals, "t", "s", "e",
            bucket_width=7.0, keys=["k"], closed=closed,
        ).select("pid", "iid")
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, naive.collect())
        ), f"mismatch for closed={closed}"

    plan = interval_join(
        points, intervals, "t", "s", "e", bucket_width=7.0, keys=["k"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


def test_interval_join_binds_raw_column_names(spark):
    """Point, start, end and key columns whose names hold a dot or a
    backtick join exactly like the same columns under plain names, for
    numeric and timestamp axes."""
    from ferc_xbrl_extractor_spark.operators.joins import interval_join

    points = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(12)], "pid int, k int, t double"
    ).withColumn("ts", F.timestamp_seconds("t"))
    intervals = spark.createDataFrame(
        [(100, 0, 1.0, 4.0), (101, 1, 3.0, 9.0), (102, 0, 20.0, 30.0)],
        "iid int, k int, s double, e double",
    ).withColumn("sts", F.timestamp_seconds("s")).withColumn("ets", F.timestamp_seconds("e"))
    odd = {"k": "k.`ey", "t": "t.p`t", "ts": "ts.p`t", "s": "s.`tart", "e": "e.n`d", "sts": "st`s.x", "ets": "et`s.x"}

    def renamed(df):
        return df.toDF(*(odd.get(c, c) for c in df.columns))

    for p, s, e in (("t", "s", "e"), ("ts", "sts", "ets")):
        plain = interval_join(points, intervals, p, s, e, bucket_width=2.0, keys=["k"])
        odd_out = interval_join(
            renamed(points), renamed(intervals), odd[p], odd[s], odd[e],
            bucket_width=2.0, keys=[odd["k"]],
        )
        want = sorted(map(tuple, plain.select("pid", "iid").collect()))
        assert want and sorted(map(tuple, odd_out.select("pid", "iid").collect())) == want


def test_weighted_sample_k_matches_reference_formula(spark):
    """weighted_sample_k replicates the A-ES draw computed independently
    in Python (hashlib md5 → ln(u)/w → top-k)."""
    import hashlib
    import math

    from pyspark.sql import Row

    from ferc_xbrl_extractor_spark.operators.sampling import weighted_sample_k

    rows = [(i, 1000 if i % 50 == 0 else (i % 7) + 1) for i in range(300)]
    df = spark.createDataFrame([Row(doc_id=i, w=w) for i, w in rows])

    def key(i, w):
        u60 = int(hashlib.md5(f"s:{i}".encode()).hexdigest()[:15], 16)
        return math.log((u60 + 1) / float(1 << 60)) / w

    expect = {
        i for i, _ in sorted(
            rows, key=lambda t: (-key(t[0], t[1]), t[0])
        )[:20]
    }
    got = {
        r["doc_id"]
        for r in weighted_sample_k(df, 20, "w", salt="s:").collect()
    }
    assert got == expect
    # heavy weights dominate: all six w=1000 rows make the top-20
    assert {i for i, w in rows if w == 1000} <= got


def test_weighted_sample_k_excludes_nonpositive_and_uses_topk_plan(spark):
    from pyspark.sql import Row

    from ferc_xbrl_extractor_spark.operators.sampling import weighted_sample_k

    df = spark.createDataFrame(
        [Row(doc_id=1, w=0), Row(doc_id=2, w=-5), Row(doc_id=3, w=None),
         Row(doc_id=4, w=2), Row(doc_id=5, w=3)]
    )
    out = weighted_sample_k(df, 10, "w")
    assert {r["doc_id"] for r in out.collect()} == {4, 5}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # top-k heaps, no full sort


def test_semantic_dedup_blocks_by_cluster_and_keeps_min_id(spark):
    from ferc_xbrl_extractor_spark.operators.neardup import dedup_by_pairs
    from ferc_xbrl_extractor_spark.operators.similarity import (
        semantic_pairs,
        unit_centroids_from_rows,
    )

    cents = unit_centroids_from_rows([[1.0, 0.0], [0.0, 1.0]])
    # 1,2: near-identical, cluster 0 -> one pair, survivor 1.
    # 3: cluster 0 but dissimilar to 1/2 (below threshold).
    # 4,5: near-identical, cluster 1 -> survivor 4.
    # 6: sits near the boundary in cluster 0; 7 is its mirror in cluster
    #    1 with cosine(6,7) ~ 0.995 -- ABOVE threshold but different
    #    clusters, so blocking must NOT pair them (SemDeDup semantics).
    rows = [
        (1, [10.0, 1.0]),
        (2, [10.0, 1.01]),
        (3, [10.0, 6.0]),
        (4, [1.0, 10.0]),
        (5, [1.01, 10.0]),
        (6, [10.0, 9.5]),
        (7, [9.5, 10.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs_df = semantic_pairs(df, cents, threshold=0.99)
    pairs = {(r["id_a"], r["id_b"]) for r in pairs_df.collect()}
    assert pairs == {(1, 2), (4, 5)}
    survivors = {
        r["vec_id"]
        for r in dedup_by_pairs(df, pairs_df, id_col="vec_id").collect()
    }
    assert survivors == {1, 3, 4, 6, 7}


@pytest.mark.slow
def test_quality_classifier_train_and_score_roundtrip(spark):
    from ferc_xbrl_extractor_spark.operators import classifier

    # Synthetic corpus: "good" docs are varied prose, "bad" docs are
    # repetitive low-diversity strings -> separable on uniq_ratio alone.
    rows = []
    for i in range(40):
        rows.append((i, f"alpha beta gamma delta epsilon zeta eta theta w{i} x{i} y{i} z{i}", 1.0))
    for i in range(40, 80):
        rows.append((i, "spam spam spam spam spam spam spam spam spam spam", 0.0))
    df = spark.createDataFrame(rows, "doc_id long, text string, label double")

    feat = classifier.featurize(df)
    weights, bias = classifier.train_quality_classifier(feat, "label")
    assert set(weights) == set(classifier.DEFAULT_FEATURES)

    scored = classifier.score_documents(df, weights, bias, keep_logit=0.0)
    got = {r["doc_id"]: r["keep"] for r in scored.collect()}
    assert all(got[i] for i in range(40))
    assert not any(got[i] for i in range(40, 80))
    # sigmoid stays a display column consistent with the logit sign
    for r in scored.collect():
        assert (r["quality_score"] > 0.5) == (r["quality_logit"] > 0.0)


def test_logit_fold_matches_manual_sum(spark):
    from ferc_xbrl_extractor_spark.operators import classifier

    df = spark.createDataFrame([(1, 0.5, 2.0)], "id long, a double, b double")
    z = df.select(
        classifier.logit({"a": 2.0, "b": -1.0}, bias=0.25).alias("z")
    ).first()["z"]
    assert z == 0.25 + 0.5 * 2.0 + 2.0 * -1.0


def test_vocab_build_ids_and_tiebreak(spark):
    from ferc_xbrl_extractor_spark.operators import vocab as V

    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "b a d"), (3, "")],
        "doc_id long, text string",
    )
    got = [
        (r["token"], r["token_id"], r["n"])
        for r in V.build_vocab(df, vocab_size=3)
        .orderBy("token_id")
        .collect()
    ]
    # counts: a=3, b=2, c=1, d=1 -> top-3 keeps c over d (tie -> token asc)
    assert got == [("a", 1, 3), ("b", 2, 2), ("c", 3, 1)]


def test_encode_documents_oov_and_empty(spark):
    from ferc_xbrl_extractor_spark.operators import vocab as V

    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "b a d"), (3, "")],
        "doc_id long, text string",
    )
    v = V.build_vocab(df, vocab_size=3)
    got = {
        r["doc_id"]: r["token_ids"]
        for r in V.encode_documents(df, v).collect()
    }
    assert got == {1: [1, 2, 1, 3], 2: [2, 1, 0], 3: []}


def test_encode_never_explodes_or_shuffles_corpus(spark):
    from ferc_xbrl_extractor_spark.operators import vocab as V

    df = spark.createDataFrame(
        [(i, "x y z w") for i in range(30)], "doc_id long, text string"
    )
    enc = V.encode_documents(df, V.build_vocab(df))
    enc.collect()
    plan = enc._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    # the vocab-build subplan may exchange; the CORPUS side must not be
    # exploded (one Generate belongs to the vocab count, none to encode)
    assert plan.count("Generate") == 1
    assert "SortMergeJoin" not in plan


def test_curate_classifier_spans_encode_stages_compose(spark):
    from ferc_xbrl_extractor_spark.pipeline.curate import curate_corpus

    boiler = "all rights reserved worldwide"
    good1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    good2 = "lambda mu nu xi omicron pi rho sigma tau upsilon"
    rows = [
        (1, f"{good1} one {boiler}"),
        (2, f"{good2} two {boiler}"),
        (3, "spam spam spam spam spam spam spam spam spam spam spam spam"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = curate_corpus(
        docs,
        min_tokens=1,
        max_stopword_ratio=1.0,
        min_uniq_ratio=0.0,
        trim_spans_n=4,
        encode_vocab_size=6,
    ).collect()
    got = {r["doc_id"]: r for r in out}
    assert got[1]["text"].startswith("alpha beta")   # unique text kept
    assert got[2]["text"].startswith("lambda mu")
    for r in (got[1], got[2]):
        assert boiler not in r["text"]              # span trim removed it
        ids = r["token_ids"]
        assert len(ids) == len(r["text"].split())    # encoded post-trim
        assert all(0 <= i <= 6 for i in ids)
        assert 0 in ids                              # OOV present (vocab=6)


def test_corpus_orc_roundtrip(spark, tmp_path):
    from ferc_xbrl_extractor_spark.sources import corpus

    rows = [
        (1, "plain text", "en", "web", 10),
        (2, 'embedded "quotes" and\nnewlines\tsurvive', "en", "books", 38),
        (3, "", "es", "web", 0),
    ]
    df = spark.createDataFrame(rows, corpus.DOC_SCHEMA)
    path = str(tmp_path / "orc_corpus")
    corpus.write_corpus_shards(df, path, shards=2, fmt="orc")
    back = corpus.load_documents_orc(spark, path)
    got = sorted(map(tuple, back.collect()))
    assert got == sorted(rows)


def test_temperature_rates_goldens_and_composition(spark):
    import math

    from ferc_xbrl_extractor_spark.operators.packing import temperature_rates
    from ferc_xbrl_extractor_spark.operators.sampling import sample_by_rate

    rows = (
        [(i, "web") for i in range(900)]
        + [(1000 + i, "code") for i in range(90)]
        + [(2000 + i, "books") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")

    r05 = temperature_rates(df, 0.5)
    assert r05["books"] == 1.0
    assert r05["code"] == pytest.approx(math.sqrt(10 / 90))
    assert r05["web"] == pytest.approx(math.sqrt(10 / 900))
    # tau=1 -> natural proportions (no downsampling at all)
    assert temperature_rates(df, 1.0) == {"web": 1.0, "code": 1.0, "books": 1.0}
    # tau=0 -> every stratum's expected size equals the smallest
    r0 = temperature_rates(df, 0.0)
    assert r0 == {"web": 10 / 900, "code": 10 / 90, "books": 1.0}

    sampled = sample_by_rate(
        df, key_col="source", rates=r05, salt="t:"
    ).groupBy("source").count()
    got = {r["source"]: r["count"] for r in sampled.collect()}
    # expected sizes ~ sqrt(n_min * n_s): 94.9 / 30 / 10
    assert got["books"] == 10
    assert 15 <= got["code"] <= 45
    assert 65 <= got["web"] <= 125

    with pytest.raises(ValueError):
        temperature_rates(df, 1.5)


def test_split_by_hash_disjoint_exhaustive_stable(spark):
    from ferc_xbrl_extractor_spark.operators.sampling import split_by_hash

    df = spark.createDataFrame(
        [(i,) for i in range(2000)], "doc_id long"
    )
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = split_by_hash(df, fr, salt="v1:")
    got = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(got) == 2000  # exhaustive: every row labeled exactly once
    from collections import Counter

    sizes = Counter(got.values())
    assert set(sizes) == {"train", "val", "test"}
    assert 1500 <= sizes["train"] <= 1750  # ~1600 expected
    assert 120 <= sizes["val"] + sizes["test"] <= 400
    # stability: same salt -> identical assignment, regardless of order
    again = {
        r["doc_id"]: r["split"]
        for r in split_by_hash(df.repartition(7), fr, salt="v1:").collect()
    }
    assert again == got
    # a different salt redraws (some labels must change)
    redraw = {
        r["doc_id"]: r["split"]
        for r in split_by_hash(df, fr, salt="v2:").collect()
    }
    assert redraw != got

    with pytest.raises(ValueError):
        split_by_hash(df, {"a": 0.5, "b": 0.4})


def test_assemble_dialogues(spark):
    """G103: dialogue assembly — a gap of exactly the threshold starts
    a new conversation (the g8 session contract), turns order by the
    (ts, role, text) total order even at duplicate timestamps, NULL
    role/text render as empty strings keeping their slot, and the
    transcript is the ordered 'role: text' join. Cross-engine
    exactness is the g103_dialogues oracle (hash-green both scales)."""
    from datetime import datetime

    from ferc_xbrl_extractor_spark.operators.packing import (
        assemble_dialogues,
    )

    t = lambda m, s=0: datetime(2024, 1, 1, 10, m, s)  # noqa: E731
    rows = [
        (1, t(0), "user", "hi"),
        (1, t(1), "assistant", "hello"),
        (1, t(1), "assistant", "and more"),  # dup ts: text breaks tie
        (1, t(31), "user", "still here"),    # EXACTLY 30 min: merges
        (1, t(31, 1), "user", "new session"),  # sub-gap after t(31)
        (2, t(0), None, None),               # NULL role/text keep slot
        (2, t(5), "user", "x"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, role string, text string"
    )
    got = {
        (r["user_id"], r["started_at"]): r
        for r in assemble_dialogues(df).collect()
    }
    s1 = got[(1, t(0))]
    # the exact-boundary turn merges (Spark session_window rule) and
    # extends the session so the t+30:01 turn merges too
    assert s1["n_turns"] == 5
    assert s1["transcript"] == (
        "user: hi\nassistant: and more\nassistant: hello"
        "\nuser: still here\nuser: new session"
    )
    s3 = got[(2, t(0))]
    assert s3["n_turns"] == 2
    assert s3["transcript"] == ": \nuser: x"


@pytest.mark.slow
def test_margin_mine_semantics(spark):
    """G102: margin mining renormalizes cosine by neighborhood density
    — an isolated true pair outscores a dense-cluster pair with the
    SAME raw cosine; a non-positive neighborhood denominator drops (NULL margin) instead
    of erroring; k validates. Exact integer replay vs a numpy
    reference of the documented recipe (round-4dp → micro → one
    integer division). Cross-engine exactness is the g102_margin_mine
    oracle (hash-green both scales)."""
    import numpy as np

    from ferc_xbrl_extractor_spark.operators.similarity import margin_mine

    rnd = np.random.default_rng(7)

    def _unit(v):
        v = np.asarray(v, dtype=float)
        return v / np.linalg.norm(v)

    # left corpus: an isolated probe (e0) + a dense clump (c1..c3)
    # right corpus: the probe's twin + the clump's twins — every pair
    # below has high raw cosine, but the clump pairs sit in
    # neighborhoods where everything is close, so their margins shrink
    e0 = _unit([1, 0, 0, 0])
    clump = [_unit([0, 1, 0.05 * i, 0.02]) for i in range(3)]
    left_rows = [(0, e0.tolist())] + [
        (2 * i + 2, c.tolist()) for i, c in enumerate(clump)
    ]
    right_rows = [(1, _unit(e0 + 0.01 * rnd.normal(size=4)).tolist())] + [
        (2 * i + 3, _unit(c + 0.01 * rnd.normal(size=4)).tolist())
        for i, c in enumerate(clump)
    ]
    left = spark.createDataFrame(left_rows, "vec_id long, embedding array<double>")
    right = spark.createDataFrame(right_rows, "vec_id long, embedding array<double>")

    got = {
        (r["id_a"], r["id_b"]): r
        for r in margin_mine(left, right, k=3, threshold_micro=0).collect()
    }
    assert (0, 1) in got
    probe = got[(0, 1)]["margin_micro"]
    clump_margins = [
        got[(2 * i + 2, 2 * i + 3)]["margin_micro"] for i in range(3)
    ]
    assert probe > max(clump_margins)  # isolation wins renormalization

    # numpy replay of the documented integer recipe for the probe pair
    L = {i: np.array(v) for i, v in left_rows}
    R = {j: np.array(v) for j, v in right_rows}
    sm = {
        (i, j): int(round(round(float(np.dot(L[i], R[j]) /
            (np.linalg.norm(L[i]) * np.linalg.norm(R[j]))), 4) * 1e6))
        for i in L for j in R
    }
    k = 3
    top_f = {i: sorted(R, key=lambda j: (-sm[(i, j)], j))[:k] for i in L}
    top_b = {j: sorted(L, key=lambda i: (-sm[(i, j)], i))[:k] for j in R}
    ma = {i: sum(sm[(i, j)] for j in top_f[i]) // k for i in L}
    mb = {j: sum(sm[(i, j)] for i in top_b[j]) // k for j in R}
    want = (2 * sm[(0, 1)] * 1_000_000) // (ma[0] + mb[1])
    assert probe == want

    # non-positive denominator: anti-parallel corpora — all cosines
    # negative, means <= 0, margin NULL → dropped, no divide error
    neg_l = spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    neg_r = spark.createDataFrame(
        [(1, [-1.0, 0.0]), (3, [0.0, -1.0])], "vec_id long, embedding array<double>"
    )
    assert margin_mine(neg_l, neg_r, k=2, threshold_micro=-10_000_000).count() == 0

    with pytest.raises(ValueError, match="k must"):
        margin_mine(left, right, k=0)


@pytest.mark.slow
def test_corpus_similarity_matrix(spark):
    """G106: corpus MinHash similarity — identical strata estimate
    J = 1.0 exactly (every permutation minimum agrees), disjoint strata
    estimate ~0, an all-empty stratum surfaces NULL (never dropped),
    and the union-collapse identity holds: the stratum signature equals
    the elementwise min of its documents' per-doc signatures."""
    from ferc_xbrl_extractor_spark.operators import neardup

    base = "the quick brown fox jumps over the lazy dog again and again"
    other = "完全 different words entirely unrelated corpus content here okay"
    rows = [
        (0, "a", base),
        (1, "a", "some extra material beyond the shared part one two three"),
        (2, "b", base),
        (3, "b", "some extra material beyond the shared part one two three"),
        (4, "c", other),
        (5, "d", ""),  # shingle-less stratum
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r["stratum_a"], r["stratum_b"]): (r["matches"], r["est_jaccard"])
        for r in neardup.corpus_similarity(df, num_hashes=32).collect()
    }
    assert set(got) == {
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
        ("c", "d"),
    }
    assert got[("a", "b")] == (32, 1.0)  # identical union shingle sets
    assert got[("a", "c")][0] <= 2  # disjoint: ~0 up to estimator noise
    assert got[("a", "d")] == (None, None)  # empty stratum -> NULL, visible
    assert got[("c", "d")] == (None, None)

    # union-collapse identity: stratum sig == elementwise min of doc sigs
    doc_sigs = (
        df.filter(F.col("source") == "a")
        .select(neardup.minhash_signature("text", n=3, num_hashes=8).alias("s"))
        .collect()
    )
    merged = [min(r["s"][i] for r in doc_sigs) for i in range(8)]
    st = neardup.shingle_table(
        df.filter(F.col("source") == "a"), id_col="source"
    )
    strat_sig = neardup.minhash_signature_table(
        st, id_col="source", num_hashes=8
    ).collect()[0]
    assert [strat_sig[f"mh{i}"] for i in range(8)] == merged

    with pytest.raises(ValueError, match="num_hashes"):
        neardup.corpus_similarity(df, num_hashes=0)


def test_corpus_similarity_quotes_stratum_column(spark):
    """A stratum column name holding a backtick binds to that column: the
    report equals the one computed under a plain name."""
    from ferc_xbrl_extractor_spark.operators import neardup

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(0, "a", base), (1, "b", base), (2, "c", "one two three four five"), (3, "d", "")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    plain = neardup.corpus_similarity(df, num_hashes=16)
    odd = neardup.corpus_similarity(
        df.withColumnRenamed("source", "src`x"), stratum_col="src`x", num_hashes=16
    )
    assert sorted(odd.collect()) == sorted(plain.collect())


def test_winnow_fingerprints_and_overlap(spark):
    """G101: winnowing (Schleimer et al. SIGMOD'03). Pins the paper's
    guarantee — any shared substring of length >= window + k - 1
    yields at least one shared fingerprint — plus: unrelated docs
    share nothing at min_shared, the doc-frequency cap prunes
    boilerplate fingerprints before the join, sub-k docs contribute
    nothing, sub-window docs contribute their single minimum, and
    validation raises. Cross-engine exactness is the g101_winnow_pairs
    oracle (hash-green both scales)."""
    import random

    from ferc_xbrl_extractor_spark.operators.neardup import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    rnd = random.Random(5)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    blob = "".join(rnd.choice(alpha) for _ in range(120))
    shared = "".join(rnd.choice(alpha) for _ in range(40))  # >= w+k-1 = 12
    docs = spark.createDataFrame(
        [
            (1, blob[:60] + shared + blob[60:]),
            (2, shared + "".join(rnd.choice(alpha) for _ in range(100))),
            (3, "".join(rnd.choice(alpha) for _ in range(150))),
        ],
        "doc_id long, text string",
    )
    k, w = 5, 8
    fps = winnow_fingerprints(docs, k=k, window=w)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    # the guarantee: docs 1 and 2 share the 40-char passage
    assert by_doc[1] & by_doc[2]
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in winnow_overlap_pairs(
            docs, k=k, window=w, min_shared=1, max_doc_freq=10
        ).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs

    # boilerplate cap: a fingerprint in ALL docs vanishes at max_doc_freq=2
    boiler = spark.createDataFrame(
        [(i, shared) for i in range(5)], "doc_id long, text string"
    )
    assert (
        winnow_overlap_pairs(
            boiler, k=k, window=w, min_shared=1, max_doc_freq=2
        ).count()
        == 0
    )

    # sub-k docs: nothing; sub-window docs: exactly one fingerprint
    tiny = spark.createDataFrame(
        [(1, "abc"), (2, "abcdefg")], "doc_id long, text string"
    )
    got = winnow_fingerprints(tiny, k=5, window=8).collect()
    assert {r["doc_id"] for r in got} == {2} and len(got) == 1

    import pytest as _pytest
    with _pytest.raises(ValueError, match="k and window"):
        winnow_fingerprints(docs, k=0)
    with _pytest.raises(ValueError, match="min_shared"):
        winnow_overlap_pairs(docs, min_shared=0)
    with _pytest.raises(ValueError, match="max_doc_freq"):
        winnow_overlap_pairs(docs, max_doc_freq=1)


_UNIGRAM_CORPUS = [
    (1, "the thermometer theme there then the thesis"),
    (2, "low lower lowest slow slowly the thermometer"),
    (3, "then lowest theme slowly slowly the"),
]


def test_corpus_report_single_scan_goldens(spark):
    from ferc_xbrl_extractor_spark.operators import text as T

    df = spark.createDataFrame(
        [
            (1, "a b c", "en", "web"),
            (2, "a b c", "en", "web"),      # exact dup of 1
            (3, "d e", "es", "books"),
            (4, "", "en", "web"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    r = T.corpus_report(df).first()
    assert r["n_docs"] == 4
    assert r["n_tokens"] == 8
    assert r["n_distinct_texts"] == 3
    assert r["dup_doc_ratio"] == 0.25
    assert r["n_langs"] == 2 and r["n_sources"] == 2
    assert r["p50_tokens"] == 2.5  # sorted lens [0,2,3,3]

    # single scan: exactly one FileScan/relation-scan-free local relation;
    # assert the plan carries one aggregate chain and no join
    out = T.corpus_report(df)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "Join" not in plan

    # no lang/source columns -> those metrics are simply omitted
    slim = spark.createDataFrame([(1, "x y")], "doc_id long, text string")
    row = T.corpus_report(slim).first()
    assert "n_langs" not in row.asDict()


def test_strip_common_lines_per_source(spark):
    from ferc_xbrl_extractor_spark.operators.text import strip_common_lines

    rows = [
        (1, "HEADER\nunique one\nFOOTER", "a"),
        (2, "HEADER\nunique two\nFOOTER", "a"),
        (3, "HEADER\nunique three\nFOOTER", "a"),
        # source b: HEADER appears once -> NOT boilerplate there
        (4, "HEADER\nother text", "b"),
        (5, "different\nlines", "b"),
        (6, "HEADER\nFOOTER", "a"),  # all-boilerplate doc -> empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["doc_id"]: (r["clean_text"], r["n_kept_lines"])
        for r in strip_common_lines(df, source_col="source").collect()
    }
    assert out[1] == ("unique one", 1)
    assert out[2] == ("unique two", 1)
    assert out[3] == ("unique three", 1)
    assert out[4] == ("HEADER\nother text", 2)  # per-group independence
    assert out[5] == ("different\nlines", 2)
    assert out[6] == ("", 0)


def test_strip_common_lines_ratio_and_min_docs(spark):
    from ferc_xbrl_extractor_spark.operators.text import strip_common_lines

    # "x" in 2 of 4 docs = exactly 0.5 -> NOT > max_ratio 0.5 -> kept
    df = spark.createDataFrame(
        [(1, "x\na"), (2, "x\nb"), (3, "c"), (4, "d")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["clean_text"] for r in strip_common_lines(df).collect()}
    assert out[1] == "x\na"
    # one more doc with "x": 3 of 5 = 0.6 > 0.5 -> "x" stripped
    df2 = df.union(spark.createDataFrame([(5, "x\ne")], df.schema))
    out2 = {r["doc_id"]: r["clean_text"] for r in strip_common_lines(df2).collect()}
    assert out2[1] == "a" and out2[2] == "b" and out2[5] == "e"


def test_review_fixes_null_strata_and_guards(spark):
    import pytest as _pt

    from ferc_xbrl_extractor_spark.operators.packing import temperature_rates
    from ferc_xbrl_extractor_spark.operators.sampling import split_by_hash
    from ferc_xbrl_extractor_spark.operators.text import strip_common_lines

    # temperature_rates: NULL stratum excluded, not a None dict key
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None)], "doc_id long, source string"
    )
    rates = temperature_rates(df, 0.5)
    assert set(rates) == {"a"}

    # split_by_hash: empty fractions reports itself
    with _pt.raises(ValueError, match="empty"):
        split_by_hash(df, {})

    # strip_common_lines: NULL-source docs form their own group and ARE
    # stripped (previously silently exempted)
    docs = spark.createDataFrame(
        [(1, "B\nu1", None), (2, "B\nu2", None), (3, "B\nu3", None)],
        "doc_id long, text string, source string",
    )
    out = {
        r["doc_id"]: r["clean_text"]
        for r in strip_common_lines(docs, source_col="source").collect()
    }
    assert out == {1: "u1", 2: "u2", 3: "u3"}


def test_curate_trim_recomputes_stats(spark):
    from ferc_xbrl_extractor_spark.pipeline.curate import curate_corpus

    boiler = "b1 b2 b3 b4"
    rows = [
        (1, f"u11 u12 u13 u14 u15 {boiler}"),
        (2, f"u21 u22 u23 u24 u25 {boiler}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in curate_corpus(
            docs,
            min_tokens=1,
            max_stopword_ratio=1.0,
            min_uniq_ratio=0.0,
            trim_spans_n=4,
        ).collect()
    }
    for r in out.values():
        # stats must describe the trimmed text (5 tokens), not the
        # original 9-token text
        assert r["n_tokens"] == 5
        assert boiler.split()[0] not in r["text"]


def test_gopher_rules_goldens(spark):
    """G34: signals, fail bitmask and keep decision on hand-checked docs."""
    from ferc_xbrl_extractor_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox and a dog run to the hills in summer " * 5),
            (2, "### ### ### ###"),
            (3, "- one\n- two\n- three"),
            (4, "dotted line one...\ndotted line two...\nplain the end"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in T.gopher_rules(docs, min_words=5, min_stop_hits=1).collect()
    }
    assert out[1]["keep"] and out[1]["fail_mask"] == 0
    # doc 2: too few words (bit 0), symbol-heavy (bit 2), no alpha (bit 5),
    # no stopwords (bit 6)
    assert out[2]["fail_mask"] == (1 | 4 | 32 | 64) and not out[2]["keep"]
    # doc 3: every line is a bullet (bit 3); mean word len fine
    assert out[3]["fail_mask"] & 8
    # doc 4: 2 of 3 lines end with ellipsis -> ratio 0.6667 > 0.3 (bit 4)
    assert out[4]["fail_mask"] & 16
    assert out[4]["ellipsis_line_ratio"] == 0.6667


def test_paragraph_dedup_keeps_global_first_occurrence(spark):
    """G35: a repeated paragraph survives only at its smallest
    (doc_id, pos); docs reassemble in position order; empty-after-dedup
    docs round-trip as empty strings."""
    from ferc_xbrl_extractor_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "alpha\n\nshared"),
            (2, "shared\n\nbeta\n\nshared"),
            (3, "shared"),
            (4, "   \n\n  "),  # whitespace-only paragraphs drop entirely
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_kept_paragraphs"])
        for r in T.paragraph_dedup(docs).collect()
    }
    assert out[1] == ("alpha\n\nshared", 2)  # first occurrence of 'shared'
    assert out[2] == ("beta", 1)
    assert out[3] == ("", 0)
    assert out[4] == ("", 0)


def test_paragraph_dedup_plan_is_aggregate_not_window(spark):
    """G35 scale shape: survivor selection must be the map-side-combinable
    min(struct) aggregate + join — no window over the paragraph hash."""
    from ferc_xbrl_extractor_spark.operators import text as T

    docs = spark.createDataFrame(
        [(i, "p\n\nq") for i in range(50)], "doc_id long, text string"
    )
    plan = (
        T.paragraph_dedup(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "partitionby__h" not in plan.lower().replace(" ", "")


def test_recall_report_goldens(spark):
    """G3 recall report: exact-vs-exact is 1.0; a fully-missed query
    surfaces as recall 0.0 instead of being dropped."""
    from ferc_xbrl_extractor_spark.operators.similarity import recall_report

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30)],
        "query_id long, neighbor_id long",
    )
    self_recall = {r["query_id"]: r["recall"]
                   for r in recall_report(exact, exact).collect()}
    assert self_recall == {1: 1.0, 2: 1.0, 3: 1.0}

    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (2, 20), (2, 21)],  # q1 half right, q3 missing
        "query_id long, neighbor_id long",
    )
    rep = {r["query_id"]: (r["n_exact"], r["n_hit"], r["recall"])
           for r in recall_report(exact, approx).collect()}
    assert rep == {1: (2, 1, 0.5), 2: (2, 2, 1.0), 3: (1, 0, 0.0)}


@pytest.mark.slow
def test_curate_funnel_matches_pipeline(spark):
    """G36: the funnel counts the documents each curate_corpus stage
    dropped; its NULL row is the size of curate_corpus' output."""
    from ferc_xbrl_extractor_spark.pipeline import curate

    good = "the quick brown fox and a dog run to the hills in summer "
    rows = [
        (1, good * 2 + "one", "s1"),
        (2, good * 2 + "one", "s1"),       # exact dup of 1 (same fp? no -
        (3, good * 2 + "two", "s1"),       #  2 has same text as 1)
        (4, "tiny", "s1"),                 # fails quality (min_tokens)
        (5, "spam spam spam spam spam spam spam spam spam spam", "s1"),
        (6, "benchmark sentence alpha beta gamma delta epsilon zeta eta "
            "theta iota kappa", "s2"),
        (7, good * 2 + "three", "s2"),
    ]
    rows[1] = (2, rows[0][1], "s1")  # make 2 an exact duplicate of 1
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bench = spark.createDataFrame(
        [(100, rows[5][1])], "doc_id long, text string"
    )
    params = dict(
        benchmark=bench,
        min_tokens=5,
        min_uniq_ratio=0.2,
        min_overlap=5,
    )
    out_ids = {
        r["doc_id"] for r in curate.curate_corpus(docs, **params).collect()
    }
    assert out_ids == {1, 3, 7}  # 2 is a dup of 1: min id wins
    # 4 (min_tokens) and 5 (uniq_ratio) fail quality, 6 is contaminated
    assert _funnel(docs, **params) == {
        None: 3, "quality": 2, "decontaminate": 1, "exact_dup": 1,
    }


def test_curate_funnel_counts_null_text_at_quality(spark):
    """A NULL-text document has NULL stats, so the quality filter drops
    it in curate_corpus; the funnel must count it there too."""
    from ferc_xbrl_extractor_spark.pipeline import curate

    good = "the quick brown fox and a dog run to the hills in summer "
    docs = spark.createDataFrame(
        [(1, good * 2), (2, None), (3, "tiny")], "doc_id long, text string"
    )
    params = dict(min_tokens=5, min_uniq_ratio=0.2, max_stopword_ratio=0.9)
    out = {r["doc_id"] for r in curate.curate_corpus(docs, **params).collect()}
    assert out == {1}
    assert _funnel(docs, **params) == {None: 1, "quality": 2}


_GOOD = "the quick brown fox and a dog run to the hills in summer "
_FUNNEL_DOCS = [
    # doc_id, text, url, source
    (1, _GOOD * 2 + "one.", "http://a.com/p?utm_source=x", "web"),
    (2, _GOOD * 2 + "one.", "HTTP://A.COM:80/p/", "web"),       # refetch of 1
    (3, _GOOD * 2 + "one. ", "http://b.com/1", "web"),          # exact dup of 1
    (4, _GOOD * 2 + "two.", "http://b.com/2", "web"),           # near dup of 1
    (5, _GOOD, "http://b.com/3", "books"),                      # subset of 1
    (6, "tiny", "http://c.com/1", "web"),                       # fails quality
    (7, None, "http://c.com/2", "books"),                       # NULL text
    (8, "spam " * 30, "http://c.com/3", "web"),                 # repetitive
    (9, "привет мир это русский текст про собаку и реку " * 2,
     "http://d.ru/1", "books"),                                 # off-script
    (10, "benchmark sentence alpha beta gamma delta epsilon zeta eta "
         "theta iota kappa", "http://e.com/1", "books"),       # contaminated
    (11, "\n".join(["this line carries plenty of words and ends properly."]
                   * 3), "http://f.com/1", "books"),
    (12, "completely different words about machine learning and neural "
         "networks training on large datasets forever", "http://g.com/1",
     "books"),
]


@pytest.mark.parametrize(
    "case",
    ["g36", "compression", "c4", "defaults", "linkrank", "domain_cap", "url",
     "containment", "script", "keep_by_budget", "trim_sample"],
)
def test_curate_funnel_accounts_for_every_document(spark, case):
    """For the option sets the curate tests use, the funnel's rows sum to
    the input and its NULL row is the size of curate_corpus' output."""
    from ferc_xbrl_extractor_spark.operators import graph
    from ferc_xbrl_extractor_spark.pipeline import curate

    docs = spark.createDataFrame(
        _FUNNEL_DOCS, "doc_id long, text string, url string, source string"
    )
    lenient = dict(min_tokens=5, min_uniq_ratio=0.0, max_stopword_ratio=1.0)
    params = {
        "g36": dict(
            benchmark=docs.filter("doc_id = 10").select("doc_id", "text"),
            min_tokens=5, min_uniq_ratio=0.2, min_overlap=5,
            stratum_col="source", sample_n=2, sample_salt="g16",
        ),
        "compression": dict(lenient, min_compression_ratio=0.3),
        "c4": dict(lenient, c4=True),
        "defaults": dict(min_tokens=5, min_uniq_ratio=0.2),
        "linkrank": dict(
            lenient,
            link_ranks=graph.pagerank(spark.createDataFrame(
                [(2, 1), (3, 1), (4, 1), (5, 1), (1, 2), (2, 3)],
                "src long, dst long",
            ), iters=3),
            min_link_rank=200000,
        ),
        "domain_cap": dict(
            lenient, url_col="url", domain_col="domain",
            group_cap=1, group_cap_col="domain",
        ),
        "url": dict(min_tokens=5, min_uniq_ratio=0.2, url_col="url"),
        "containment": dict(lenient, containment_threshold=0.8),
        "script": dict(lenient, allowed_scripts=["latin"],
                       max_dup_line_ratio=0.5, max_dup_3gram_ratio=0.5),
        "keep_by_budget": dict(
            lenient, neardup_threshold=0.5, neardup_keep_by="n_tokens",
            token_budget=40,
        ),
        "trim_sample": dict(
            lenient, trim_spans_n=4, redact=True, stratum_col="source",
            sample_n=3, encode_vocab_size=20,
        ),
    }[case]
    funnel = _funnel(docs, **params)
    assert sum(funnel.values()) == len(_FUNNEL_DOCS)
    assert funnel[None] == curate.curate_corpus(docs, **params).count()
    assert all(n > 0 for n in funnel.values())


def test_vocab_coverage_report_goldens(spark):
    """G29 coverage curve: hand-checked Zipf-ish corpus — top-1 covers
    the majority token, the full vocab covers everything."""
    from ferc_xbrl_extractor_spark.operators.vocab import coverage_report

    docs = spark.createDataFrame(
        [(1, "a a a a b b c"), (2, "a a b d")],
        "doc_id long, text string",
    )
    # counts: a=6, b=3, c=1, d=1 -> total 11
    rep = {
        r["vocab_size"]: (r["covered_tokens"], r["total_tokens"], r["coverage"])
        for r in coverage_report(docs, vocab_sizes=[1, 2, 10]).collect()
    }
    assert rep[1] == (6, 11, round(6 / 11, 6))
    assert rep[2] == (9, 11, round(9 / 11, 6))
    assert rep[10] == (11, 11, 1.0)  # more than distinct tokens: everything


# ---------------------------------------------------------------------------
# G42 semantic decontamination
# ---------------------------------------------------------------------------


def _g42_fixture(spark):
    import math

    # 8-dim vectors: corpus rows 100-103 are near-copies of benchmark
    # rows 0-1 (eval leakage); 104-105 are far from everything.
    bench = [
        (0, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0]),
    ]
    corpus = [
        (100, [0.99, 0.01, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),   # ~bench 0
        (101, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),     # == bench 0
        (102, [0.02, 0.98, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),   # ~bench 1
        (103, [0.0, 0.0, 0.7, 0.7, 0.1, 0.0, 0.0, 0.0]),     # ~bench 2 (cos 0.995)
        (104, [0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 0.0]),     # clean
        (105, [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0]),     # clean
    ]
    schema = "vec_id long, embedding array<float>"
    bdf = spark.createDataFrame(bench, schema)
    cdf = spark.createDataFrame(corpus, schema)

    def brute(vec):
        best = None
        for bid, bv in bench:
            d = sum(float(x) * float(y) for x, y in zip(vec, bv))
            nv = math.sqrt(sum(float(x) ** 2 for x in vec))
            nb = math.sqrt(sum(float(y) ** 2 for y in bv))
            sim = round(d / (nv * nb), 4)
            if best is None or (sim, -bid) > best:
                best = (sim, -bid)
        return best[0], -best[1]

    expect = {cid: brute(v) for cid, v in corpus}
    return bdf, cdf, expect


def test_semantic_decontaminate_matches_brute_force(spark):
    from ferc_xbrl_extractor_spark.operators import similarity

    bdf, cdf, expect = _g42_fixture(spark)
    out = {
        r["vec_id"]: (r["max_bench_sim"], r["nearest_bench_id"],
                      r["contaminated"])
        for r in similarity.semantic_decontaminate(
            cdf, bdf, threshold=0.95
        ).collect()
    }
    assert set(out) == set(expect)
    for cid, (sim, bid) in expect.items():
        got = out[cid]
        assert got[0] == sim and got[1] == bid, (cid, got, (sim, bid))
        assert got[2] == (sim >= 0.95), (cid, got)
    assert sum(1 for v in out.values() if v[2]) == 4  # 100-103


def test_semantic_decontaminate_literal_path_has_no_shuffle(spark):
    from ferc_xbrl_extractor_spark.operators import similarity

    bdf, cdf, _ = _g42_fixture(spark)
    plan = (
        similarity.semantic_decontaminate(cdf, bdf, threshold=0.95)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_semantic_decontaminate_zero_norm_corpus_row_is_kept(spark):
    from ferc_xbrl_extractor_spark.operators import similarity

    bdf, _, _ = _g42_fixture(spark)
    zdf = spark.createDataFrame(
        [(200, [0.0] * 8)], "vec_id long, embedding array<float>"
    )
    row = similarity.semantic_decontaminate(zdf, bdf).collect()[0]
    assert row["max_bench_sim"] is None
    assert row["nearest_bench_id"] is None
    assert row["contaminated"] is False


def test_semantic_decontaminate_bounds_and_validation(spark):
    import pytest as _pytest

    from ferc_xbrl_extractor_spark.operators import similarity

    bdf, cdf, _ = _g42_fixture(spark)
    with _pytest.raises(ValueError, match="max_benchmark"):
        similarity.semantic_decontaminate(cdf, bdf, max_benchmark=2)
    zbench = spark.createDataFrame(
        [(0, [0.0] * 8)], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="zero norm"):
        similarity.semantic_decontaminate(cdf, zbench)


# ---------------------------------------------------------------------------
# G44 ranking report (MRR / NDCG)
# ---------------------------------------------------------------------------


def test_ranking_report_matches_brute_force(spark):
    import math

    from ferc_xbrl_extractor_spark.operators import similarity

    k = 5
    results = [
        # q1: relevant at ranks 1,3 of 5
        (1, 10, 1), (1, 11, 2), (1, 12, 3), (1, 13, 4), (1, 14, 5),
        # q2: nothing relevant retrieved
        (2, 20, 1), (2, 21, 2),
        # q3: perfect ranking of its 2 relevant docs
        (3, 30, 1), (3, 31, 2), (3, 32, 3),
    ]
    relevant = [
        (1, 10), (1, 12), (1, 99),       # 99 never retrieved
        (2, 77),
        (3, 30), (3, 31),
        (4, 40),                          # query absent from results
    ]
    rdf = spark.createDataFrame(
        results, "query_id long, neighbor_id long, rank int"
    )
    jdf = spark.createDataFrame(relevant, "query_id long, neighbor_id long")
    out = {
        r["query_id"]: r
        for r in similarity.ranking_report(rdf, jdf, k=k).collect()
    }

    mg = [round(1e6 / math.log2(r + 1)) for r in range(1, k + 1)]

    def expect(hit_ranks, n_rel):
        dcg = sum(mg[r - 1] for r in hit_ranks)
        idcg = sum(mg[: min(n_rel, k)])
        mrr = round(1.0 / hit_ranks[0], 4) if hit_ranks else 0.0
        return mrr, round(dcg / idcg, 4)

    assert set(out) == {1, 2, 3, 4}
    for q, hit_ranks, n_rel in [
        (1, [1, 3], 3), (2, [], 1), (3, [1, 2], 2), (4, [], 1)
    ]:
        mrr, ndcg = expect(hit_ranks, n_rel)
        row = out[q]
        assert row["n_relevant"] == n_rel
        assert row["n_hit"] == len(hit_ranks)
        assert row["mrr"] == mrr, (q, row)
        assert row["ndcg"] == ndcg, (q, row)
    assert out[3]["mrr"] == 1.0 and out[3]["ndcg"] == 1.0  # perfect


def test_ranking_report_respects_k_cutoff(spark):
    from ferc_xbrl_extractor_spark.operators import similarity

    rdf = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id long, neighbor_id long, rank int",
    )
    jdf = spark.createDataFrame(
        [(1, 12)], "query_id long, neighbor_id long"
    )
    # relevant doc sits at rank 3; with k=2 it is outside the cutoff
    row = similarity.ranking_report(rdf, jdf, k=2).collect()[0]
    assert row["n_hit"] == 0 and row["mrr"] == 0.0 and row["ndcg"] == 0.0
    row = similarity.ranking_report(rdf, jdf, k=3).collect()[0]
    assert row["n_hit"] == 1 and row["mrr"] == round(1 / 3, 4)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        similarity.ranking_report(rdf, jdf, k=0)


# ---------------------------------------------------------------------------
# G11: real PPM codec path (pure numpy — no Pillow required)
# ---------------------------------------------------------------------------


def _ppm(w, h, pattern):
    """Deterministic P6 image: pixel (x, y) = pattern(x, y) -> (r, g, b)."""
    body = bytearray()
    for y in range(h):
        for x in range(w):
            body.extend(pattern(x, y))
    return b"P6\n%d %d\n255\n" % (w, h) + bytes(body)


def test_image_dhash_and_perceptual_dedup(spark):
    """G69: the dHash fingerprint equals a direct numpy replay; an
    identical re-encode hashes to hamming 0 and a lightly-edited copy
    lands within the radius while an unrelated image does not; NULL
    content quarantines to a NULL hash; oversized bit layouts raise."""
    import numpy as np

    from ferc_xbrl_extractor_spark.operators import multimodal as mm

    # a 36x16 "photo": smooth nonlinear gradient
    base = _ppm(
        36, 16,
        lambda x, y: ((x * 7 + y * y) % 256, (x * x // 3 + y * 11) % 256,
                      (x * 3 + y * 5) % 256),
    )
    # same image with the left column band brightened — flips only the
    # (row, 0) comparison bits of the 9x8 grid, i.e. a small hamming
    edited = _ppm(
        36, 16,
        lambda x, y: (
            min(255, (x * 7 + y * y) % 256 + (200 if x < 4 else 0)),
            min(255, (x * x // 3 + y * 11) % 256 + (200 if x < 4 else 0)),
            min(255, (x * 3 + y * 5) % 256 + (200 if x < 4 else 0)),
        ),
    )
    noise = _ppm(
        36, 16,
        lambda x, y: (
            (x * 97 + y * 31) * 57 % 256,
            (x * 13 + y * 89) * 41 % 256,
            (x * 61 + y * 7) * 29 % 256,
        ),
    )
    rows = [(1, base), (2, base), (3, edited), (4, noise), (5, None)]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    got = {
        r["media_id"]: r["dhash"]
        for r in mm.image_dhash(media).collect()
    }
    assert got[5] is None
    assert got[1] == got[2] != got[4]

    # direct numpy replay of the documented recipe
    g = mm._luma(mm._nn_resize(mm.decode_ppm(base), 9, 8))
    v = 0
    for i, bit in enumerate(
        (g[:, 1:].astype(np.int16) > g[:, :-1].astype(np.int16)).flatten()
    ):
        if bit:
            v |= 1 << i
    want = v - (1 << 64) if v >= (1 << 63) else v
    assert got[1] == want

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.image_dedup_pairs(media, max_hamming=10).collect()
    }
    assert pairs[(1, 2)] == 0          # exact re-encode
    assert (1, 3) in pairs             # light edit: within radius
    assert 0 < pairs[(1, 3)] <= 10
    assert (1, 4) not in pairs         # unrelated image

    with pytest.raises(ValueError, match="64-bit"):
        mm.image_dhash(media, width=12, height=8)


def test_jpeg_codec_roundtrip_and_spec_vectors():
    """G11/G69 baseline JPEG codec (r8 verdict #7), codec-level: flat
    fields decode EXACTLY (DC-only blocks are lossless under any quant
    table), gradients round-trip within tight bounds at q90, 4:2:0 and
    restart-marker streams decode through the generic MCU walk, odd
    sizes crop correctly, and out-of-scope variants raise ValueError
    (the E1 quarantine trigger). Encoder and decoder implement forward
    and inverse paths independently (FDCT+quantize+Huffman-encode vs
    Huffman-decode+dequant+IDCT), so round-trip agreement is evidence,
    not tautology. Pillow cross-check runs where importable."""
    import numpy as np

    from ferc_xbrl_extractor_spark.operators.jpeg import (
        decode_jpeg_baseline,
        encode_jpeg_baseline,
    )

    flat = np.full((16, 24), 130, dtype=np.uint8)
    out = decode_jpeg_baseline(encode_jpeg_baseline(flat, 90))
    assert out.shape == (16, 24, 3)
    assert int(np.abs(out[..., 0].astype(int) - 130).max()) == 0

    h, w = 37, 53
    yy, xx = np.mgrid[0:h, 0:w]
    rgb = np.stack(
        [(yy * 4) % 256, (xx * 3) % 256, ((xx + yy) * 2) % 256], axis=-1
    ).astype(np.uint8)
    for sub in ("444", "420"):
        for ri in (0, 3):
            got = decode_jpeg_baseline(
                encode_jpeg_baseline(
                    rgb, 90, subsampling=sub, restart_interval=ri
                )
            )
            assert got.shape == (h, w, 3), (sub, ri)
            err = np.abs(got.astype(int) - rgb.astype(int))
            bound = 4 if sub == "444" else 16  # chroma is box-filtered
            assert err.max() <= bound, (sub, ri, err.max())
            assert err.mean() < 2.0, (sub, ri, err.mean())

    # grayscale replicates to 3 channels (the decode_ppm contract)
    g = ((yy * 5) % 256).astype(np.uint8)
    got = decode_jpeg_baseline(encode_jpeg_baseline(g, 90))
    assert (got[..., 0] == got[..., 1]).all()
    assert np.abs(got[..., 0].astype(int) - g.astype(int)).max() <= 2

    # out-of-scope variants raise (quarantinable), not crash/garbage.
    # r10: SOF2 is now SUPPORTED — the quarantine narrows to
    # lossless/differential (and a frame with no scans still raises)
    sof3 = (
        b"\xff\xd8\xff\xc3\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00"
        b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="lossless|variant"):
        decode_jpeg_baseline(sof3)
    sof2_no_scan = (
        b"\xff\xd8\xff\xc2\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00"
        b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="no SOS"):
        decode_jpeg_baseline(sof2_no_scan)
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg_baseline(b"P6 1 1 255 xxx")
    with pytest.raises(ValueError):
        decode_jpeg_baseline(
            encode_jpeg_baseline(rgb, 90)[:40]
        )  # truncated

    try:  # luma golden vs Pillow where importable (absent in CI box)
        from io import BytesIO

        from PIL import Image
    except ImportError:
        return
    pil = np.asarray(
        Image.open(BytesIO(encode_jpeg_baseline(rgb, 90))).convert("RGB")
    )
    assert np.abs(
        pil.astype(int)
        - decode_jpeg_baseline(encode_jpeg_baseline(rgb, 90)).astype(int)
    ).max() <= 2


def test_jpeg_progressive_decodes_bit_identical_to_baseline():
    """G11b r10 (r9 verdict item 4): progressive (SOF2) decode. A
    progressive stream and its baseline twin at the same quality carry
    IDENTICAL quantized coefficients, so the decoded images must be
    bit-identical — any drift in the spectral-selection bands, the
    successive-approximation refinement ladder (DC two's-complement
    OR, AC sign-magnitude corrections), or the cross-block EOB-run
    state shows up as a pixel diff. Fixtures force each path: flat
    fields (EOB runs spanning > 16 blocks), dense noise (ZRL inside
    refinement + correction bits), photo-like smooth content, odd
    sizes, grayscale, and a no-approximation custom scan script.
    Pillow cross-checks the progressive STREAM itself where
    importable."""
    import numpy as np

    from ferc_xbrl_extractor_spark.operators.jpeg import (
        decode_jpeg_baseline,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(17)
    h, w = 41, 53
    yy, xx = np.mgrid[0:h, 0:w]
    photo = np.clip(
        np.stack(
            [
                128 + 60 * np.sin(yy / 7.0) + 40 * np.cos(xx / 9.0),
                100 + 80 * np.exp(-((yy - 20) ** 2 + (xx - 30) ** 2) / 200.0),
                xx * 255.0 / w,
            ],
            axis=-1,
        )
        + rng.normal(0, 8, (h, w, 3)),
        0,
        255,
    ).astype(np.uint8)
    cases = [
        photo,
        rng.integers(0, 256, (64, 64, 3)).astype(np.uint8),  # dense
        np.full((24, 344, 3), 200, np.uint8),  # EOB run > 16 blocks
        rng.integers(0, 256, (3, 5, 3)).astype(np.uint8),  # sub-block
        rng.integers(0, 256, (33, 31)).astype(np.uint8),  # grayscale
    ]
    for img in cases:
        for q in (92, 55, 20):
            base = decode_jpeg_baseline(encode_jpeg_baseline(img, quality=q))
            prog_bytes = encode_jpeg_progressive(img, quality=q)
            assert b"\xff\xc2" in prog_bytes  # really SOF2
            prog = decode_jpeg_baseline(prog_bytes)
            assert np.array_equal(base, prog), (img.shape, q)

    # spectral selection without successive approximation
    custom = [
        ([0, 1, 2], 0, 0, 0, 0),
        ([0], 1, 63, 0, 0),
        ([1], 1, 63, 0, 0),
        ([2], 1, 63, 0, 0),
    ]
    base = decode_jpeg_baseline(encode_jpeg_baseline(photo, quality=75))
    prog = decode_jpeg_baseline(
        encode_jpeg_progressive(photo, quality=75, scans=custom)
    )
    assert np.array_equal(base, prog)

    # truncated progressive stream raises (E1 quarantine), no garbage
    pb = encode_jpeg_progressive(photo, quality=75)
    with pytest.raises(ValueError):
        decode_jpeg_baseline(pb[: len(pb) // 2])

    try:  # a FOREIGN decoder accepts our progressive stream
        from io import BytesIO

        from PIL import Image
    except ImportError:
        return
    pil = np.asarray(Image.open(BytesIO(pb)).convert("RGB"))
    ours = decode_jpeg_baseline(pb)
    assert np.abs(pil.astype(int) - ours.astype(int)).max() <= 2


@pytest.mark.slow
def test_image_pipeline_on_real_jpeg_bytes(spark):
    """G69 on real JPEG bytes end-to-end (r8 verdict #7): dHash equality
    between a PPM and a q95 JPEG of the SAME image (container-invariant
    fingerprints), perceptual dedup pairs a JPEG re-encode with its PPM
    original, features decode for real, and a truncated JPEG quarantines
    to NULL instead of killing the job."""
    import numpy as np

    from ferc_xbrl_extractor_spark.operators import multimodal as mm
    from ferc_xbrl_extractor_spark.operators.jpeg import (
        encode_jpeg_baseline,
    )

    h, w = 32, 48
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(yy * 6) % 256, (xx * 2) % 256, ((xx * yy) // 4) % 256], axis=-1
    ).astype(np.uint8)
    ppm = mm.encode_ppm(img)
    jpg = encode_jpeg_baseline(img, 95)
    rows = [(1, ppm), (2, jpg), (3, jpg[:50]), (4, None)]
    media = spark.createDataFrame(rows, "media_id long, content binary")

    got = {r["media_id"]: r["dhash"] for r in mm.image_dhash(media).collect()}
    assert got[1] is not None and got[1] == got[2]  # container-invariant
    assert got[3] is None and got[4] is None        # E1 quarantine

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.image_dedup_pairs(media, max_hamming=4).collect()
    }
    assert pairs[(1, 2)] == 0

    feats = {
        r["media_id"]: r["feature"]
        for r in mm.extract_features(media, dim=8, decode_stub=False).collect()
    }
    assert feats[3] is None
    assert feats[1] is not None and len(feats[1]) == 8
    # same image, different container: features within JPEG loss of
    # each other
    d = np.abs(np.array(feats[1]) - np.array(feats[2]))
    assert d.max() < 0.1, d.max()


@pytest.mark.slow
def test_minhash_lsh_join_cross_corpus(spark):
    """G94: cross-corpus LSH join — a near-dup pair across sides is
    found with the exact Jaccard, within-side near-dups are NOT
    reported (that is the self-join's job), disjoint texts pair with
    nothing, and id-value collisions across sides are two different
    documents, not a filtered pair (cross-engine values are the
    g94_crossdup oracle, hash-green at both scales)."""
    from ferc_xbrl_extractor_spark.operators import neardup

    a = "the quick brown fox jumps over the lazy dog in the morning sun"
    b = "completely unrelated text about database engines and shuffles"
    left = spark.createDataFrame(
        [(1, a), (2, a + " extra"), (3, b)],
        "doc_id long, text string",
    )  # 1 and 2 are WITHIN-side near-dups
    right = spark.createDataFrame(
        [(1, a + " indeed"), (10, "nothing in common with anything here at all")],
        "doc_id long, text string",
    )  # right id 1 collides with left id 1 by VALUE only
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in neardup.minhash_lsh_join(
            left, right, threshold=0.5
        ).collect()
    }
    assert (1, 1) in got and got[(1, 1)] >= 0.5
    assert (2, 1) in got            # the other left near-dup pairs too
    assert all(ib != 10 for _, ib in got)   # disjoint right doc: nothing
    assert (1, 2) not in got        # within-left pair NOT reported


@pytest.mark.slow
def test_annotator_agreement_kappa_exact(spark):
    """G95: Cohen's kappa per annotator pair equals the textbook
    formula on hand-built raters — near-perfect agreement scores high,
    an anti-correlated rater goes NEGATIVE, chance-only agreement
    lands at 0, p_e = 1 yields NULL, duplicate votes collapse to the
    min label, and min_items prunes thin pairs (cross-engine values
    are the g95_kappa oracle, hash-green at both scales)."""
    from ferc_xbrl_extractor_spark.operators.labels import (
        annotator_agreement,
    )

    l1 = ["a", "a", "b", "a", "b", "a", "a", "b", "a", "b"]
    l2 = ["a", "a", "b", "a", "b", "a", "a", "b", "b", "b"]  # 9/10
    l3 = ["b", "b", "a", "b", "a", "b", "b", "a", "b", "a"]  # inverted
    rows = []
    for i in range(10):
        rows += [(i, 1, l1[i]), (i, 2, l2[i]), (i, 3, l3[i])]
    rows += [(0, 1, "z"), (5, 9, "a")]  # dup vote (min wins); thin rater
    ann = spark.createDataFrame(
        rows, "item_id long, annotator_id long, label string"
    )
    got = {
        (r["annotator_a"], r["annotator_b"]): r.asDict()
        for r in annotator_agreement(ann, min_items=2).collect()
    }

    def ref(la, lb):
        n = len(la)
        agree = sum(x == y for x, y in zip(la, lb))
        pe = sum(la.count(k) * lb.count(k) for k in set(la) | set(lb))
        num, den = 1_000_000 * (agree * n - pe), n * n - pe
        q = abs(num) // den
        return q if num >= 0 else -q

    l1d = ["a"] + l1[1:]  # dup vote on item 0: min("a","z") = "a"
    assert got[(1, 2)]["kappa_micro"] == ref(l1d, l2) == 800000
    assert got[(1, 3)]["kappa_micro"] == ref(l1d, l3) < 0
    assert (1, 9) not in got and (2, 9) not in got  # min_items
    # p_e = 1: two raters, one identical constant label each
    const = spark.createDataFrame(
        [(i, a, "x") for i in range(3) for a in (1, 2)],
        "item_id long, annotator_id long, label string",
    )
    row = annotator_agreement(const).collect()[0]
    assert row["kappa_micro"] is None and row["n_agree"] == 3


@pytest.mark.slow
def test_annotator_agreement_past_int64_ceiling(spark):
    """G95 r10 pin (r9 ADVICE): the kappa arithmetic rides decimal(38,0),
    so a pair co-labeling 3.2M items with a 100-label near-diagonal
    confusion — whose old long-typed numerator 1e6·(A·N − pe) ≈ 1.01e19
    exceeded int64 and hard-errored under ANSI — now returns the exact
    closed-form value. Cycle of 1000 items, 3200 reps: per-pair
    pe = 10000·R², A = 999R, N = 1000R →
    kappa_micro = floor(1e6·989000/990000) = 998989."""
    from ferc_xbrl_extractor_spark.operators.labels import annotator_agreement

    N, R = 3_200_000, 3200
    ann = spark.range(N).select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id").alias("item_id"),
                    F.lit("a").alias("annotator_id"),
                    (F.col("id") % 100).alias("label"),
                ),
                F.struct(
                    F.col("id").alias("item_id"),
                    F.lit("b").alias("annotator_id"),
                    F.when(F.col("id") % 1000 == 999, F.lit(0).cast("long"))
                    .otherwise(F.col("id") % 100)
                    .alias("label"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    row = annotator_agreement(ann).collect()
    assert len(row) == 1
    row = row[0]
    assert row["n_items"] == N
    assert row["n_agree"] == 999 * R
    assert row["kappa_micro"] == (1_000_000 * 989_000) // 990_000  # 998989


@pytest.mark.slow
def test_bt_scores_semantics(spark):
    """G98: Bradley-Terry hand-pinned round-1 closed form, tie and
    abstention semantics, clamp finiteness for an undefeated player,
    and a 3-round exact replay against a Python-bigint reference of
    the same MM recurrence (the in-process twin of bt_oracle_sql)."""
    from ferc_xbrl_extractor_spark.operators.labels import bt_scores

    U = 1_000_000

    # A beats B 3-0, one round: s(A) = (6+2)·U // (3+2) = 1.6e6,
    # s(B) = (0+2)·U // 5 = 4e5; the NULL row and the self-pair drop.
    c = spark.createDataFrame(
        [("A", "B", False)] * 3 + [(None, "B", False), ("A", "A", False)],
        "winner string, loser string, tie boolean",
    )
    got = {r["player"]: r for r in bt_scores(c, tie_col="tie", iters=1).collect()}
    assert got["A"]["bt_micro"] == 1_600_000
    assert got["B"]["bt_micro"] == 400_000
    assert got["A"]["n_comparisons"] == got["B"]["n_comparisons"] == 3

    # a single tie is perfectly symmetric: both sit at the anchor
    t = spark.createDataFrame(
        [("A", "B", True)], "winner string, loser string, tie boolean"
    )
    ts = {r["player"]: r["bt_micro"] for r in bt_scores(t, tie_col="tie").collect()}
    assert ts == {"A": U, "B": U}

    # tie_col omitted == no ties; NULL tie reads as decisive
    nt = spark.createDataFrame(
        [("A", "B", None)], "winner string, loser string, tie boolean"
    )
    assert (
        bt_scores(nt, tie_col="tie", iters=1).collect()
        == bt_scores(nt.drop("tie"), iters=1).collect()
    )

    # undefeated player: pure BT diverges; the prior + clamp keep it
    # finite and inside [1, U^2] even after many rounds
    u = spark.createDataFrame(
        [("champ", f"p{i}", False) for i in range(4) for _ in range(5)],
        "winner string, loser string, tie boolean",
    )
    rows = {r["player"]: r["bt_micro"] for r in bt_scores(u, iters=5).collect()}
    assert 1 <= rows["champ"] <= U * U
    assert rows["champ"] > max(v for k, v in rows.items() if k != "champ")

    with pytest.raises(ValueError, match="iters"):
        bt_scores(c, iters=0)


@pytest.mark.slow
def test_bt_scores_matches_python_replay(spark):
    """G98 slow twin: 3-round exact equality vs a Python-bigint replay
    of the MM recurrence on a 300-comparison random fixture (the
    in-process mirror of the bt_oracle_sql gate check)."""
    from ferc_xbrl_extractor_spark.operators.labels import bt_scores

    U = 1_000_000
    import random

    rnd = random.Random(11)
    comps = []
    for _ in range(300):
        a, b = rnd.sample(range(6), 2)
        w, l = (min(a, b), max(a, b)) if rnd.random() < 0.65 else (max(a, b), min(a, b))
        comps.append((w, l, rnd.random() < 0.1))
    df = spark.createDataFrame(comps, "winner long, loser long, tie boolean")

    w2, n2 = {}, {}
    for w, l, tie in comps:
        for i, j, wu in ((w, l, 1 if tie else 2), (l, w, 1 if tie else 0)):
            w2[(i, j)] = w2.get((i, j), 0) + wu
            n2[(i, j)] = n2.get((i, j), 0) + 2
    players = sorted({i for i, _ in w2})
    W2 = {i: sum(v for (a, _), v in w2.items() if a == i) for i in players}
    N2 = {i: sum(v for (a, _), v in n2.items() if a == i) for i in players}
    s = {i: max(1, min(U * U, (W2[i] + 2) * U // (N2[i] // 2 + 2))) for i in players}
    for _ in range(2):  # rounds 2..3
        s = {
            i: max(
                1,
                min(
                    U * U,
                    (W2[i] + 2) * U * U // (
                        sum(
                            n2[(i, j)] * U * U // (s[i] + s[j])
                            for j in players
                            if (i, j) in n2
                        )
                        + 4 * U * U // (s[i] + U)
                    ),
                ),
            )
            for i in players
        }
    got = {r["player"]: r["bt_micro"] for r in bt_scores(df, tie_col="tie", iters=3).collect()}
    assert got == s


@pytest.mark.slow
def test_fleiss_kappa_exact(spark):
    """G95b: Fleiss' kappa equals a Fraction-exact reference on a
    hand-built 4-item/3-rater panel (po=2/3, pe=1/2, kappa=1/3 →
    333333 micro), the off-count item is DROPPED AND COUNTED, duplicate
    votes collapse to the min label, p_e=1 yields NULL kappa, and an
    all-singleton input raises (cross-engine values are the
    g95b_fleiss oracle, hash-green at both scales)."""
    import pytest as _pytest

    from ferc_xbrl_extractor_spark.operators.labels import fleiss_kappa

    rows = [
        (1, 1, "a"), (1, 2, "a"), (1, 3, "a"),
        (2, 1, "a"), (2, 2, "a"), (2, 3, "b"),
        (3, 1, "b"), (3, 2, "b"), (3, 3, "b"),
        (4, 1, "a"), (4, 2, "b"), (4, 3, "b"),
        (5, 1, "a"), (5, 2, "b"),            # 2 ratings -> dropped
        (1, 1, "z"),                          # dup vote: min("a","z")
    ]
    ann = spark.createDataFrame(
        rows, "item_id long, annotator_id long, label string"
    )
    r = fleiss_kappa(ann).collect()[0]
    assert r["n_items"] == 4 and r["n_raters"] == 3
    assert r["n_dropped_items"] == 1
    assert r["po_micro"] == 666666      # 2/3
    assert r["pe_micro"] == 500000      # 1/2
    assert r["kappa_micro"] == 333333   # 1/3

    const = spark.createDataFrame(
        [(i, a, "x") for i in range(3) for a in (1, 2)],
        "item_id long, annotator_id long, label string",
    )
    rc = fleiss_kappa(const).collect()[0]
    assert rc["kappa_micro"] is None and rc["po_micro"] == 1_000_000

    singles = spark.createDataFrame(
        [(i, 1, "a") for i in range(4)],
        "item_id long, annotator_id long, label string",
    )
    with _pytest.raises(ValueError, match=">= 2"):
        fleiss_kappa(singles)


@pytest.mark.slow
def test_image_phash_invariances_and_dedup(spark):
    """G96: the integer-DCT pHash is container-invariant (PPM vs q95
    JPEG of the same photo-like image: hamming 0), survives a global
    brightness shift and a q70 re-encode (≤ a few bits — dHash's
    neighbor comparisons cannot make the brightness claim for
    arbitrary kernels), separates unrelated noise (~32 bits), and the
    bucketed pair join finds exactly the planted near-dups
    (fingerprint values are the g96_image_phash oracle — a SQL replay
    of BOTH DCT stages — hash-green at both scales)."""
    import numpy as np

    from ferc_xbrl_extractor_spark.operators import multimodal as mm
    from ferc_xbrl_extractor_spark.operators.jpeg import (
        encode_jpeg_baseline,
    )

    rng = np.random.RandomState(11)
    base = rng.randint(30, 220, (8, 8, 3))
    img = np.repeat(np.repeat(base, 4, axis=0), 4, axis=1).astype(float)
    k = np.ones((5,)) / 5
    for ax in (0, 1):
        img = np.apply_along_axis(
            lambda v: np.convolve(v, k, mode="same"), ax, img
        )
    img = np.clip(img, 0, 255).astype(np.uint8)
    bright = np.clip(img.astype(int) + 25, 0, 255).astype(np.uint8)
    noise = rng.randint(0, 256, (32, 32, 3), dtype=np.uint8)
    rows = [
        (1, mm.encode_ppm(img)),
        (2, encode_jpeg_baseline(img, 95)),
        (3, encode_jpeg_baseline(img, 70)),
        (4, mm.encode_ppm(bright)),
        (5, mm.encode_ppm(noise)),
        (6, None),
    ]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    got = {
        r["media_id"]: r["phash"]
        for r in mm.image_phash(media).collect()
    }

    def ham(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    assert got[6] is None
    assert got[1] == mm._phash_pack(
        mm._decode_gray(rows[0][1], 32, 32)
    )  # spark ≡ direct numpy replay
    assert ham(got[1], got[2]) == 0          # container-invariant
    assert ham(got[1], got[3]) <= 4          # q70 re-encode
    assert ham(got[1], got[4]) <= 4          # brightness +25
    assert ham(got[1], got[5]) >= 20         # unrelated
    pairs = {
        (r["id_a"], r["id_b"])
        for r in mm.image_phash_dedup_pairs(media, max_hamming=6).collect()
    }
    assert {(1, 2), (1, 3), (2, 3)} <= pairs
    assert all(5 not in p for p in pairs)


@pytest.mark.slow
def test_png_codec_and_pipeline(spark):
    """G11/G69 PNG path: lossless round-trip through the stdlib-zlib
    codec is pixel-exact for RGB and grayscale; all five filter types
    decode (exercised by hand-built scanlines); palette and RGBA
    inputs decode; PPM/JPEG/PNG containers of the SAME image hash to
    the SAME dhash/phash; interlaced and 16-bit variants quarantine to
    NULL per E1."""
    import struct as _struct
    import zlib as _zlib

    import numpy as np

    from ferc_xbrl_extractor_spark.operators import multimodal as mm
    from ferc_xbrl_extractor_spark.operators.jpeg import (
        decode_png,
        encode_jpeg_baseline,
        encode_png,
    )

    rng = np.random.RandomState(11)
    base = rng.randint(30, 220, (8, 8, 3))
    img = np.repeat(np.repeat(base, 4, axis=0), 4, axis=1).astype(
        np.uint8
    )
    assert (decode_png(encode_png(img)) == img).all()

    def chunk(tag, data):
        return (
            _struct.pack(">I", len(data)) + tag + data
            + _struct.pack(">I", _zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"

    # every filter type on a 5x3 RGB image: rows use filters 0..4
    rows_px = rng.randint(0, 256, (5, 3, 3), dtype=np.uint8)
    # build filtered scanlines by applying the spec's forward filters
    raw = bytearray()
    prev = np.zeros(9, np.int64)
    for y, f in enumerate([0, 1, 2, 3, 4]):
        cur = rows_px[y].reshape(-1).astype(np.int64)
        if f == 0:
            enc = cur.copy()
        elif f == 1:
            enc = cur.copy()
            enc[3:] = (cur[3:] - cur[:-3]) % 256
        elif f == 2:
            enc = (cur - prev) % 256
        elif f == 3:
            enc = cur.copy()
            for x in range(9):
                left = cur[x - 3] if x >= 3 else 0
                enc[x] = (cur[x] - ((left + prev[x]) >> 1)) % 256
        else:
            enc = cur.copy()
            for x in range(9):
                a = cur[x - 3] if x >= 3 else 0
                b_ = prev[x]
                c_ = prev[x - 3] if x >= 3 else 0
                pp = a + b_ - c_
                pa, pb, pc = abs(pp - a), abs(pp - b_), abs(pp - c_)
                pr = a if (pa <= pb and pa <= pc) else (
                    b_ if pb <= pc else c_
                )
                enc[x] = (cur[x] - pr) % 256
        raw += bytes([f]) + bytes(enc.astype(np.uint8))
        prev = cur
    ihdr = _struct.pack(">IIBBBBB", 3, 5, 8, 2, 0, 0, 0)
    flt_png = (
        sig + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert (decode_png(flt_png) == rows_px).all()

    # palette + RGBA color types
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    praw = _zlib.compress(b"\x00\x00\x01\x02" + b"\x00\x02\x01\x00")
    pal_png = (
        sig
        + chunk(b"IHDR", _struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte) + chunk(b"IDAT", praw) + chunk(b"IEND", b"")
    )
    out = decode_png(pal_png)
    assert out.shape == (2, 3, 3) and tuple(out[0, 1]) == (0, 255, 0)

    # E1: interlaced and 16-bit quarantine (ValueError -> NULL via
    # _decode_rgb_builtin -> dhash NULL)
    inter = (
        sig
        + chunk(b"IHDR", _struct.pack(">IIBBBBB", 3, 2, 8, 2, 0, 0, 1))
        + chunk(b"IDAT", praw) + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="interlace"):
        decode_png(inter)

    # container-invariant hashes, through Spark
    rows = [
        (1, mm.encode_ppm(img)),
        (2, encode_png(img)),
        (3, encode_jpeg_baseline(img, 95)),
        (4, inter),
    ]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    d = {r["media_id"]: r["dhash"] for r in mm.image_dhash(media).collect()}
    assert d[1] == d[2] and d[4] is None     # PNG is lossless: exact
    ham = bin((d[1] ^ d[3]) & ((1 << 64) - 1)).count("1")
    assert ham <= 8, ham                     # JPEG is lossy: near, not exact
    ph = {r["media_id"]: r["phash"] for r in mm.image_phash(media).collect()}
    assert ph[1] == ph[2] and ph[4] is None


@pytest.mark.slow
def test_gif_codec_and_pipeline(spark):
    """G11 GIF path: palette round-trip through the LZW codec is
    pixel-exact (incl. grayscale and a full 256-color palette), the
    interlaced row order is undone (hand-built 4-pass fixture), a GIF
    of the same image dhashes identically to its PPM, truncated GIFs
    quarantine, and >256-color encode raises."""
    import struct as _struct

    import numpy as np

    from ferc_xbrl_extractor_spark.operators import multimodal as mm
    from ferc_xbrl_extractor_spark.operators.jpeg import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.RandomState(5)
    img = (rng.randint(0, 6, (21, 33, 3)) * 51).astype(np.uint8)
    assert (decode_gif(encode_gif(img)) == img).all()
    # full 256-entry palette round-trips
    g256 = np.arange(256, dtype=np.uint8).reshape(16, 16)
    assert (decode_gif(encode_gif(g256))[..., 0] == g256).all()

    # interlace: take a sequential encode, flip the interlace flag and
    # reorder the index rows into the 4-pass order by re-encoding
    # manually (encoder writes flag 0; build the interlaced variant by
    # permuting rows THEN setting the flag — decode must undo it)
    order = [r for s_, t in ((0, 8), (4, 8), (2, 4), (1, 2))
             for r in range(s_, 21, t)]
    permuted = img[order]
    enc = bytearray(encode_gif(permuted))
    # image descriptor flags byte: 6 header + 7 lsd + 3*256?? locate by
    # structure: b"\x2c" block after the palette
    i = enc.index(0x2C, 13)
    enc[i + 9] |= 0x40  # set interlace on the descriptor
    assert (decode_gif(bytes(enc)) == img).all()

    with pytest.raises(ValueError, match="256"):
        encode_gif(rng.randint(0, 256, (32, 32, 3)).astype(np.uint8))

    # Spark pipeline: container-invariant dhash, E1 quarantine
    gif = encode_gif(img)
    rows = [(1, mm.encode_ppm(img)), (2, gif), (3, gif[:20]), (4, None)]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    d = {r["media_id"]: r["dhash"] for r in mm.image_dhash(media).collect()}
    assert d[1] == d[2] and d[3] is None and d[4] is None


def test_video_frame_hashes_and_perceptual_dedup(spark):
    """G71: per-frame dHashes equal the image recipe applied to each
    decoded frame; a re-encode matches on every frame, a brightness
    shift still matches (comparisons are shift-invariant), a one-frame
    overlap stays under min_matched_frames, and NULL blobs contribute
    no rows."""
    import numpy as np

    from ferc_xbrl_extractor_spark.operators import multimodal as mm

    def frame(seed):
        y = np.fromfunction(
            lambda r, c: (seed * 7 + r * 29 + c * c) % 240, (8, 9)
        ).astype(np.uint8)
        flat = np.full((8, 9), 128, np.uint8)
        return (y, flat, flat)  # grayscale C444

    vid = lambda *seeds: mm.encode_y4m([frame(s) for s in seeds])
    base = vid(1, 2, 3)
    bright = mm.encode_y4m(
        [(np.minimum(y + 9, 255).astype(np.uint8), u, v)
         for y, u, v in [frame(s) for s in (1, 2, 3)]]
    )
    partial = vid(1, 50, 60)   # only frame 0 in common
    other = vid(80, 81, 82)
    rows = [(1, base), (2, base), (3, bright), (4, partial), (5, other),
            (6, None)]
    media = spark.createDataFrame(rows, "media_id long, content binary")

    fh = {
        (r["media_id"], r["frame_idx"]): r["dhash"]
        for r in mm.video_frame_hashes(media).collect()
    }
    assert {m for m, _f in fh} == {1, 2, 3, 4, 5}  # NULL blob -> no rows
    assert all((m, f) in fh for m in (1, 2) for f in (0, 1, 2))
    # per-frame hash == the image recipe on the decoded frame
    _fn, _fd, frames = mm.decode_y4m(base)
    want0 = mm._dhash_pack(mm._luma(mm._nn_resize(frames[0], 9, 8)))
    assert fh[(1, 0)] == want0
    # a uniform +9 brightness shift preserves every comparison bit
    assert all(fh[(3, f)] == fh[(1, f)] for f in (0, 1, 2))

    pairs = {
        (r["id_a"], r["id_b"]): r["n_matched"]
        for r in mm.video_dedup_pairs(media, min_matched_frames=2).collect()
    }
    assert pairs[(1, 2)] == 3 and pairs[(1, 3)] == 3
    assert (1, 4) not in pairs   # single shared frame < min_matched
    assert (1, 5) not in pairs   # unrelated
    # lowering the bar surfaces the partial overlap
    loose = {
        (r["id_a"], r["id_b"]): r["n_matched"]
        for r in mm.video_dedup_pairs(media, min_matched_frames=1).collect()
    }
    assert loose[(1, 4)] == 1
    with pytest.raises(ValueError, match="every"):
        mm.video_frame_hashes(media, every=0)


def test_malformed_media_quarantines_not_crashes(spark):
    """Decode quarantine (review fix): a corrupt/truncated blob must
    fingerprint to NULL (image/audio) or contribute no rows (video) —
    one bad upload can't kill a corpus-wide dedup job — while NULL/empty
    content keeps its documented NULL path."""
    from ferc_xbrl_extractor_spark.operators import multimodal as mm

    bad_ppm = b"P6 garbage-not-a-header"
    bad_wav = b"RIFFxxxxWAVEjunk"
    bad_y4m = b"YUV4MPEG2 not-actually-a-stream"
    media = spark.createDataFrame(
        [(1, bytearray(bad_ppm)), (2, None)], "media_id long, content binary"
    )
    got = {
        r["media_id"]: r["dhash"]
        for r in mm.image_dhash(media, content_col="content").collect()
    }
    assert got == {1: None, 2: None}

    audio = spark.createDataFrame(
        [(1, bytearray(bad_wav)), (2, None)], "media_id long, content binary"
    )
    gota = {
        r["afp"]
        for r in mm.audio_fingerprint(audio, content_col="content").collect()
    }
    assert gota == {None}

    video = spark.createDataFrame(
        [(1, bytearray(bad_y4m))], "media_id long, content binary"
    )
    assert mm.video_frame_hashes(video, content_col="content").count() == 0


def test_audio_fingerprint_and_perceptual_dedup(spark):
    """G70: the envelope dHash equals a direct numpy replay; an exact
    re-encode pairs at hamming 0 and a small gain shift lands within
    the radius while an unrelated clip does not; NULL/too-short clips
    quarantine to NULL; frame-budget validation raises."""
    import numpy as np

    from ferc_xbrl_extractor_spark.operators import multimodal as mm

    rng = np.random.RandomState(7)
    sig = (
        (np.sin(np.arange(400) / 9.0) * 1500)
        + (np.sin(np.arange(400) / 2.3) * 400)
    ).astype(np.int64)
    base = mm.encode_wav(8000, sig)
    shifted = mm.encode_wav(8000, (sig * 0.95).astype(np.int64))  # gain -5%
    noise = mm.encode_wav(8000, rng.randint(-1800, 1800, 400).astype(np.int64))
    short = mm.encode_wav(8000, sig[:10])  # < frames samples
    rows = [(1, base), (2, base), (3, shifted), (4, noise), (5, short),
            (6, None)]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    got = {
        r["media_id"]: r["afp"]
        for r in mm.audio_fingerprint(media).collect()
    }
    assert got[5] is None and got[6] is None
    assert got[1] == got[2]

    # direct replay of the documented recipe
    _r, samples = mm.decode_wav(base)
    ch0 = samples[:, 0].astype(np.int64)
    idx = (np.arange(len(ch0)) * 65) // len(ch0)
    sums = np.zeros(65, dtype=np.int64)
    np.add.at(sums, idx, np.abs(ch0))
    counts = np.bincount(idx, minlength=65).astype(np.int64)
    means = sums // counts
    v = 0
    for k in range(64):
        if means[k + 1] > means[k]:
            v |= 1 << k
    want = v - (1 << 64) if v >= (1 << 63) else v
    assert got[1] == want

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.audio_dedup_pairs(media, max_hamming=10).collect()
    }
    assert pairs[(1, 2)] == 0           # exact re-encode
    assert (1, 3) in pairs              # small gain shift: within radius
    assert pairs[(1, 3)] <= 10
    assert (1, 4) not in pairs          # unrelated clip

    with pytest.raises(ValueError, match="frames"):
        mm.audio_fingerprint(media, frames=80)


def test_ppm_codec_roundtrip_and_comments():
    import numpy as np

    from ferc_xbrl_extractor_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    img = _ppm(3, 2, lambda x, y: (x * 10, y * 20, 255 - x))
    arr = decode_ppm(img)
    assert arr.shape == (2, 3, 3)
    assert tuple(arr[1, 2]) == (20, 20, 253)
    assert decode_ppm(encode_ppm(arr)).tolist() == arr.tolist()
    # netpbm comments + arbitrary whitespace in the header
    commented = b"P6 # a comment\n# another\n 3\t2 #wh\n255\n" + img.split(
        b"255\n", 1
    )[1]
    assert decode_ppm(commented).tolist() == arr.tolist()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="P6"):
        decode_ppm(b"P3\n1 1\n255\n0 0 0")
    with _pytest.raises(ValueError, match="maxval"):
        decode_ppm(b"P6\n1 1\n65535\n\x00\x00")
    assert isinstance(np.asarray(arr), np.ndarray)


def test_extract_features_real_ppm_kernel(spark):
    from ferc_xbrl_extractor_spark.operators import multimodal

    # constant-gray image: every feature value = luma/128 - 1, exactly
    img = _ppm(8, 2, lambda x, y: (100, 100, 100))
    df = spark.createDataFrame(
        [(1, bytearray(img)), (2, None)], "media_id long, content binary"
    )
    media = multimodal.media_table_from_binary(
        df, "media_id", "content", "image", "image/x-portable-pixmap"
    )
    feats = {
        r["media_id"]: r
        for r in multimodal.extract_features(
            media, dim=4, decode_stub=False
        ).collect()
    }
    expect = 100 / 128.0 - 1.0  # luma of (100,100,100) is 100
    assert feats[1]["feature"] == [expect] * 4
    assert feats[2]["feature"] is None
    assert feats[1]["n_bytes"] == len(img)


def test_real_kernel_unsupported_format_raises_without_pil(spark):
    """A format with NO built-in codec (BMP) raises the documented
    NotImplementedError; a MALFORMED instance of a built-in format
    (fake PNG bytes) quarantines to NULL instead (E1) — since r9 the
    PNG/JPEG/GIF magics route to the built-in codecs, so their failures
    are data problems, not capability problems."""
    import pytest as _pytest

    from ferc_xbrl_extractor_spark.operators import multimodal

    if multimodal._PILImage is not None:
        _pytest.skip("Pillow present: non-PPM formats are supported")
    bmp = spark.createDataFrame(
        [(1, bytearray(b"BM-not-really-a-bitmap"))],
        "media_id long, content binary",
    )
    media = multimodal.media_table_from_binary(
        bmp, "media_id", "content", "image", "image/bmp"
    )
    with _pytest.raises(Exception, match="PPM|Pillow"):
        multimodal.extract_features(media, dim=4, decode_stub=False).collect()
    fake_png = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG\r\n\x1a\nnotreally"))],
        "media_id long, content binary",
    )
    media2 = multimodal.media_table_from_binary(
        fake_png, "media_id", "content", "image", "image/png"
    )
    feats = multimodal.extract_features(
        media2, dim=4, decode_stub=False
    ).collect()
    assert len(feats) == 1 and feats[0]["feature"] is None


def test_wav_codec_roundtrip_and_chunk_walk():
    import numpy as np

    from ferc_xbrl_extractor_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    t = np.arange(1600)
    sine = (10000 * np.sin(2 * np.pi * 440 * t / 16000)).astype(np.int64)
    b = encode_wav(16000, sine)
    rate, samples = decode_wav(b)
    assert rate == 16000 and samples.shape == (1600, 1)
    assert np.array_equal(samples[:, 0], sine)
    # an extra chunk between fmt and data must be skipped (RIFF walk)
    hdr_end = b.index(b"data")
    extra = b"LIST" + (5).to_bytes(4, "little") + b"INFOx" + b"\x00"  # padded
    patched = b[:hdr_end] + extra + b[hdr_end:]
    rate2, samples2 = decode_wav(patched)
    assert rate2 == 16000 and np.array_equal(samples2, samples)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"nope")
    with _pytest.raises(ValueError, match="PCM only"):
        # format code 3 = IEEE float
        decode_wav(b[:20] + (3).to_bytes(2, "little") + b[22:])


def test_extract_audio_features_real_wav_kernel(spark):
    import numpy as np

    from ferc_xbrl_extractor_spark.operators import multimodal

    # constant DC signal: RMS == amplitude in every window, 0 crossings;
    # alternating signal: maximal crossings
    dc = np.full(8000, 1000, dtype=np.int64)
    alt = np.tile([5000, -5000], 4000).astype(np.int64)
    df = spark.createDataFrame(
        [
            (1, bytearray(multimodal.encode_wav(16000, dc))),
            (2, bytearray(multimodal.encode_wav(8000, alt))),
            (3, None),
        ],
        "media_id long, content binary",
    )
    media = multimodal.media_table_from_binary(
        df, "media_id", "content", "audio", "audio/wav"
    )
    out = {
        r["media_id"]: r
        for r in multimodal.extract_audio_features(
            media, windows=4, decode_stub=False
        ).collect()
    }
    assert out[1]["sample_rate"] == 16000
    assert out[1]["n_samples"] == 8000
    assert out[1]["duration_ms"] == 500
    assert out[1]["rms"] == [1000.0] * 4
    assert out[1]["zero_crossings"] == [0] * 4
    assert out[2]["duration_ms"] == 1000
    assert out[2]["rms"] == [5000.0] * 4
    # alternating sign flips between every adjacent pair: 1999 per window
    assert out[2]["zero_crossings"] == [1999] * 4
    assert out[3]["sample_rate"] is None and out[3]["rms"] is None


def test_extract_audio_features_stub_is_deterministic(spark):
    from ferc_xbrl_extractor_spark.operators import multimodal

    df = spark.createDataFrame(
        [(1, bytearray(b"opaque-bytes"))], "media_id long, content binary"
    )
    media = multimodal.media_table_from_binary(
        df, "media_id", "content", "audio", "audio/ogg"
    )
    a = multimodal.extract_audio_features(media, windows=4).collect()[0]
    b = multimodal.extract_audio_features(media, windows=4).collect()[0]
    assert a == b and len(a["rms"]) == 4


@pytest.mark.slow
def test_image_dedup_pipeline_with_real_codec(spark):
    """End-to-end multimodal dedup, every stage real: PPM decode ->
    luma-pixel features -> embedding-cosine near-dup pairs -> connected-
    component survivor selection. Near-copies of the same image dedup;
    distinct images survive."""
    from ferc_xbrl_extractor_spark.operators import multimodal, neardup
    from ferc_xbrl_extractor_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    def grad(dx):  # horizontal gradient image, shifted by dx
        return _ppm(16, 4, lambda x, y: ((x * 16 + dx) % 256,) * 3)

    def checker(inv):
        return _ppm(
            16, 4,
            lambda x, y: (255, 255, 255)
            if ((x + y) % 2 == 0) != inv else (0, 0, 0),
        )

    rows = [
        (1, bytearray(grad(0))), (2, bytearray(grad(1))),   # near-copies
        (3, bytearray(checker(False))),                     # distinct
        (4, bytearray(checker(False))),                     # exact copy of 3
        (5, bytearray(checker(True))),                      # anti-phase
    ]
    media = multimodal.media_table_from_binary(
        spark.createDataFrame(rows, "media_id long, content binary"),
        "media_id", "content", "image", "image/x-portable-pixmap",
    )
    feats = multimodal.extract_features(media, dim=16, decode_stub=False)
    emb = feats.select(
        F.col("media_id").alias("vec_id"), F.col("feature").alias("embedding")
    )
    pairs = embedding_neardup_pairs(emb, threshold=0.999)
    survivors = neardup.dedup_by_pairs(emb, pairs, id_col="vec_id")
    ids = sorted(r["vec_id"] for r in survivors.collect())
    # 2 collapses into 1 (shifted gradient ~ identical), 4 into 3 (exact);
    # 5's anti-phase checkerboard is anticorrelated -> kept
    assert ids == [1, 3, 5]


def test_y4m_codec_and_frame_extraction(spark):
    import numpy as np

    from ferc_xbrl_extractor_spark.operators import multimodal

    # 3 solid-color 4x2 frames at 2 fps, C444: gray, "red-ish", "blue-ish"
    h, w = 2, 4
    mk = lambda y, u, v: (  # noqa: E731
        np.full((h, w), y), np.full((h, w), u), np.full((h, w), v)
    )
    frames = [mk(128, 128, 128), mk(81, 90, 240), mk(41, 240, 110)]
    b = multimodal.encode_y4m(frames, fps=(2, 1), chroma="444")

    fn, fd, decoded = multimodal.decode_y4m(b)
    assert (fn, fd) == (2, 1) and len(decoded) == 3
    # gray frame: U=V=128 -> R=G=B=Y
    assert np.all(decoded[0] == 128)
    # red frame (BT.601: Y81 U90 V240 ~ pure red)
    r, g, bl = decoded[1][0, 0]
    assert r > 230 and g < 30 and bl < 30, decoded[1][0, 0]


def test_y4m_c420_chroma_upsampling(spark):
    import numpy as np

    from ferc_xbrl_extractor_spark.operators import multimodal

    # C420: one 4x4 frame, chroma planes are 2x2
    y = np.full((4, 4), 128, dtype=np.uint8)
    u = np.full((2, 2), 128, dtype=np.uint8)
    v = np.full((2, 2), 240, dtype=np.uint8)
    b = multimodal.encode_y4m([(y, u, v)], fps=(1, 1), chroma="420")
    _, _, frames = multimodal.decode_y4m(b)
    assert frames[0].shape == (4, 4, 3)
    # V=240 lifts red uniformly after 2x2 upsample
    assert np.all(frames[0][..., 0] > 250)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="YUV4MPEG2"):
        multimodal.decode_y4m(b"not a stream")
    with _pytest.raises(ValueError, match="chroma"):
        multimodal.decode_y4m(
            b"YUV4MPEG2 W2 H2 F1:1 C422\nFRAME\n" + b"\x00" * 8
        )


def test_video_to_image_feature_pipeline_real(spark):
    """Video -> frames -> image features, every codec real: decoded Y4M
    frames feed the PPM feature kernel directly."""
    import numpy as np

    from ferc_xbrl_extractor_spark.operators import multimodal

    h, w = 2, 4
    mk = lambda yv: (  # noqa: E731
        np.full((h, w), yv), np.full((h, w), 128), np.full((h, w), 128)
    )
    b = multimodal.encode_y4m([mk(64), mk(192)], fps=(1, 1), chroma="444")
    _, _, frames = multimodal.decode_y4m(b)
    ppms = [(700 + i, bytearray(multimodal.encode_ppm(f))) for i, f in enumerate(frames)]
    media = multimodal.media_table_from_binary(
        spark.createDataFrame(ppms, "media_id long, content binary"),
        "media_id", "content", "image", "image/x-portable-pixmap",
    )
    feats = {
        r["media_id"]: r["feature"]
        for r in multimodal.extract_features(
            media, dim=2, decode_stub=False
        ).collect()
    }
    # gray frames: every pixel = Y, so feature = Y/128 - 1 exactly
    assert feats[700] == [64 / 128.0 - 1.0] * 2
    assert feats[701] == [192 / 128.0 - 1.0] * 2


def test_curate_cli_manifest_publish_is_idempotent(spark, tmp_path, capsys):
    import json as _json
    import os

    from ferc_xbrl_extractor_spark.curate_cli import parse, run_main
    from ferc_xbrl_extractor_spark.pipeline import shards as sh

    src = str(tmp_path / "in2")
    spark.createDataFrame(
        [
            (i, f"document {i} with many interesting distinct words "
                f"a{i} b{i} c{i} d{i} e{i}", "web")
            for i in range(8)
        ],
        "doc_id long, text string, source string",
    ).write.parquet(src)

    out = str(tmp_path / "out2")
    argv = [src, "--output", out, "--min-tokens", "5",
            "--min-uniq-ratio", "0", "--max-stopword-ratio", "1",
            "--shards", "2", "--output-format", "parquet", "--manifest"]
    assert run_main(parse(argv)) == 0
    s1 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s1["published"] is True
    assert os.path.exists(os.path.join(out, sh.MANIFEST_NAME))
    assert sh.verify_shards(spark, out)["ok"]
    # a retried run skips the write and reports the committed fingerprint
    assert run_main(parse(argv)) == 0
    s2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s2["published"] is False
    assert s2["fingerprint"] == s1["fingerprint"]


def test_split_leakage_report_matrix(spark):
    from ferc_xbrl_extractor_spark.operators import neardup

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "train"),
            (2, "completely different words entirely here now", "train"),
            (3, "the quick brown fox jumps over the lazy dog", "test"),
            (4, "unrelated validation content nothing shared at all", "val"),
        ],
        "doc_id long, text string, split string",
    )
    out = {
        (r["split_a"], r["split_b"]): (r["n_leaky_docs"], r["n_docs_a"],
                                       r["leak_ratio"])
        for r in neardup.split_leakage_report(
            docs, n=3, min_overlap=3
        ).collect()
    }
    # all 6 ordered pairs reported, zero-leak pairs explicit
    assert set(out) == {
        ("train", "test"), ("train", "val"), ("test", "train"),
        ("test", "val"), ("val", "train"), ("val", "test"),
    }
    assert out[("train", "test")] == (1, 2, 0.5)   # doc 1 leaks into test
    assert out[("test", "train")] == (1, 1, 1.0)   # doc 3 is doc 1
    assert out[("train", "val")] == (0, 2, 0.0)
    assert out[("val", "train")] == (0, 1, 0.0)
    assert out[("test", "val")] == (0, 1, 0.0)

    # no cartesian/BNLJ anywhere: the pair scaffold is a constant-key
    # equi join
    plan = (
        neardup.split_leakage_report(docs, n=3, min_overlap=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.slow
def test_leakage_safe_split_colocates_clusters(spark):
    from ferc_xbrl_extractor_spark.operators import neardup, sampling

    # 40 docs; ids i and i+100 are exact duplicates for i in 0..19, so
    # each pair must land in ONE split regardless of where the per-doc
    # hashes would have put them individually.
    # per-doc-unique tokens: no cross-doc shingle overlap except the
    # injected exact duplicates, so the closing leakage audit is clean
    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(8))) for i in range(20)
    ]
    rows += [(i + 100, t) for i, t in rows]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = neardup.jaccard_pairs(docs, n=3, threshold=0.8)
    fr = {"train": 0.6, "val": 0.2, "test": 0.2}

    out = sampling.leakage_safe_split(
        docs, pairs, fr, salt="t:", cluster_col="cluster"
    )
    got = {r["doc_id"]: (r["cluster"], r["split"]) for r in out.collect()}
    assert len(got) == 40  # disjoint + exhaustive: every doc, exactly once
    for i in range(20):
        assert got[i] == got[i + 100]  # co-located, same cluster label
        assert got[i][0] == i  # component min-id
    # the naive per-doc split DOES separate at least one duplicate pair
    # on this fixture (otherwise the operator would be vacuous here)
    naive = {
        r["doc_id"]: r["split"]
        for r in sampling.split_by_hash(docs, fr, salt="t:").collect()
    }
    assert any(naive[i] != naive[i + 100] for i in range(20))

    # singletons keep their split_by_hash assignment (cluster == own id)
    solo = spark.createDataFrame(
        [(7, "totally unshared words in this body only")],
        "doc_id long, text string",
    )
    empty_pairs = pairs.filter(F.lit(False))
    s = sampling.leakage_safe_split(solo, empty_pairs, fr, salt="t:")
    n = sampling.split_by_hash(solo, fr, salt="t:").select("doc_id", "split")
    assert s.select("doc_id", "split").collect() == n.collect()

    # audit loop closes: the leakage matrix over the safe split is all-zero
    leaks = neardup.split_leakage_report(
        out.select("doc_id", "text", "split"), n=3, min_overlap=1
    )
    assert leaks.agg(F.sum("n_leaky_docs")).first()[0] == 0


@pytest.mark.slow
def test_select_to_token_budget_matches_brute_force(spark):
    import random

    from ferc_xbrl_extractor_spark.operators import sampling

    rng = random.Random(48)
    # tie-heavy scores (only 5 distinct values) so band boundaries and the
    # window tiebreak both get exercised; a few NULL scores sort last
    rows = [
        (i, rng.randint(1, 40), rng.choice([0.1, 0.2, 0.2, 0.3, 0.5, None]))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long, score double")

    def brute(budget):
        order = sorted(
            rows, key=lambda r: (r[2] is None, -(r[2] or 0.0), r[0])
        )
        keep, cum = set(), 0
        for i, t, _s in order:
            if cum < budget:
                keep.add(i)
            cum += t
        return keep

    total = sum(t for _, t, _ in rows)
    for budget in (0, 1, total // 3, total - 1, total, total + 100):
        got = {
            r["doc_id"]
            for r in sampling.select_to_token_budget(
                df, budget, score_col="score", num_buckets=8
            ).collect()
        }
        assert got == brute(budget), f"budget={budget}"

    with pytest.raises(ValueError):
        sampling.select_to_token_budget(df, -1, score_col="score")


def test_dsir_weights_match_python_reference(spark):
    import hashlib
    import math

    from ferc_xbrl_extractor_spark.operators import sampling

    rows = [
        (1, "physics of stars and galaxies"),
        (2, "stars and galaxies shine bright"),
        (3, "tax forms and filing deadlines"),
        (4, "filing tax paperwork deadlines soon"),
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = docs.filter(F.col("doc_id") <= 2)  # the "astronomy" domain
    B = 64

    def feats(text):
        w = [t for t in text.split() if t]
        grams = w + [f"{a} {b}" for a, b in zip(w, w[1:])]
        return [
            int(hashlib.md5(f"dsir:{g}".encode()).hexdigest()[:15], 16) % B
            for g in grams
        ]

    raw = [b for _, t in rows for b in feats(t)]
    tgt = [b for i, t in rows if i <= 2 for b in feats(t)]
    cr = {b: raw.count(b) for b in set(raw)}
    ct = {b: tgt.count(b) for b in set(tgt)}
    tr, tt = len(raw), len(tgt)

    def micro(b):
        return round(
            (
                math.log((ct.get(b, 0) + 1) / (tt + B))
                - math.log((cr[b] + 1) / (tr + B))
            )
            * 1e6
        )

    expect = {
        i: (sum(micro(b) for b in feats(t)), len(feats(t))) for i, t in rows
    }
    got = {
        r["doc_id"]: (r["dsir_logw_micro"], r["n_feats"])
        for r in sampling.dsir_weights(docs, target, n_buckets=B).collect()
    }
    assert got == expect
    # target-like docs must outrank off-domain docs
    assert min(got[1][0], got[2][0]) > max(got[3][0], got[4][0])
    assert got[5] == (0, 0)  # empty doc: no features, weight 0


@pytest.mark.slow
def test_hard_negative_pairs_roles_and_ranks(spark):
    from ferc_xbrl_extractor_spark.operators import similarity

    # 2-d vectors: label A near (1,0), label B near (0,1); anchor 0 is A
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], "A"),
            (1, [0.9, 0.1], "A"),
            (2, [0.8, 0.3], "A"),
            (3, [0.1, 1.0], "B"),
            (4, [0.4, 0.9], "B"),
            (5, [0.0, 1.0], None),
        ],
        "vec_id long, embedding array<float>, label string",
    )
    anchors = emb.filter(F.col("vec_id") == 0)
    out = similarity.hard_negative_pairs(
        emb, anchors, k_neg=2, n_pos=1
    ).collect()
    by_role = {}
    for r in out:
        by_role.setdefault(r["role"], []).append(r)
    # positive: the closest same-label vector (1), exactly n_pos of them
    assert [r["neighbor_id"] for r in by_role["pos"]] == [1]
    # negatives: hardest different-label first — 4 points more toward A
    # than 3 or 5; NULL label counts as a negative for a labeled anchor
    negs = sorted(by_role["neg"], key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in negs] == [4, 3]
    assert all(r["role"] == "neg" for r in negs)
    assert {r["rank"] for r in negs} == {1, 2}

    # NULL-label anchor: NULL pairs with NULL as 'pos'
    nanchor = emb.filter(F.col("vec_id") == 5)
    nout = similarity.hard_negative_pairs(emb, nanchor, k_neg=2, n_pos=1)
    pos = [r for r in nout.collect() if r["role"] == "pos"]
    assert pos == []  # vec 5 is the only NULL-label vector (self excluded)


def test_score_buckets_ntile_thirds(spark):
    from ferc_xbrl_extractor_spark.operators import sampling

    rows = [(i, "en" if i % 2 == 0 else "fr", float(i)) for i in range(18)]
    rows.append((100, "en", None))  # NULL score sorts last
    df = spark.createDataFrame(rows, "doc_id long, lang string, s double")

    out = {
        r["doc_id"]: r["bucket"]
        for r in sampling.score_buckets(df, "s", by="lang").collect()
    }
    # en stratum: scores 16,14,...,0 then NULL -> 10 rows, ntile(3)=4/3/3
    en_order = [16, 14, 12, 10, 8, 6, 4, 2, 0, 100]
    for pos, i in enumerate(en_order):
        expect = "head" if pos < 4 else ("middle" if pos < 7 else "tail")
        assert out[i] == expect, (i, out[i])
    # fr stratum: 9 rows, 3/3/3
    fr_order = [17, 15, 13, 11, 9, 7, 5, 3, 1]
    for pos, i in enumerate(fr_order):
        expect = ("head", "middle", "tail")[pos // 3]
        assert out[i] == expect


@pytest.mark.slow
def test_dedup_by_pairs_best_keep_policy(spark):
    from ferc_xbrl_extractor_spark.operators import neardup

    df = spark.createDataFrame(
        [
            (1, 10.0), (2, 30.0), (3, 20.0),   # component {1,2,3}: 2 wins
            (4, None), (5, None),              # all-NULL component: min id 4
            (6, 7.0), (7, 7.0),                # tie: min id 6
            (8, 1.0),                          # singleton survives
        ],
        "doc_id long, q double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 7)], "id_a long, id_b long"
    )
    got = sorted(
        r["doc_id"]
        for r in neardup.dedup_by_pairs_best(df, pairs, keep_by="q").collect()
    )
    assert got == [2, 4, 6, 8]
    # min-id form keeps 1 instead of 2 on the scored component
    naive = sorted(
        r["doc_id"] for r in neardup.dedup_by_pairs(df, pairs).collect()
    )
    assert naive == [1, 4, 6, 8]


@pytest.mark.slow
def test_curate_corpus_keep_by_and_token_budget_stages(spark):
    from ferc_xbrl_extractor_spark.pipeline import curate

    base = "the a of and to in common words shared body here now"
    rows = [
        (1, base + " extra tail tokens making this one longer"),
        (2, base),                       # near-dup of 1; 1 is longer
        (3, "the a of and to in another unique document body three x"),
        (4, "the a of and to in another unique document body four yy"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # keep-best: doc 1 (longer) survives its cluster, not min-id... which
    # here coincide — so flip: make the LONGER one the higher id
    docs2 = spark.createDataFrame(
        [(2, rows[0][1]), (1, base), (3, rows[2][1]), (4, rows[3][1])],
        "doc_id long, text string",
    )
    out = curate.curate_corpus(
        docs2,
        min_tokens=5,
        max_stopword_ratio=1.0,
        min_uniq_ratio=0.0,
        neardup_threshold=0.5,
        neardup_keep_by="n_tokens",
    )
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert 2 in ids and 1 not in ids  # longer member won, not min id

    # token budget caps the shipped corpus
    capped = curate.curate_corpus(
        docs,
        min_tokens=5,
        max_stopword_ratio=1.0,
        min_uniq_ratio=0.0,
        token_budget=13,
    )
    got = capped.select("doc_id", "n_tokens").collect()
    assert sum(r["n_tokens"] for r in got) >= 13  # straddler kept
    assert len(got) < len(rows)                   # something was cut


def test_curate_cli_budget_and_keep_by_flags(spark, tmp_path, capsys):
    import json as _json

    from ferc_xbrl_extractor_spark.curate_cli import parse, run_main

    src = str(tmp_path / "in")
    base = "shared duplicate content words w1 w2 w3 w4 w5 w6"
    spark.createDataFrame(
        [(1, base, "web"), (2, base + " longer tail here", "web")]
        + [
            (10 + i, f"unique document body q{i} r{i} s{i} t{i} u{i} v{i}",
             "web")
            for i in range(6)
        ],
        "doc_id long, text string, source string",
    ).write.parquet(src)

    out = str(tmp_path / "out")
    args = parse(
        [src, "--output", out, "--min-tokens", "3", "--min-uniq-ratio", "0",
         "--max-stopword-ratio", "1", "--neardup-threshold", "0.5",
         "--neardup-keep-by", "n_tokens", "--token-budget", "40",
         "--shards", "1"]
    )
    assert run_main(args) == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["input_rows"] == 8
    rows = spark.read.json(out)
    ids = {int(r["doc_id"]) for r in rows.select("doc_id").collect()}
    # quality-keep: the LONGER near-dup (id 2) survives, not min id 1
    assert 2 in ids and 1 not in ids
    # token budget trimmed the corpus below the full survivor set
    assert 0 < summary["output_rows"] < 7


def test_feature_drift_report_matches_python_reference(spark):
    import hashlib
    import math

    from ferc_xbrl_extractor_spark.operators import sampling

    old_rows = [(1, "alpha beta gamma"), (2, "delta epsilon zeta"), (3, "")]
    new_rows = [(1, "alpha beta gamma"), (4, "eta theta iota kappa")]
    B, alpha = 64, 1.0
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    def buckets(rows):
        out = []
        for _i, t in rows:
            w = [x for x in t.split() if x]
            feats = w + [f"{a} {b}" for a, b in zip(w, w[1:])]
            out += [
                int(hashlib.md5(f"dsir:{g}".encode()).hexdigest()[:15], 16)
                % B
                for g in feats
            ]
        return out

    bo, bn = buckets(old_rows), buckets(new_rows)
    co = {b: bo.count(b) for b in set(bo)}
    cn = {b: bn.count(b) for b in set(bn)}
    to, tn = len(bo), len(bn)
    js_micro = 0
    for b in range(B):
        p = (co.get(b, 0) + alpha) / (to + alpha * B)
        q = (cn.get(b, 0) + alpha) / (tn + alpha * B)
        m = (p + q) / 2
        js_micro += round((p * math.log(p / m) + q * math.log(q / m)) / 2 * 1e6)

    r = sampling.feature_drift_report(old, new, n_buckets=B).collect()[0]
    assert r["js_divergence"] == round(js_micro / 1e6, 4)
    assert (r["n_buckets_old"], r["n_buckets_new"]) == (len(co), len(cn))
    assert r["n_gained"] == len(set(cn) - set(co))
    assert r["n_lost"] == len(set(co) - set(cn))
    assert (r["n_feats_old"], r["n_feats_new"]) == (to, tn)

    # identical snapshots: zero divergence, zero churn
    same = sampling.feature_drift_report(old, old, n_buckets=B).collect()[0]
    assert same["js_divergence"] == 0.0
    assert same["n_gained"] == same["n_lost"] == 0


def test_novelty_scores_goldens(spark):
    from ferc_xbrl_extractor_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [
            (1, "a b c d"),        # shingles: "a b c", "b c d"
            (2, "a b c"),          # shingle "a b c" shared with doc 1
            (3, "x y z w"),        # fully novel
            (4, "q r"),            # under n tokens: no shingles
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty_ratio"])
        for r in text_ops.novelty_scores(df, n=3).collect()
    }
    assert got[1] == (2, 1, 0.5)    # "b c d" unique, "a b c" shared
    assert got[2] == (1, 0, 0.0)
    assert got[3] == (2, 2, 1.0)
    assert got[4] == (0, 0, None)   # no shingles -> NULL ratio


def test_html_to_text_goldens(spark):
    from ferc_xbrl_extractor_spark.operators.text import html_to_text

    html = (
        "<html><head><title>T</title>"
        "<style type='text/css'>body { color: red }</style>"
        "<script>if (1 < 2) { alert('<p>') }</script></head>"
        "<body><!-- hidden < comment -->"
        "<h1>Head &amp; Tail</h1>"
        "<p>a<b>b</b> &lt;tag&gt; &amp;lt; &quot;q&quot; &#39;s&#39;"
        " x&nbsp;y</p>\n\n\n"
        "<ul><li>one</li><li>two</li></ul>"
        "<p>end  .</p></body></html>"
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, text string")
    got = html_to_text(df).collect()[0]["clean_text"]
    assert got == (
        "T Head & Tail\n"
        "a b <tag> &lt; \"q\" 's' x y\n"
        "\n"
        "one\ntwo\n"
        "\n"
        "end ."
    )
    # columns: input columns preserved, clean_text appended
    assert html_to_text(df).columns == ["doc_id", "text", "clean_text"]


def test_html_to_text_edge_cases(spark):
    from ferc_xbrl_extractor_spark.operators.text import html_to_text

    rows = [
        # plain text: round-trips modulo whitespace normalization
        (1, "no markup here, 1 < 2 stays"),
        (2, "  leading and   run\t\tcollapse  "),
        # unterminated script swallows to end (documented greedy-block)
        (3, "keep <script>var x = 1;"),
        (4, "<p>para one</p><p>para two</p>"),
        (5, "a<br/>b<br />c"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["clean_text"] for r in html_to_text(df).collect()}
    assert out[1] == "no markup here, 1 < 2 stays"
    assert out[2] == "leading and run collapse"
    # unterminated <script> has no closing tag: block regex can't fire,
    # the bare-tag strip removes only the <script> tag itself
    assert out[3] == "keep var x = 1;"
    assert out[4] == "para one\npara two"
    assert out[5] == "a\nb\nc"
    assert out[6] is None


def test_html_to_text_plan_is_single_projection(spark):
    from ferc_xbrl_extractor_spark.operators.text import html_to_text

    df = spark.createDataFrame([(1, "<p>x</p>")], "doc_id long, text string")
    plan = html_to_text(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_compression_ratio_signal_and_curate_screen(spark):
    """G68: zlib ratio equals a direct-zlib replay per row; monotone
    across repetitive ≪ mixed < random fixtures; NULL/empty → NULL; the
    curate min_compression_ratio screen drops only the sub-floor page
    and attributes it to the repetition stage."""
    import hashlib
    import zlib

    from ferc_xbrl_extractor_spark.pipeline import curate

    spam = "spam " * 200
    good = ("the quick brown fox jumps over a lazy dog near the river "
            "bank while seventeen geese argue about topology ") * 3
    rnd = " ".join(
        hashlib.md5(str(i).encode()).hexdigest() for i in range(40)
    )
    rows = [(1, spam), (2, good), (3, rnd), (4, None), (5, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["compression_ratio"]
        for r in text.compression_ratio(df).collect()
    }
    for i, t in rows:
        if not t:
            assert got[i] is None, i
        else:
            b = t.encode("utf-8")
            assert got[i] == len(zlib.compress(b, 6)) / len(b), i
    assert got[1] < got[3] and got[1] < got[2] < 1.0

    floor = (got[1] + got[2]) / 2  # between spam and good
    out = curate.curate_corpus(
        df.filter("text IS NOT NULL AND text <> ''"),
        min_tokens=5, min_uniq_ratio=0.0, max_stopword_ratio=1.0,
        min_compression_ratio=floor,
    )
    assert {r["doc_id"] for r in out.collect()} == {2, 3}
    assert _funnel(
        df.filter("text IS NOT NULL AND text <> ''"),
        min_tokens=5, min_uniq_ratio=0.0, max_stopword_ratio=1.0,
        min_compression_ratio=floor,
    ) == {"repetition": 1, None: 2}

    # CLI parity (ADVICE r7): the screen is reachable from curate_cli
    # like its sibling G65/G66 flags
    from ferc_xbrl_extractor_spark.curate_cli import parse

    args = parse(["in", "--output", "out", "--min-compression-ratio", "0.31"])
    assert args.min_compression_ratio == 0.31
    assert parse(["in", "--output", "out"]).min_compression_ratio is None


def test_skew_report_goldens(spark):
    """G67: exact per-key skew report — hand-checked counts, shares,
    integer-ceiling salt_need at a pinned parallelism, deterministic
    (n desc, key) top-k with ties, and TakeOrdered plan shape."""
    from ferc_xbrl_extractor_spark.operators.analytics import skew_report

    # 16 rows: 'a'×8, 'b'×4, 'c'×2, 'd'×2 (tie with 'c')
    rows = ["a"] * 8 + ["b"] * 4 + ["c"] * 2 + ["d"] * 2
    df = spark.createDataFrame([(k,) for k in rows], "k string")
    rep = skew_report(df, ["k"], top_k=3, partitions=8)
    got = [
        (r["k"], r["n_rows"], r["n_total"], r["share"], r["salt_need"])
        for r in rep.collect()
    ]
    # salt_need = ceil(n*8/16): a→4, b→2, c→1
    assert got == [
        ("a", 8, 16, 0.5, 4),
        ("b", 4, 16, 0.25, 2),
        ("c", 2, 16, 0.125, 1),  # tie with d, key order wins
    ]
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # top-k heaps, no full sort

    # empty input: no rows, no division blow-up
    assert skew_report(df.filter("k = 'zzz'"), ["k"]).count() == 0


def test_probe_salt_buckets_skew_vs_uniform(spark):
    from ferc_xbrl_extractor_spark.operators.analytics import (
        probe_salt_buckets,
        salted_agg_auto,
    )

    n = 20000
    skewed = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot"))
        .otherwise((F.col("id") % 7).cast("string"))
        .alias("k"),
        (F.col("id") % 5).cast("double").alias("v"),
    )
    b = probe_salt_buckets(skewed, ["k"])
    assert b > 1 and (b & (b - 1)) == 0  # salted, power of two

    uniform = spark.range(n).select(
        (F.col("id") % 1000).cast("string").alias("k"),
        F.lit(1.0).alias("v"),
    )
    assert probe_salt_buckets(uniform, ["k"]) == 1  # plain-agg fast path

    assert probe_salt_buckets(skewed.filter("k IS NULL"), ["k"]) == 1

    # the probe only changes the shuffle shape — results are exact on
    # both paths
    for df in (skewed, uniform):
        got = {
            r["k"]: (r["n"], r["sum_v"])
            for r in salted_agg_auto(df, ["k"], ["v"]).collect()
        }
        want = {
            r["k"]: (r["n"], r["sum_v"])
            for r in df.groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v"))
            .collect()
        }
        assert got == want


def test_cap_per_group_goldens(spark):
    from ferc_xbrl_extractor_spark.operators.sampling import cap_per_group

    rows = (
        [(i, "big", float(i)) for i in range(1, 11)]      # 10 rows
        + [(i, "small", float(i)) for i in range(11, 14)]  # 3 rows
        + [(i, None, float(i)) for i in range(14, 20)]     # 6 NULL-group
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")

    out = cap_per_group(df, "source", 4, order_col="score")
    by_src = {}
    for r in out.collect():
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    # over-cap group: top-4 by score desc
    assert sorted(by_src["big"]) == [7, 8, 9, 10]
    # under-cap group bypasses untouched
    assert sorted(by_src["small"]) == [11, 12, 13]
    # NULL group is capped like any other (null-safe join)
    assert sorted(by_src[None]) == [16, 17, 18, 19]

    # no order_col: deterministic keep-first by id
    out2 = cap_per_group(df, "source", 2)
    by_src2 = {}
    for r in out2.collect():
        by_src2.setdefault(r["source"], []).append(r["doc_id"])
    assert sorted(by_src2["big"]) == [1, 2]
    assert sorted(by_src2[None]) == [14, 15]

    # NULL scores rank last; ties break on ascending id
    tie = spark.createDataFrame(
        [(1, "s", 1.0), (2, "s", None), (3, "s", 1.0), (4, "s", 1.0)],
        "doc_id long, source string, score double",
    )
    kept = sorted(
        r["doc_id"]
        for r in cap_per_group(tie, "source", 2, order_col="score").collect()
    )
    assert kept == [1, 3]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="cap"):
        cap_per_group(df, "source", 0)


def test_cap_per_group_under_cap_rows_skip_the_window(spark):
    from ferc_xbrl_extractor_spark.operators.sampling import cap_per_group

    df = spark.createDataFrame(
        [(i, f"s{i % 50}", float(i)) for i in range(400)],
        "doc_id long, source string, score double",
    )
    out = cap_per_group(df, "source", 100, order_col="score")
    # every group is under cap: result is the whole corpus...
    assert out.count() == 400
    # ...and the executed plan's window branch receives zero rows (the
    # anti-join side is the only populated branch). Cheap proxy: the
    # union's window leg contributes nothing.
    assert out.distinct().count() == 400


def test_markdown_to_text_goldens(spark):
    from ferc_xbrl_extractor_spark.operators.text import markdown_to_text

    md = (
        "# Title\n"
        "\n"
        "Some **bold** and *ital* and __u__ and _v_ text.\n"
        "A [link](http://example.com) and ![logo](img.png) and "
        "[ref-link][1].\n"
        "> quoted line\n"
        "- item one\n"
        "2. item two\n"
        "---\n"
        "```python\n"
        "x = 1\n"
        "```\n"
        "Inline `code` stays.\n"
    )
    df = spark.createDataFrame([(1, md)], "doc_id long, text string")
    got = markdown_to_text(df).collect()[0]["clean_text"]
    assert got == (
        "Title\n"
        "\n"
        "Some bold and ital and u and v text.\n"
        "A link and logo and ref-link.\n"
        "quoted line\n"
        "item one\n"
        "item two\n"
        "\n"
        "x = 1\n"
        "\n"
        "Inline code stays."
    )


def test_markdown_to_text_edges(spark):
    from ferc_xbrl_extractor_spark.operators.text import markdown_to_text

    rows = [
        (1, "plain text 2 * 3 stays, a_b_c does not nest"),
        (2, None),
        (3, "***"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["clean_text"] for r in markdown_to_text(df).collect()}
    # lone '*' with no closing pair survives; single-char emphasis 'b'
    # unwraps (documented per-marker semantics)
    assert out[1] == "plain text 2 * 3 stays, abc does not nest"
    assert out[2] is None
    assert out[3] == ""

    plan = markdown_to_text(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_curate_corpus_group_cap_stage(spark):
    from ferc_xbrl_extractor_spark.pipeline import curate

    mk = "the a of and to in unique document body number"
    rows = [(i, f"{mk} {i} alpha beta", "big") for i in range(1, 7)] + [
        (10, f"{mk} ten gamma delta", "small"),
        (11, f"{mk} eleven gamma delta", "small"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = curate.curate_corpus(
        docs,
        min_tokens=5,
        max_stopword_ratio=1.0,
        min_uniq_ratio=0.0,
        group_cap=3,
    )
    by_src = {}
    for r in out.select("doc_id", "source").collect():
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    assert len(by_src["big"]) == 3      # capped
    assert len(by_src["small"]) == 2    # under cap: untouched


def test_c4_clean_rules(spark):
    from ferc_xbrl_extractor_spark.operators.text import c4_clean

    good = "this line carries plenty of words and ends properly."
    rows = [
        # doc 1: mixed lines — only the compliant ones survive
        (1, good + "\nno punct line here at all\nshort one.\n"
            "please enable javascript to view this page.\n" + good),
        # doc 2: too few surviving lines -> keep false
        (2, good),
        # doc 3: brace page -> keep false even with enough good lines
        (3, "\n".join([good, good, good]) + "\nfunction() { return }"),
        # doc 4: lorem ipsum page -> keep false
        (4, "\n".join([good, good, good]) + "\nLorem Ipsum dolor sit."),
        # doc 5: clean page -> keep true
        (5, "\n".join([good, good, good])),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_clean(df, min_kept_lines=3).collect()}

    assert out[1]["clean_text"] == good + "\n" + good
    assert out[1]["n_kept_lines"] == 2 and out[1]["keep"] is False
    assert out[2]["keep"] is False
    assert out[3]["keep"] is False and out[3]["n_kept_lines"] >= 3
    assert out[4]["keep"] is False
    assert out[5]["keep"] is True and out[5]["clean_text"] == rows[4][1]
    assert out[6]["keep"] is None  # NULL text propagates, filterable

    plan = c4_clean(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_curate_c4_stage_and_annotation(spark):
    from ferc_xbrl_extractor_spark.pipeline import curate

    good = "this line carries plenty of words and ends properly."
    page = "\n".join([good, good, good])
    rows = [
        (1, page),                                  # clean page
        (2, page + "\nbroken { code page"),         # c4-dropped (brace)
        (3, "the a of and to in unique short doc."),  # c4-dropped (1 line)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    params = dict(min_tokens=3, max_stopword_ratio=1.0, min_uniq_ratio=0.0,
                  c4=True)

    kept = curate.curate_corpus(docs, **params)
    ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    assert ids == [1]
    assert _funnel(docs, **params) == {"c4": 2, None: 1}


def test_curate_cli_c4_and_group_cap_flags(spark, tmp_path, capsys):
    import json as _json

    from ferc_xbrl_extractor_spark.curate_cli import parse, run_main

    src = str(tmp_path / "in")

    def page(tag):
        good = f"this {tag} sentence carries plenty of proper words and ends well."
        return "\n".join([good, f"another {tag} line with many good words here.", good])

    spark.createDataFrame(
        [(i, page(f"b{i}"), "big") for i in range(1, 6)]  # 5 clean big-source
        + [(10, page("x") + "\nbroken { page", "big"),    # c4-dropped
           (20, page("s"), "small")],
        "doc_id long, text string, source string",
    ).write.parquet(src)

    out = str(tmp_path / "out")
    args = parse(
        [src, "--output", out, "--min-tokens", "3", "--min-uniq-ratio", "0",
         "--max-stopword-ratio", "1", "--c4", "--group-cap", "3",
         "--shards", "1"]
    )
    assert run_main(args) == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["input_rows"] == 7
    rows = spark.read.json(out)
    by_src = {}
    for r in rows.select("doc_id", "source").collect():
        by_src.setdefault(r["source"], []).append(int(r["doc_id"]))
    assert len(by_src["big"]) == 3          # capped; c4 page never counted
    assert 10 not in by_src["big"]
    assert by_src["small"] == [20]


def test_c4_clean_runs_unchanged_on_a_stream(spark, tmp_path):
    """c4_clean is one stateless projection, so the batch operator IS the
    streaming operator — pin that claim with an actual readStream run."""
    from ferc_xbrl_extractor_spark.operators.text import c4_clean
    from ferc_xbrl_extractor_spark.streaming import run_stream_to_memory

    good = "this sentence carries plenty of proper words and ends well."
    rows = [(1, "\n".join([good, good, good])),
            (2, "lorem ipsum { junk page")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "in")
    df.write.parquet(path)

    stream = spark.readStream.schema(df.schema).parquet(path)
    out = c4_clean(stream, min_kept_lines=3)
    q = run_stream_to_memory(out, "c4_stream")
    q.processAllAvailable()
    q.stop()
    got = {r["doc_id"]: r["keep"]
           for r in spark.sql("SELECT * FROM c4_stream").collect()}
    want = {r["doc_id"]: r["keep"] for r in c4_clean(df, min_kept_lines=3).collect()}
    assert got == want == {1: True, 2: False}


@pytest.mark.slow
def test_curate_linkrank_stage(spark):
    """G65 as a curation stage: link_ranks joins a link_rank quality
    prior; min_link_rank drops ranked docs below threshold and NEVER
    drops unranked docs; the funnel attributes those drops to
    'linkrank'; and an edges input ranks in-pipeline to the same
    result."""
    from ferc_xbrl_extractor_spark.operators import graph
    from ferc_xbrl_extractor_spark.pipeline import curate

    good = "the quick brown fox and a dog run to the hills in summer "
    docs = spark.createDataFrame(
        [(i, good * 2 + str(i)) for i in range(1, 7)],
        "doc_id long, text string",
    )
    # 1 is a hub target (high rank), 5 a pure source (base rank = low),
    # 6 absent from the graph entirely (NULL rank -> must survive)
    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 1), (5, 1), (1, 2), (2, 3), (3, 4)],
        "src long, dst long",
    )
    ranks = graph.pagerank(edges, iters=3)
    rank_map = {r["node"]: r["node_rank"] for r in ranks.collect()}
    thresh = rank_map[5] + 1  # drops exactly the base-mass source docs

    params = dict(min_tokens=5, min_uniq_ratio=0.2,
                  link_ranks=ranks, min_link_rank=thresh)
    out = curate.curate_corpus(docs, **params)
    assert "link_rank" in out.columns  # prior rides along for budgets
    got = {r["doc_id"]: r["link_rank"] for r in out.collect()}
    want_kept = {n for n, v in rank_map.items() if v >= thresh} | {6}
    assert set(got) == want_kept
    assert got[6] is None  # unranked passes with NULL prior
    assert got[1] == rank_map[1]
    assert _funnel(docs, **params) == {None: len(got), "linkrank": 6 - len(got)}

    # the edges-input path is covered end-to-end (with a collect) by
    # test_curate_cli_linkrank_flags; here only the guard is pinned
    with pytest.raises(ValueError, match="not both"):
        curate.curate_corpus(
            docs, link_ranks=ranks, link_edges=edges, min_link_rank=1
        )

    # the prior feeds the token budget: highest-rank docs ship first
    budget = curate.curate_corpus(
        docs.filter(F.col("doc_id") != 6),
        min_tokens=5, min_uniq_ratio=0.2,
        link_ranks=ranks,
        token_budget=30,
        budget_score_col="link_rank",
    )
    picked = {r["doc_id"] for r in budget.collect()}
    assert 1 in picked  # the hub target is the top prior
    assert len(picked) < 5


def test_normalize_url_goldens_and_url_dedup(spark):
    """G64: canonicalization goldens — case, default ports, tracking
    params (alone, consecutive, mixed with kept params, NEAR-MISS names
    that must survive), param-order permutations, fragments, trailing
    slashes, bare hosts, scheme-less passthrough — and the min-id
    survivor policy of dedup_by_url."""
    from ferc_xbrl_extractor_spark.operators import text

    cases = [
        ("HTTPS://WWW.X.COM:443/A/b/", "https://www.x.com/A/b"),
        ("http://x.com:80/p?utm_source=a&utm_campaign=b", "http://x.com/p"),
        ("http://x.com/p?q=1&utm_source=a&fbclid=z#frag", "http://x.com/p?q=1"),
        ("http://x.com:8080/p", "http://x.com:8080/p"),  # non-default port kept
        ("https://x.com:80/p", "https://x.com:80/p"),  # wrong-scheme port kept
        ("HTTP://X.com", "http://x.com/"),  # bare host -> /
        ("not a url", "not a url"),  # scheme-less passthrough
        ("x.com/p/", "x.com/p/"),  # no scheme: untouched
        # param-order permutations of the same page -> one key
        ("http://x.com/p?b=2&a=1", "http://x.com/p?a=1&b=2"),
        ("http://x.com/p?a=1&b=2", "http://x.com/p?a=1&b=2"),
        ("http://x.com/p?b=2&utm_source=s&a=1", "http://x.com/p?a=1&b=2"),
        # near-miss tracking names are KEPT (anchored per-param match;
        # the old unanchored mid-query strip turned this into '?xq=2')
        ("http://x.com/p?xfbclid=1&q=2", "http://x.com/p?q=2&xfbclid=1"),
        ("http://x.com/p?myutm_x=1&q=2", "http://x.com/p?myutm_x=1&q=2"),
        # consecutive tracking params + empty segments all drop
        ("http://x.com/p?utm_a=1&utm_b=2&&gclid=9", "http://x.com/p"),
        # percent-encoding: unreserved escapes decode (both hex cases)…
        ("http://x.com/%7Euser/p", "http://x.com/~user/p"),
        ("http://x.com/%7euser/p", "http://x.com/~user/p"),
        ("http://x.com/~user/p", "http://x.com/~user/p"),
        ("http://x.com/%41%42c", "http://x.com/ABc"),
        ("http://x.com/p?q=%7e1", "http://x.com/p?q=~1"),
        # …reserved escapes stay encoded but hex-uppercase…
        ("http://x.com/a%2fb", "http://x.com/a%2Fb"),
        ("http://x.com/a%2Fb", "http://x.com/a%2Fb"),
        ("http://x.com/50%25off", "http://x.com/50%25off"),
        # …and malformed escapes pass through verbatim
        ("http://x.com/100%", "http://x.com/100%"),
        ("http://x.com/a%zzb", "http://x.com/a%zzb"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "doc_id long, url string"
    )
    got = {
        r["doc_id"]: r["c"]
        for r in df.select("doc_id", text.normalize_url("url").alias("c")).collect()
    }
    for i, (_u, want) in enumerate(cases):
        assert got[i] == want, (i, _u, got[i], want)

    dup = spark.createDataFrame(
        [
            (5, "http://a.com/p?utm_source=x"),
            (3, "HTTP://A.COM:80/p/"),
            (9, "http://a.com/p#top"),
            (7, "http://b.com/q"),
        ],
        "doc_id long, url string",
    )
    out = {
        r["canon_url"]: r["doc_id"]
        for r in text.dedup_by_url(dup).collect()
    }
    assert out == {"http://a.com/p": 3, "http://b.com/q": 7}

    # the generated SQL replay (normalize_url_sql) agrees byte-for-byte
    # with the Spark expression on every golden — pins the generator
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{u}')" for i, (u, _) in enumerate(cases))
        + ") v(doc_id, u)"
    )
    q = text.normalize_url_sql(
        "SELECT doc_id, u FROM t", cols=["doc_id"], url_col="u"
    )
    sql_got = dict(con.execute(q).fetchall())
    con.close()
    for i, (_u, want) in enumerate(cases):
        assert sql_got[i] == want, ("oracle", i, _u, sql_got[i], want)


def test_host_and_registrable_domain_goldens(spark):
    """G66: host extraction (lowercase, port stripped, empty for
    scheme-less) and the 2/3-label registrable-domain heuristic."""
    cases = [
        ("HTTP://WWW.Example.COM:8080/p?q=1", "www.example.com", "example.com"),
        ("https://news.bbc.co.uk/x", "news.bbc.co.uk", "bbc.co.uk"),
        ("http://blog7.org/", "blog7.org", "blog7.org"),
        ("http://cdn.static.img3.net/a", "cdn.static.img3.net", "img3.net"),
        ("http://sub.dept.ac.jp/", "sub.dept.ac.jp", "dept.ac.jp"),
        ("http://localhost:80/x", "localhost", "localhost"),
        ("http://10.0.0.1:8080/x", "10.0.0.1", "0.1"),  # documented: IPs not special-cased
        ("not a url", "", ""),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _h, _d) in enumerate(cases)],
        "doc_id long, url string",
    )
    got = {
        r["doc_id"]: (r["h"], r["d"])
        for r in df.select(
            "doc_id",
            text.host_of_url("url").alias("h"),
            text.registrable_domain(text.host_of_url("url")).alias("d"),
        ).collect()
    }
    for i, (_u, h, d) in enumerate(cases):
        assert got[i] == (h, d), (i, _u, got[i])


def test_registrable_domain_psl_mode(spark):
    """G66 exact mode (VERDICT r7 #3): with a public-suffix relation,
    ne.jp/go.jp/id.au-class hosts — which the 7-label heuristic
    mis-buckets — group at the right level via longest-match broadcast
    joins; unmatched hosts fall back to the prevailing-* rule (last two
    labels); a host EQUAL to a suffix passes through; the heuristic
    default is untouched."""
    psl = spark.createDataFrame(
        [("co.uk",), ("ne.jp",), ("go.jp",), ("id.au",), ("jp",),
         ("uk",), ("au",), ("com",), ("kawasaki.jp",),
         # the real PSL has plain rules up to 5 labels: the candidate
         # fan must be DERIVED from the rules, never silently capped
         ("s3.dualstack.ap-northeast-1.amazonaws.com",)],
        "suffix string",
    )
    cases = [
        # host, heuristic answer, PSL answer
        ("www.isp.ne.jp", "ne.jp", "isp.ne.jp"),       # heuristic WRONG
        ("www.soumu.go.jp", "go.jp", "soumu.go.jp"),   # heuristic WRONG
        ("shop.big.id.au", "id.au", "big.id.au"),      # heuristic WRONG
        ("news.bbc.co.uk", "bbc.co.uk", "bbc.co.uk"),  # both right
        ("www.example.com", "example.com", "example.com"),
        ("deep.city.kawasaki.jp", "kawasaki.jp", "city.kawasaki.jp"),
        ("unknown.tld.zz", "tld.zz", "tld.zz"),        # prevailing-*
        ("co.uk", "co.uk", "co.uk"),                   # suffix-only host
        ("localhost", "localhost", "localhost"),
        # 5-label rule honored, not out-ranged to 'amazonaws.com'
        ("bucket.s3.dualstack.ap-northeast-1.amazonaws.com",
         "amazonaws.com",
         "bucket.s3.dualstack.ap-northeast-1.amazonaws.com"),
        # domains are case-insensitive: a mixed-case host must match
        # the (lowercase) rules, not fall through to prevailing-*
        ("WWW.ISP.NE.JP", "ne.jp", "isp.ne.jp"),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _e, _p) in enumerate(cases)],
        "doc_id long, host string",
    )
    heur = {
        r["doc_id"]: r["domain"]
        for r in text.with_registrable_domain(df).collect()
    }
    exact = {
        r["doc_id"]: r["domain"]
        for r in text.with_registrable_domain(df, suffixes=psl).collect()
    }
    for i, (h, e, p) in enumerate(cases):
        if h != h.lower():
            # heuristic path is case-preserving; only the exact mode
            # canonicalizes — compare it case-insensitively
            assert heur[i].lower() == e, ("heuristic", h, heur[i], e)
        else:
            assert heur[i] == e, ("heuristic", h, heur[i], e)
        assert exact[i] == p, ("psl", h, exact[i], p)


@pytest.mark.slow
def test_curate_group_cap_rebuckets_on_psl_domains(spark):
    """G66 PSL mode through the pipeline: the group cap re-binds per
    TRUE registrable domain when domain_suffixes is passed (the fast
    golden/report assertions live in test_registrable_domain_psl_mode;
    the two curate_corpus runs here are the slow half)."""
    from ferc_xbrl_extractor_spark.pipeline import curate

    psl = spark.createDataFrame([("ne.jp",), ("jp",)], "suffix string")
    good = "the quick brown fox and a dog run to the hills in summer "
    crows = (
        [(i, good * 2 + str(i), f"http://www.site{i}.ne.jp/p") for i in range(4)]
        + [(9, good * 2 + "nine", "http://cold.org/q")]
    )
    cdocs = spark.createDataFrame(crows, "doc_id long, text string, url string")
    # the heuristic buckets every www.site<i>.ne.jp host as 'ne.jp'
    # ('ne' is not in its 7-label table) → the cap hits them as ONE
    # group; the PSL mode re-buckets each site<i>.ne.jp as its own
    # registrable domain → the cap never binds
    base = dict(
        min_tokens=5, min_uniq_ratio=0.2, url_col="url",
        domain_col="domain", group_cap=2, group_cap_col="domain",
    )
    heur_kept = curate.curate_corpus(cdocs, **base).count()
    assert heur_kept == 3  # 2 of the ne.jp bucket + cold.org
    psl_kept = curate.curate_corpus(
        cdocs, domain_suffixes=psl, **base
    ).count()
    assert psl_kept == 5  # each site is its own domain → cap never binds


def test_load_public_suffixes_parses_psl_format(spark, tmp_path):
    """The PSL loader keeps ALL three rule kinds (r8 verdict #5 — the
    r8 loader silently dropped wildcards/exceptions); comments and
    blanks drop; case folds; dups collapse."""
    f = tmp_path / "psl.dat"
    f.write_text(
        "// ===BEGIN ICANN DOMAINS===\n"
        "com\n"
        "CO.UK\n"
        "co.uk\n"
        "\n"
        "  ne.jp  \n"
        "*.kawasaki.jp\n"
        "!city.kawasaki.jp\n"
        "// trailing comment\n"
    )
    got = {
        r["suffix"]
        for r in text.load_public_suffixes(spark, str(f)).collect()
    }
    assert got == {
        "com", "co.uk", "ne.jp", "*.kawasaki.jp", "!city.kawasaki.jp"
    }


def test_registrable_domain_psl_wildcard_exception(spark):
    """G66 PSL wildcard/exception semantics (r8 verdict #5), on the
    PSL spec's own canonical vectors (publicsuffix.org test cases for
    the *.kawasaki.jp / !city.kawasaki.jp and *.ck / !www.ck rules):
    '*' matches exactly one label, exceptions beat wildcards, the
    matched exception IS the registrable domain, and a host equal to a
    (wildcard-derived) public suffix passes through unchanged."""
    psl = spark.createDataFrame(
        [("jp",), ("*.kawasaki.jp",), ("!city.kawasaki.jp",),
         ("*.ck",), ("!www.ck",), ("uk",), ("co.uk",)],
        "suffix string",
    )
    cases = [
        ("kawasaki.jp", "kawasaki.jp"),            # plain 'jp' prevails
        ("a.kawasaki.jp", "a.kawasaki.jp"),        # host IS the wildcard PS
        ("b.a.kawasaki.jp", "b.a.kawasaki.jp"),    # wildcard: PS=a.kawasaki.jp
        ("c.b.a.kawasaki.jp", "b.a.kawasaki.jp"),
        ("city.kawasaki.jp", "city.kawasaki.jp"),  # exception beats wildcard
        ("deep.city.kawasaki.jp", "city.kawasaki.jp"),
        ("www.ck", "www.ck"),                      # exception match
        ("a.www.ck", "www.ck"),
        ("this.that.ck", "this.that.ck"),          # wildcard: PS=that.ck
        ("that.ck", "that.ck"),                    # host IS the wildcard PS
        ("co.uk", "co.uk"),                        # plain-suffix pass-through
        ("news.bbc.co.uk", "bbc.co.uk"),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _p) in enumerate(cases)],
        "doc_id long, host string",
    )
    exact = {
        r["doc_id"]: r["domain"]
        for r in text.with_registrable_domain(df, suffixes=psl).collect()
    }
    for i, (h, p) in enumerate(cases):
        assert exact[i] == p, ("psl", h, exact[i], p)

    # malformed rules raise with a count, never a silent drop
    import pytest as _pytest
    for bad in ("a.*.ck", "b!ad.com", "*.x.*"):
        with _pytest.raises(ValueError, match="malformed"):
            text.with_registrable_domain(
                df,
                suffixes=spark.createDataFrame([(bad,)], "suffix string"),
            )


def test_domain_report_counts(spark):
    """G66: per-domain doc counts, DISTINCT canonical-URL counts (param
    permutations and tracking params collapse), and char totals."""
    rows = [
        (1, "aaaa", "http://www.x.com/p?a=1&b=2"),
        (2, "bbb", "http://www.x.com/p?b=2&a=1"),       # same canon URL
        (3, "cc", "http://news.x.com/q?utm_source=s"),  # same domain, new URL
        (4, "d", "http://y.co.uk/r"),
        (5, "ee", "https://sub.y.co.uk/r2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, url string")
    got = {
        r["domain"]: (r["n_docs"], r["n_urls"], r["n_chars"])
        for r in text.domain_report(df).collect()
    }
    assert got == {"x.com": (3, 2, 9), "y.co.uk": (2, 2, 3)}


@pytest.mark.slow
def test_curate_domain_col_and_group_cap(spark):
    """G66 in the pipeline: domain_col derives the registrable domain
    from url_col in-plan; group_cap over it caps the hot domain, and
    the funnel attributes those drops to 'group_cap'."""
    from ferc_xbrl_extractor_spark.pipeline import curate

    good = "the quick brown fox and a dog run to the hills in summer "
    rows = [
        (i, good * 2 + str(i), f"http://www.hot.com/p/{i}") for i in range(1, 5)
    ] + [(9, good * 2 + "nine", "http://cold.org/q")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    params = dict(
        min_tokens=5, min_uniq_ratio=0.2,
        url_col="url", domain_col="domain",
        group_cap=2, group_cap_col="domain",
    )
    out = curate.curate_corpus(docs, **params)
    got = {(r["doc_id"], r["domain"]) for r in out.collect()}
    kept_hot = {i for i, d in got if d == "hot.com"}
    assert len(kept_hot) == 2  # capped
    assert (9, "cold.org") in got
    assert _funnel(docs, **params) == {"group_cap": 2, None: 3}
    with pytest.raises(ValueError, match="requires url_col"):
        curate.curate_corpus(docs, domain_col="domain")


@pytest.mark.slow
def test_dedup_by_pairs_consumers_in_probe_and_contraction(
    spark, contraction_calls
):
    """The pair-dedup consumers give the same survivors/clusters whether
    connected_components finishes in the propagation probe (short
    chains) or restarts on star contraction (the same shape with the
    first component stretched past the probe's round budget)."""
    from ferc_xbrl_extractor_spark.operators import neardup

    for length, want_contraction in ((3, False), (8, True)):
        # component {0..length-1} as a path, singleton `length`, pair
        # (length+1, length+2); scores rise with id
        last = length - 1
        edges = [(i, i + 1) for i in range(last)] + [(length + 1, length + 2)]
        docs = spark.createDataFrame(
            [(i, f"doc {i}", float(i)) for i in range(length + 3)],
            "doc_id long, text string, score double",
        )
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        contraction_calls.clear()
        kept = sorted(
            r["doc_id"]
            for r in neardup.dedup_by_pairs(docs, pairs).collect()
        )
        assert kept == [0, length, length + 1], length
        best = sorted(
            r["doc_id"]
            for r in neardup.dedup_by_pairs_best(
                docs, pairs, keep_by="score"
            ).collect()
        )
        assert best == [last, length, length + 2], length
        clusters = {
            r["doc_id"]: r["cluster"]
            for r in neardup.attach_clusters(docs, pairs).collect()
        }
        want = {i: 0 for i in range(length)}
        want.update({length: length, length + 1: length + 1, length + 2: length + 1})
        assert clusters == want, length
        assert bool(contraction_calls) is want_contraction, length


@pytest.mark.slow
def test_pagerank_matches_python_reference(spark):
    """G65: the integer micro-unit recurrence equals a serial Python
    replay (floor arithmetic, dangling mass dropped), independent of
    partitioning; validation raises on iters < 1."""
    from ferc_xbrl_extractor_spark.operators import graph

    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (1, 2)]  # dup edge
    df = spark.createDataFrame(edges, "src long, dst long").repartition(7)
    got = {
        r["node"]: r["node_rank"]
        for r in graph.pagerank(df, iters=3).collect()
    }

    uniq = sorted(set(edges))
    nodes = sorted({u for e in uniq for u in e})
    n = len(nodes)
    outdeg = {}
    for s, _d in uniq:
        outdeg[s] = outdeg.get(s, 0) + 1
    unit = 1_000_000

    def ref(iters, damping=85):
        base = ((100 - damping) * unit) // (100 * n)
        r = {v: unit // n for v in nodes}
        for _ in range(iters):
            nxt = {v: base for v in nodes}
            for s, d in uniq:
                nxt[d] += (damping * r[s]) // (100 * outdeg[s])
            r = nxt
        return r

    base = (15 * unit) // (100 * n)
    assert got == ref(3)
    # node 4 is a pure source: it ends at exactly the base mass
    assert got[4] == base
    # long run crosses the periodic lineage cut (every 8 rounds)
    got9 = {
        r["node"]: r["node_rank"]
        for r in graph.pagerank(df, iters=9).collect()
    }
    assert got9 == ref(9)

    # non-default damping: teleport mass must scale with the SAME
    # parameter as the edge contributions (a hardcoded 15% base broke
    # every damping_pct != 85 — regression pin)
    got90 = {
        r["node"]: r["node_rank"]
        for r in graph.pagerank(df, iters=3, damping_pct=90).collect()
    }
    assert got90 == ref(3, damping=90)
    assert got90[4] == (10 * unit) // (100 * n)

    with pytest.raises(ValueError):
        graph.pagerank(df, iters=0)


@pytest.mark.slow
def test_bfs_hops_semantics(spark):
    """G100: bounded multi-source BFS — hand-pinned hop counts on a
    chain + branch graph, NULL (never dropped) past the cap,
    multi-seed minimum, hop-0 seeds, and a shorter-path-wins diamond. The cross-engine pin is the
    g100_bfs_hops oracle (bfs_oracle_sql unroll, hash-green both
    scales); this is the semantics tier."""
    from ferc_xbrl_extractor_spark.operators import graph

    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (2, 7), (9, 0), (10, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["hops"]
        for r in graph.bfs_hops(df, seeds=[0, 10], max_hops=3).collect()
    }
    assert got == {
        0: 0, 1: 1, 2: 2, 3: 3, 7: 3, 10: 0, 11: 1,
        4: None, 9: None,  # beyond cap / upstream of the seeds
    }

    # diamond: two paths, the shorter one wins
    dia = spark.createDataFrame(
        [(0, 1), (1, 3), (0, 2), (2, 4), (4, 3)], "src long, dst long"
    )
    d = {
        r["node"]: r["hops"]
        for r in graph.bfs_hops(dia, seeds=[0], max_hops=4).collect()
    }
    assert d[3] == 2  # via 1, not via 2→4

    with pytest.raises(ValueError, match="seeds"):
        graph.bfs_hops(df, seeds=[])
    with pytest.raises(ValueError, match="max_hops"):
        graph.bfs_hops(df, seeds=[0], max_hops=-1)


@pytest.mark.slow
def test_hits_scores_semantics(spark):
    """G110: HITS hubs & authorities — the hub/authority split on a
    directory-pointing-at-content graph, both normalization modes
    match their own oracles bit for bit (DuckDB replay inline) and
    agree on the ORDERING; no-in-edge nodes hold authority 0 and
    no-out-edge nodes hub 0, visible; raises on bad args."""
    import duckdb

    from ferc_xbrl_extractor_spark.operators import graph

    # 1 and 3 are hubs pointing at content {2, 5}; 2 also links out
    edges = [(1, 2), (1, 5), (3, 2), (3, 5), (4, 2), (2, 5), (7, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ed AS SELECT * FROM (VALUES "
        + ",".join(f"({a},{b})" for a, b in edges)
        + ") t(src, dst)"
    )
    for mode in ("rounds", "final"):
        got = sorted(
            (r["node"], r["hub_micro"], r["auth_micro"])
            for r in graph.hits_scores(df, iters=3, normalize=mode).collect()
        )
        want = sorted(
            (int(a), int(b), int(c))
            for a, b, c in con.execute(
                graph.hits_oracle_sql(
                    "SELECT src, dst FROM ed", iters=3, normalize=mode
                )
            ).fetchall()
        )
        assert got == want, mode
        by = {n: (hh, aa) for n, hh, aa in got}
        # top authority is 5 (fed by both hubs AND 2); top hubs 1 and 3
        assert by[5][1] == 1_000_000
        assert by[1][0] == 1_000_000 and by[3][0] == 1_000_000
        assert by[1][1] == 0  # nothing points at the hubs
        assert by[8][0] == 0  # sink: no out-edges -> hub 0
        # 2 and 5 are co-leader authorities by symmetry (h(4) == h(2)
        # in this graph); 8, fed only by the weak hub 7, trails both
        assert by[2][1] == 1_000_000
        assert by[8][1] < 1_000_000

    with pytest.raises(ValueError, match="iters"):
        graph.hits_scores(df, iters=0)
    with pytest.raises(ValueError, match="normalize"):
        graph.hits_scores(df, normalize="l2")


@pytest.mark.slow
def test_label_propagation_semantics(spark):
    """G104: synchronous LPA — two bridged triangles resolve to two
    communities labeled by their min member; star-graph plurality ties
    break to the smallest label with the synchronous center/leaf swap
    preserved exactly (the documented fixed-round semantics); rounds=0
    is the singleton identity. The cross-engine pin is the g104_communities
    oracle (label_propagation_oracle_sql unroll, hash-green both
    scales); this is the semantics tier."""
    from ferc_xbrl_extractor_spark.operators import graph

    tri = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    df = spark.createDataFrame(tri, "src long, dst long")
    got = {
        r["node"]: r["community"]
        for r in graph.label_propagation(df, rounds=3).collect()
    }
    # bridged triangles: each settles on its own min member; the bridge
    # 3-4 is outvoted by the 2 in-clique neighbors on both sides
    assert got == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}

    # star: all leaf labels tie at the center (count 1 each) -> min
    # leaf; leaves adopt the center's label — after round 1 center=11,
    # leaves=10; synchronous round 2 swaps back (documented oscillation)
    star = spark.createDataFrame(
        [(10, 11), (10, 12), (10, 13)], "src long, dst long"
    )
    r1 = {
        r["node"]: r["community"]
        for r in graph.label_propagation(star, rounds=1).collect()
    }
    assert r1 == {10: 11, 11: 10, 12: 10, 13: 10}

    # rounds=0: identity labeling
    r0 = {
        r["node"]: r["community"]
        for r in graph.label_propagation(star, rounds=0).collect()
    }
    assert r0 == {10: 10, 11: 11, 12: 12, 13: 13}

    with pytest.raises(ValueError, match="rounds"):
        graph.label_propagation(df, rounds=-1)


def test_pagerank_degree_is_aggregate_not_window(spark):
    """G65 scale shape: out-degree is a map-side-combinable groupBy
    aggregate joined back — never a count window partitioned by the
    source, which would serialize a hub page's entire out-edge list
    (10⁷ links for an index page in a crawl graph) through one task."""
    import inspect

    from ferc_xbrl_extractor_spark.operators import graph

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "src long, dst long"
    ).select(F.col("src").alias("__s"), F.col("dst").alias("__d"))
    plan = (
        graph._edges_with_outdegree(e)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "Aggregate" in plan  # Hash/Sort/ObjectHashAggregate
    # belt-and-braces: no window API anywhere in the module
    assert "Window" not in inspect.getsource(graph)


def test_pagerank_hub_skew_graph(spark):
    """G65 on a hub-skewed graph (one source owns ~50% of all edges):
    ranks still equal the serial integer replay — the shape the degree
    aggregate exists to survive."""
    from ferc_xbrl_extractor_spark.operators import graph

    k = 400
    # hub 0 → {1..k} is half the edges; ring 1→2→…→k→1 is the other half
    edges = [(0, i) for i in range(1, k + 1)]
    edges += [(i, i % k + 1) for i in range(1, k + 1)]
    df = spark.createDataFrame(edges, "src long, dst long").repartition(16)
    got = {
        r["node"]: r["node_rank"]
        for r in graph.pagerank(df, iters=3).collect()
    }

    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    outdeg: dict[int, int] = {}
    for s, _d in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    unit, base = 1_000_000, (15 * 1_000_000) // (100 * n)
    r = {v: unit // n for v in nodes}
    for _ in range(3):
        nxt = {v: base for v in nodes}
        for s, d in edges:
            nxt[d] += (85 * r[s]) // (100 * outdeg[s])
        r = nxt
    assert got == r
    assert got[0] == base  # the hub has no in-links


@pytest.mark.slow
def test_curate_url_dedup_stage_runs_first(spark):
    """G64 as a curation stage: url_col drops refetch duplicates before
    every other stage, and the funnel attributes them to 'url_dup'."""
    from ferc_xbrl_extractor_spark.pipeline import curate

    good = "the quick brown fox and a dog run to the hills in summer "
    rows = [
        (1, good * 2, "http://a.com/p?utm_source=x"),
        (2, good * 2, "HTTP://A.COM:80/p/"),     # refetch of doc 1's page
        (3, good * 2 + "extra", "http://b.com/q"),
        (4, "tiny", "http://c.com/r"),           # url-unique, fails quality
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, url string"
    )
    params = dict(min_tokens=5, min_uniq_ratio=0.2, url_col="url")
    out_ids = sorted(
        r["doc_id"] for r in curate.curate_corpus(docs, **params).collect()
    )
    assert out_ids == [1, 3]  # 2 lost to url_dup, 4 to quality
    assert _funnel(docs, **params) == {None: 2, "url_dup": 1, "quality": 1}


@pytest.mark.slow
def test_cms_sketch_bounds_merge_and_plan(spark):
    """G72: count-min sketch — never undercounts, exact when collision-free,
    mergeable by summing cells, NULL keys skipped, and the
    probe join broadcasts the sketch (not the probe side)."""
    from ferc_xbrl_extractor_spark.operators.analytics import (
        cms_build,
        cms_estimate,
    )

    rows = ["a"] * 50 + ["b"] * 20 + ["c"] * 5 + ["d"] * 2 + ["e"] * 1
    df = spark.createDataFrame([(k,) for k in rows], "k string")
    truth = {"a": 50, "b": 20, "c": 5, "d": 2, "e": 1}
    probes = spark.createDataFrame([(k,) for k in truth], "k string")

    # tight width forces collisions: estimates may overshoot, never under
    sk_tight = cms_build(df, "k", depth=3, width=4)
    est_tight = {
        r["k"]: r["n_est"]
        for r in cms_estimate(sk_tight, probes, "k", depth=3, width=4).collect()
    }
    assert set(est_tight) == set(truth)
    for k, n in truth.items():
        assert est_tight[k] >= n
    # sketch relation never exceeds depth x width cells
    assert sk_tight.count() <= 3 * 4

    # roomy width: 5 keys in 4096 buckets x 3 rows -> exact (deterministic
    # given the fixed md5 salts; this would fail permanently, not flakily)
    sk = cms_build(df, "k", depth=3, width=4096)
    est = {
        r["k"]: r["n_est"]
        for r in cms_estimate(sk, probes, "k", depth=3, width=4096).collect()
    }
    assert est == truth
    # unseen key estimates 0 in the roomy sketch
    ghost = spark.createDataFrame([("zzz",)], "k string")
    assert cms_estimate(sk, ghost, "k", depth=3, width=4096).collect()[0][
        "n_est"
    ] == 0

    # mergeable: cell-summed union of two half-sketches == whole sketch
    half1 = cms_build(df.filter("k < 'c'"), "k", depth=3, width=4096)
    half2 = cms_build(df.filter("k >= 'c'"), "k", depth=3, width=4096)
    merged = (
        half1.unionByName(half2)
        .groupBy("sketch_row", "bucket")
        .agg(F.sum("n").alias("n"))
    )
    whole = {(r["sketch_row"], r["bucket"]): r["n"] for r in sk.collect()}
    got = {(r["sketch_row"], r["bucket"]): r["n"] for r in merged.collect()}
    assert got == whole

    # NULL keys are skipped, not pooled
    ndf = spark.createDataFrame([("a",), (None,), (None,)], "k string")
    sk_n = cms_build(ndf, "k", depth=2, width=16)
    assert sk_n.agg(F.sum("n")).collect()[0][0] == 2  # 1 row x 2 sketch rows

    # the probe join broadcasts the (<= depth*width row) sketch
    plan = (
        cms_estimate(sk, probes, "k", depth=3, width=4096)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan

    import pytest as _pytest
    with _pytest.raises(ValueError, match="depth"):
        cms_build(df, "k", depth=0)
    with _pytest.raises(ValueError, match="depth"):
        cms_build(df, "k", depth=9)  # row 8 would overflow h1 + 8*h2
    with _pytest.raises(ValueError, match="width"):
        cms_build(df, "k", width=1)


@pytest.mark.slow
def test_mixture_allocation_waterfill(spark):
    """G73: water-filling mixture allocation — hand goldens, the
    budget>=corpus and budget=0 edges, zero/NULL-weight exclusion,
    block-count invariance, and equality with an iterative fixpoint
    reference on seeded random instances."""
    from ferc_xbrl_extractor_spark.operators.sampling import (
        mixture_allocation,
    )

    def run(rows, budget, num_blocks=8):
        df = spark.createDataFrame(
            rows, "domain string, avail_tokens long, weight long"
        )
        out = mixture_allocation(df, budget, num_blocks=num_blocks)
        return {
            r["domain"]: (r["allocated"], r["saturated"], r["rate"])
            for r in out.collect()
        }

    # B saturates at 10; A drinks the remaining 50 of the 60 budget
    got = run([("A", 100, 1), ("B", 10, 1)], 60)
    assert got == {"A": (50, False, 0.5), "B": (10, True, 1.0)}

    # zero/NULL weight: excluded from the fill, allocated 0; NULL avail = 0
    got = run(
        [("A", 100, 1), ("Z", 50, 0), ("N", 50, None), ("E", None, 2)], 80
    )
    assert got["Z"] == (0, False, 0.0)
    assert got["N"] == (0, False, 0.0)
    assert got["E"][0] == 0 and got["E"][2] is None  # avail 0 -> rate NULL
    # A and E split by weight, E has nothing: A takes the whole budget
    assert got["A"] == (80, False, 0.8)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="budget"):
        run([("A", 1, 1)], -1)


@pytest.mark.slow
def test_mixture_allocation_fixpoint_property(spark):
    """G73 slow twin: the no-saturation / all-saturated / zero-budget
    edges, plus seeded random instances vs the iterative fixpoint
    reference across block counts (1 == 8 -> blocking invariance)."""
    from ferc_xbrl_extractor_spark.operators.sampling import (
        mixture_allocation,
    )

    def run(rows, budget, num_blocks=8):
        df = spark.createDataFrame(
            rows, "domain string, avail_tokens long, weight long"
        )
        out = mixture_allocation(df, budget, num_blocks=num_blocks)
        return {
            r["domain"]: (r["allocated"], r["saturated"], r["rate"])
            for r in out.collect()
        }

    # equal weights, nothing saturates: r = 90/3 -> A 60, B 30
    got = run([("A", 100, 2), ("B", 100, 1)], 90)
    assert got == {"A": (60, False, 0.6), "B": (30, False, 0.3)}

    # budget >= corpus: everything saturates at avail
    got = run([("A", 5, 1), ("B", 7, 3)], 1000)
    assert got == {"A": (5, True, 1.0), "B": (7, True, 1.0)}

    # budget 0: all zero
    got = run([("A", 5, 1), ("B", 7, 3)], 0)
    assert {k: v[0] for k, v in got.items()} == {"A": 0, "B": 0}

    _mixture_fixpoint_trials(spark, run, trials=4, block_grid=(1, 8))


def _mixture_fixpoint_trials(spark, run, trials, block_grid):
    import random as _random

    def ref(items, budget):
        sat: set = set()
        while True:
            rb = budget - sum(a for d, (a, w) in items.items() if d in sat)
            rw = sum(w for d, (a, w) in items.items() if d not in sat)
            new = set(sat)
            for d, (a, w) in items.items():
                if d not in sat and rw > 0 and a * rw <= w * rb:
                    new.add(d)
            if new == sat:
                break
            sat = new
        rb = budget - sum(a for d, (a, w) in items.items() if d in sat)
        rw = sum(w for d, (a, w) in items.items() if d not in sat)
        return {
            d: a if d in sat else (w * rb) // rw
            for d, (a, w) in items.items()
        }

    rng = _random.Random(7)
    for trial in range(trials):
        n = rng.randint(1, 9)
        items = {
            f"d{i}": (rng.randint(0, 60), rng.randint(1, 9))
            for i in range(n)
        }
        budget = rng.randint(0, 250)
        rows = [(d, a, w) for d, (a, w) in items.items()]
        expect = ref(items, budget)
        for nb in block_grid:
            got = {
                k: v[0] for k, v in run(rows, budget, num_blocks=nb).items()
            }
            assert got == expect, (items, budget, nb, got, expect)


@pytest.mark.slow
def test_window_funnel_goldens(spark):
    """G75: windowed event funnel — per-user longest ordered prefix,
    same-timestamp progression, the window cutting late completions,
    out-of-order arrivals (funnel is event-time), and validation."""
    from ferc_xbrl_extractor_spark.operators.analytics import window_funnel

    rows = [
        # u1 completes all three in order
        (1, "2024-01-01 00:00:00", "signup"),
        (1, "2024-01-02 00:00:00", "click"),
        (1, "2024-01-03 00:00:00", "purchase"),
        # u2: purchase BEFORE click -> stops at click (step 2)
        (2, "2024-01-01 00:00:00", "signup"),
        (2, "2024-01-03 00:00:00", "click"),
        (2, "2024-01-02 00:00:00", "purchase"),
        # u3: same-timestamp signup+click both count; no purchase
        (3, "2024-01-01 00:00:00", "signup"),
        (3, "2024-01-01 00:00:00", "click"),
        # u4: never signed up -> absent from the result
        (4, "2024-01-01 00:00:00", "click"),
        (4, "2024-01-02 00:00:00", "purchase"),
        # u5: completes, but purchase lands outside the 3-day window
        (5, "2024-01-01 00:00:00", "signup"),
        (5, "2024-01-02 00:00:00", "click"),
        (5, "2024-01-09 00:00:00", "purchase"),
        # u6: two signups; funnel anchors on the EARLIEST
        (6, "2024-01-05 00:00:00", "signup"),
        (6, "2024-01-01 00:00:00", "signup"),
        (6, "2024-01-02 00:00:00", "click"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts_s string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")

    out = window_funnel(df, ["signup", "click", "purchase"])
    got = {r["user_id"]: r["steps_reached"] for r in out.collect()}
    assert got == {1: 3, 2: 2, 3: 2, 5: 3, 6: 2}

    win = window_funnel(df, ["signup", "click", "purchase"], window="3 days")
    goww = {
        r["user_id"]: (r["steps_reached"], str(r["t_last"]))
        for r in win.collect()
    }
    assert goww[5] == (2, "2024-01-02 00:00:00")  # purchase beyond window
    assert goww[1] == (3, "2024-01-03 00:00:00")
    assert goww[6][0] == 2  # anchored at Jan 1, click Jan 2 inside

    # t_first is always step 1's reach; two-step funnel works
    two = window_funnel(df, ["click", "purchase"])
    got2 = {r["user_id"]: r["steps_reached"] for r in two.collect()}
    assert got2 == {1: 2, 2: 1, 3: 1, 4: 2, 5: 2, 6: 1}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="at least 2"):
        window_funnel(df, ["signup"])
    with _pytest.raises(ValueError, match="distinct"):
        window_funnel(df, ["signup", "signup"])


def test_hist_quantiles_merge_and_estimates(spark):
    """G76: mergeable histogram quantiles — hand-checked interpolation,
    rollup ≡ direct build (exact mergeability), tail clamping, NULL
    skip, and validation."""
    from ferc_xbrl_extractor_spark.operators.analytics import (
        hist_partials,
        hist_quantile,
        hist_rollup,
    )

    # 100 values 0.5, 1.5, ..., 99.5 in one group, two storage parts
    df = spark.createDataFrame(
        [(("a" if i % 2 else "b"), "g", i + 0.5) for i in range(100)],
        "part string, grp string, v double",
    )
    edges = [0.0, 25.0, 50.0, 75.0, 100.0]
    parts = hist_partials(df, ["grp", "part"], "v", edges)
    rolled = hist_rollup(parts, ["grp"])
    direct = hist_partials(df, ["grp"], "v", edges)
    assert {
        (r["grp"], r["bucket"], r["n"]) for r in rolled.collect()
    } == {(r["grp"], r["bucket"], r["n"]) for r in direct.collect()}
    # uniform data: 25 per bucket
    assert {r["n"] for r in direct.collect()} == {25}

    q = hist_quantile(rolled, ["grp"], edges, [0.5, 0.9]).collect()[0]
    # p50: rank 50 crosses bucket 1 exactly at its end -> 50.0
    # p90: rank 90 in bucket 3: 75 + 25*(90-75)/25 = 90.0
    assert q["p5"] == 50.0 and q["p9"] == 90.0

    # tails clamp into the edge buckets
    t = spark.createDataFrame(
        [("g", -5.0), ("g", 500.0)], "grp string, v double"
    )
    tb = {r["bucket"] for r in hist_partials(t, ["grp"], "v", edges).collect()}
    assert tb == {0, 3}

    # NULLs are not counted
    n = spark.createDataFrame([("g", None)], "grp string, v double")
    assert hist_partials(n, ["grp"], "v", edges).count() == 0

    import pytest as _pytest
    with _pytest.raises(ValueError, match="ascending"):
        hist_partials(df, ["grp"], "v", [1.0, 1.0])
    with _pytest.raises(ValueError, match="quantiles"):
        hist_quantile(rolled, ["grp"], edges, [1.5])


def _knn_fixture(spark):
    # 24 vectors in 4 well-separated directions + noise, dim 4
    rows = []
    for i in range(24):
        base = [0.0] * 4
        base[i % 4] = 1.0
        base[(i + 1) % 4] = 0.05 * (i % 7)
        rows.append((i, [float(x) for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
    ]
    return df, cents


def test_knn_join_validation(spark):
    """G77 default tier: argument validation (full-probe ≡ brute and
    partial-probe consistency are slow twins; cross-engine value
    correctness is the g77_knn_join oracle, green at both scales)."""
    from ferc_xbrl_extractor_spark.operators.similarity import knn_join

    df, cents = _knn_fixture(spark)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="nprobe"):
        knn_join(df, cents, nprobe=0)
    with _pytest.raises(ValueError, match="nlist"):
        knn_join(df, cents, nprobe=9)


@pytest.mark.slow
def test_knn_join_full_probe_equals_brute(spark):
    """G77 slow twin: probing every list reproduces the brute
    cosine_topk self-join exactly."""
    from ferc_xbrl_extractor_spark.operators.similarity import (
        cosine_topk,
        knn_join,
    )

    df, cents = _knn_fixture(spark)

    brute = cosine_topk(
        df, df, k=3, query_id_col="vec_id", exclude_self=True
    )
    bset = {
        (r["vec_id"], r["neighbor_id"], r["sim"], r["rank"])
        for r in brute.collect()
    }
    full = knn_join(df, cents, k=3, nprobe=4)
    fset = {
        (r["vec_id"], r["neighbor_id"], r["sim"], r["rank"])
        for r in full.collect()
    }
    assert fset == bset


@pytest.mark.slow
def test_knn_join_partial_probe_consistency(spark):
    """G77 slow twin: partial probes return contiguous ranks, <= k rows
    per id, and every returned pair's sim equals the brute pair score."""
    from ferc_xbrl_extractor_spark.operators.similarity import (
        cosine_topk,
        knn_join,
    )

    df, cents = _knn_fixture(spark)
    brute = cosine_topk(
        df, df, k=23, query_id_col="vec_id", exclude_self=True
    )
    bsims = {
        (r["vec_id"], r["neighbor_id"]): r["sim"] for r in brute.collect()
    }
    part = knn_join(df, cents, k=3, nprobe=1).collect()
    per = {}
    for r in part:
        per.setdefault(r["vec_id"], []).append(r["rank"])
        assert r["sim"] == bsims[(r["vec_id"], r["neighbor_id"])]
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per.values())
    assert all(len(v) <= 3 for v in per.values())


def test_random_projection_validation(spark):
    """G78 default tier: validation (the replay bit-equality and JL band
    are the slow twin; cross-engine values are the g78 oracle)."""
    from ferc_xbrl_extractor_spark.operators.similarity import (
        random_projection,
    )

    df = spark.createDataFrame(
        [(0, [1.0] * 8)], "vec_id long, embedding array<double>"
    )
    import pytest as _pytest
    with _pytest.raises(ValueError, match="out_dim"):
        random_projection(df, dim=8, out_dim=0)
    with _pytest.raises(ValueError, match="projection only"):
        random_projection(df, dim=8, out_dim=16)


@pytest.mark.slow
def test_random_projection_jl_and_replay(spark):
    """G78 slow twin: numpy replay of the md5 matrix is bit-equal and
    pairwise distances stay inside the pinned JL band on a deterministic
    fixture."""
    import math
    import random as _random

    from ferc_xbrl_extractor_spark.operators.similarity import (
        random_projection,
        rp_matrix,
    )

    rng = _random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = random_projection(df, dim=64, out_dim=16)
    got = {r["vec_id"]: list(r["rp"]) for r in out.collect()}

    mat = rp_matrix(64, 16)
    scale = 1.0 / math.sqrt(16.0)
    for i, v in rows:
        expect = [
            sum(x * c for x, c in zip(v, mrow)) * scale for mrow in mat
        ]
        assert got[i] == expect  # same sequential fold -> bit-equal

    # distance preservation (deterministic fixture + fixed matrix: a
    # regression pin of the measured JL behavior, not a statistical
    # test): every pairwise Euclidean ratio in [0.55, 1.65], median
    # within 5% of 1 — the 64 -> 16 projection keeps the geometry
    def dist(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    ratios = sorted(
        dist(got[i], got[j]) / dist(rows[i][1], rows[j][1])
        for i in range(30)
        for j in range(i + 1, 30)
    )
    assert 0.55 < ratios[0] and ratios[-1] < 1.65, (ratios[0], ratios[-1])
    assert abs(ratios[len(ratios) // 2] - 1.0) < 0.05


def test_rrf_fuse_goldens_and_validation(spark):
    """G80 default tier: hand-computed RRF goldens — integer micro-unit
    contributions, order-free long sum, (score DESC, item ASC) re-rank,
    top-k cut, n_lists count — plus argument validation (cross-engine
    values are the g80_rrf_fuse oracle, hash-green at both scales)."""
    from ferc_xbrl_extractor_spark.operators.similarity import (
        RRF_MICRO,
        rrf_fuse,
    )

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (2, 20, 1)],
        "query_id long, neighbor_id long, rank long",
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2), (2, 20, 1), (2, 21, 2)],
        "query_id long, neighbor_id long, rank long",
    )
    got = {
        (r["query_id"], r["neighbor_id"]): (
            r["n_lists"], r["rrf_micro"], r["fused_rank"]
        )
        for r in rrf_fuse([a, b], k0=60).collect()
    }
    c = lambda r: RRF_MICRO // (60 + r)  # noqa: E731
    assert got[(1, 11)] == (2, c(2) + c(1), 1)  # both lists, best fused
    assert got[(1, 10)] == (1, c(1), 2)         # single list, rank-1
    assert got[(1, 13)] == (1, c(2), 3)
    assert got[(1, 12)] == (1, c(3), 4)
    assert got[(2, 20)] == (2, 2 * c(1), 1)
    assert got[(2, 21)] == (1, c(2), 2)

    # ties on rrf_micro break by item id ascending (deterministic)
    t = spark.createDataFrame(
        [(5, 9, 1), (5, 3, 1)], "query_id long, neighbor_id long, rank long"
    )
    tied = {
        r["neighbor_id"]: r["fused_rank"]
        for r in rrf_fuse([t], k0=60).collect()
    }
    assert tied == {3: 1, 9: 2}

    # top-k cut keeps exactly the best k fused rows per query
    top1 = rrf_fuse([a, b], k0=60, k=1).collect()
    assert sorted((r["query_id"], r["neighbor_id"]) for r in top1) == [
        (1, 11), (2, 20)
    ]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])
    with _pytest.raises(ValueError, match="k0"):
        rrf_fuse([a], k0=0)


@pytest.mark.slow
def test_label_aggregation_goldens(spark):
    """G81 (slow tier since r9 rebalance): majority vote, deterministic tie-break, NULL
    abstention, and the reliability-weighted revote — hand-computed
    goldens incl. an annotator whose weight flips a tied item
    (cross-engine values are the g81_label_agg oracle, hash-green at
    both scales)."""
    from ferc_xbrl_extractor_spark.operators.labels import (
        ACC_MICRO,
        aggregate_labels,
    )

    rows = [
        # item 1: a,a,b — majority 'a' 2/3; rater 3 dissents
        (1, 1, "a"), (1, 2, "a"), (1, 3, "b"),
        # item 2: a vs b tie — tie-break to 'a'; weighted: rater 1
        # (round-1 accuracy 1.0) outweighs rater 3 (1/3)
        (2, 1, "a"), (2, 3, "b"),
        # item 3: only rater 3 — 'b' either way
        (3, 3, "b"),
        # item 4: all-NULL annotations vanish from the output
        (4, 1, None),
    ]
    ann = spark.createDataFrame(
        rows, "item_id long, annotator_id long, label string"
    )
    maj = {r["item_id"]: r.asDict() for r in aggregate_labels(ann).collect()}
    assert set(maj) == {1, 2, 3}
    assert (maj[1]["label"], maj[1]["n_votes"], maj[1]["n_annotations"],
            maj[1]["n_labels"], maj[1]["agreement"]) == ("a", 2, 3, 2, 0.6667)
    assert (maj[2]["label"], maj[2]["agreement"]) == ("a", 0.5)
    assert (maj[3]["label"], maj[3]["agreement"]) == ("b", 1.0)

    out = {r["item_id"]: r.asDict()
           for r in aggregate_labels(ann, reweight=True).collect()}
    # round-1 accuracies vs majority: rater1 2/2, rater2 1/1, rater3 1/3
    w1 = ACC_MICRO + 1
    w3 = ACC_MICRO // 3 + 1
    assert out[1]["label_weighted"] == "a" and out[1]["w_micro"] == 2 * w1
    assert out[2]["label_weighted"] == "a" and out[2]["w_micro"] == w1
    assert out[3]["label_weighted"] == "b" and out[3]["w_micro"] == w3
    # majority columns unchanged by the reweight join
    assert out[1]["label"] == "a" and out[1]["n_votes"] == 2

    # a dissenting-but-reliable pool flips a tie the raw vote can't:
    # raters 1,2 perfect elsewhere, rater 3 always wrong elsewhere —
    # on the tied item their labels disagree, weighted picks 1,2's side
    rows2 = [
        (10, 1, "x"), (10, 2, "x"), (10, 3, "y"),
        (11, 1, "x"), (11, 2, "x"), (11, 3, "y"),
        # tie by count: one vote 'p' (rater 3) vs one vote 'q' (rater 1);
        # raw tie-break picks 'p' (label asc), weighted picks 'q'
        (12, 3, "p"), (12, 1, "q"),
    ]
    ann2 = spark.createDataFrame(
        rows2, "item_id long, annotator_id long, label string"
    )
    out2 = {r["item_id"]: r.asDict()
            for r in aggregate_labels(ann2, reweight=True).collect()}
    assert out2[12]["label"] == "p"           # raw tie-break: label asc
    assert out2[12]["label_weighted"] == "q"  # reliability flips it


def test_containment_pairs_goldens(spark):
    """G82 default tier: directed containment goldens — a strict subset
    document scores 1.0 into its superset while the reverse direction
    stays below threshold (the case symmetric Jaccard can't express),
    mutual near-dups appear in both directions, unrelated docs don't
    pair (cross-engine values are the g82_containment oracle over the
    excerpt-augmented corpus, hash-green at both scales)."""
    from ferc_xbrl_extractor_spark.operators.neardup import (
        containment_pairs,
        jaccard_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),                                   # 10 tokens, 8 shingles
        (2, base + " lam mu nu xi om pi rho sig tau ups phi chi"),
        (3, "one two three four five six seven eight nine ten"),
        (4, base + " extra"),                        # near-dup of 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(docs, n=3, threshold=0.6).collect()
    }
    # doc1's 8 shingles all appear in doc2 (20 shingles) and doc4
    assert got[(1, 2)] == 1.0
    assert (2, 1) not in got            # 8/20 = 0.4 < threshold
    assert got[(1, 4)] == 1.0           # subset of the near-dup too
    assert got[(4, 1)] == round(8 / 9, 4)
    assert not any(3 in p for p in got)  # unrelated doc never pairs

    # symmetric Jaccard misses the subset pair entirely at the same bar
    jac = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(docs, n=3, threshold=0.6).collect()
    }
    assert (1, 2) not in jac and (2, 1) not in jac


def test_scd2_intervals_goldens(spark):
    """G83 default tier: hand-computed SCD2 goldens — change rows open
    versions, consecutive duplicate states merge into the earlier
    version, NULL→value / value→NULL are changes while NULL→NULL is
    not, intervals chain exactly (valid_to = next valid_from), the last
    version is current, and equal timestamps break by the order column
    (cross-engine values are the g83_scd2 oracle, hash-green at both
    scales)."""
    import datetime as _dt

    from ferc_xbrl_extractor_spark.operators.analytics import scd2_intervals

    t = lambda s: _dt.datetime(2024, 1, s)  # noqa: E731
    rows = [
        # user 1: a, a (dup merges), b, b (dup), a again -> 3 versions
        (1, t(1), 1, "a"), (1, t(2), 2, "a"), (1, t(3), 3, "b"),
        (1, t(4), 4, "b"), (1, t(5), 5, "a"),
        # user 2: NULL, NULL (no change), x, NULL -> 3 versions
        (2, t(1), 6, None), (2, t(2), 7, None), (2, t(3), 8, "x"),
        (2, t(4), 9, None),
        # user 3: two same-instant rows -> event_id orders them; the
        # second (id 11) differs so it opens version 2 at the same ts
        (3, t(1), 10, "p"), (3, t(1), 11, "q"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = scd2_intervals(
        df, ["user_id"], ts_col="ts", attr_cols=["event_type"],
        order_cols=["event_id"],
    ).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    for v in by_user.values():
        v.sort(key=lambda r: r["version"])

    u1 = [(r["event_type"], r["valid_from"], r["valid_to"], r["is_current"])
          for r in by_user[1]]
    assert u1 == [
        ("a", t(1), t(3), False),
        ("b", t(3), t(5), False),
        ("a", t(5), None, True),
    ]
    u2 = [(r["event_type"], r["valid_from"], r["valid_to"]) for r in by_user[2]]
    assert u2 == [(None, t(1), t(3)), ("x", t(3), t(4)), (None, t(4), None)]
    u3 = [(r["event_type"], r["valid_from"], r["valid_to"]) for r in by_user[3]]
    assert u3 == [("p", t(1), t(1)), ("q", t(1), None)]

    # default attrs = every non-key/ts/order column
    out2 = scd2_intervals(
        df, ["user_id"], ts_col="ts", order_cols=["event_id"]
    )
    assert "version" in out2.columns

    import pytest as _pytest
    with _pytest.raises(ValueError, match="key"):
        scd2_intervals(df, [], ts_col="ts", attr_cols=["event_type"])
    with _pytest.raises(ValueError, match="attr"):
        scd2_intervals(
            df.select("user_id", "ts", "event_id"), ["user_id"],
            ts_col="ts", order_cols=["event_id"],
        )


@pytest.mark.slow
def test_ppjoin_equals_jaccard_pairs(spark):
    """G84 slow twin: prefix-filtered join ≡ the full inverted-index
    join — value identity at two thresholds on a stopword-heavy fixture
    (every doc shares a universal header trigram, the posting list the
    prefix filter exists to skip), plus validation. Cross-engine
    exactness is the g84_ppjoin oracle — literally the g2_jaccard SQL —
    hash-green at both scales."""
    from ferc_xbrl_extractor_spark.operators.neardup import (
        jaccard_pairs,
        ppjoin_pairs,
    )

    header = "common header line"          # universal trigram, df = |docs|
    base = "alpha beta gamma delta epsilon zeta eta theta".split()
    rows = []
    for i in range(24):
        body = list(base)
        body[i % len(base)] = f"tok{i}"    # one mutation per doc
        if i % 3 == 0:
            body.append(f"tail{i // 3}")
        rows.append((i, header + " " + " ".join(body)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    for t in (0.5, 0.8):
        full = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in jaccard_pairs(docs, n=3, threshold=t).collect()
        }
        pp = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in ppjoin_pairs(docs, n=3, threshold=t).collect()
        }
        assert pp == full, (t, pp ^ full)
    assert full, "fixture must produce pairs for the comparison to bite"

    import pytest as _pytest
    with _pytest.raises(ValueError, match="threshold"):
        ppjoin_pairs(docs, threshold=0.0)
    with _pytest.raises(ValueError, match="threshold"):
        ppjoin_pairs(docs, threshold=1.5)


def test_triangle_counts_goldens(spark):
    """G85 default tier: hand-checked triangle goldens — K4 corners in 3
    triangles each, a pendant and a 4-cycle in none, duplicate/reversed/
    self-loop edges normalized away, and a star-plus-rim (wheel) graph
    where the hub's count equals the rim size (cross-engine values are
    the g85_triangles oracle over the lineitem-derived graph, hash-green
    at both scales)."""
    import itertools

    from ferc_xbrl_extractor_spark.operators.graph import triangle_counts

    edges = list(itertools.combinations(range(4), 2))   # K4
    edges += [(3, 4)]                                   # pendant
    edges += [(10, 11), (11, 12), (12, 13), (13, 10)]   # C4: no triangles
    edges += [(0, 1), (1, 0), (2, 2)]                   # dup, reversed, loop
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 4: 0,
                   10: 0, 11: 0, 12: 0, 13: 0}

    # wheel W6: hub 99 joined to a 6-cycle rim — hub in 6 triangles
    # (one per rim edge), each rim node in 2; the hub is the skewed
    # high-degree node the orientation exists to keep off one reducer
    rim = [(i, (i + 1) % 6) for i in range(6)]
    wheel = rim + [(99, i) for i in range(6)]
    wf = spark.createDataFrame(wheel, "src long, dst long")
    wgot = {r["node"]: r["n_triangles"] for r in triangle_counts(wf).collect()}
    assert wgot[99] == 6
    assert all(wgot[i] == 2 for i in range(6))


@pytest.mark.slow
def test_bloom_join_exactness_and_prefilter(spark):
    """G86 slow twin: bloom_join ≡ the plain inner join on a fixture
    sized so false positives occur at the filter's 1% rate (the join
    must remove them), duplicate dim keys multiply rows exactly as the
    plain join does, and the prefilter drops all but a handful of the
    non-matching fact rows before the join (cross-engine exactness is
    the g86_bloom_join oracle — the plain-join SQL — hash-green at both
    scales)."""
    from ferc_xbrl_extractor_spark.operators.bloom import (
        _blocked_word_mask,
        blocked_bloom_words,
        bloom_join,
    )

    fact = spark.range(20_000).selectExpr("id AS okey", "id * 10 AS v")
    dim_rows = [(k, f"d{k}") for k in range(0, 200, 20)]   # 10 keys
    dim_rows.append((40, "d40b"))                          # duplicate key
    dim = spark.createDataFrame(dim_rows, "okey long, name string")

    plain = {(r["okey"], r["v"], r["name"])
             for r in fact.join(dim, "okey").collect()}
    got = {
        (r["okey"], r["v"], r["name"])
        for r in bloom_join(fact, dim, "okey").collect()
    }
    assert got == plain
    assert len(plain) == 11  # 10 keys + the duplicated key's second row

    # the prefilter itself, built as bloom_join builds it: at least one
    # of the 19,990 non-matching fact keys survives the bitmap (so the
    # exact join above removed false positives), and at most ~1% do
    words, w, k = blocked_bloom_words(dim.select("okey"), "okey")
    word, mask = _blocked_word_mask("okey", w, k)
    survivors = (
        fact.withColumn("__bw", word)
        .withColumn("__bm", mask)
        .join(F.broadcast(words), "__bw")
        .filter(F.col("__bits").bitwiseAND(F.col("__bm")) == F.col("__bm"))
        .count()
    )
    assert 10 < survivors <= 10 + 200, survivors

    import pytest as _pytest

    # r10: a caller column colliding with a working column raises
    # instead of failing analysis / silently dropping (r9 ADVICE)
    with _pytest.raises(ValueError, match="__bits"):
        bloom_join(fact.withColumn("__bits", F.lit(1)), dim, "okey")

    # backtick-bearing key column builds and answers correctly (r9
    # ADVICE: the lane expression interpolated the raw name)
    bt_fact = fact.withColumnRenamed("okey", "o`key")
    bt_dim = dim.withColumnRenamed("okey", "o`key")
    got = {
        (r["o`key"], r["v"], r["name"])
        for r in bloom_join(bt_fact, bt_dim, "o`key").collect()
    }
    assert got == plain


@pytest.mark.slow
def test_personalized_pagerank_matches_python_reference(spark):
    """G87 slow twin: the seed-restart recurrence equals a serial Python replay —
    teleport mass lands only on seeds (base·1[v ∈ seeds]), r0
    concentrates on seeds, non-seed sources absent from a round hold 0
    — and a seeded run orders closeness-to-seed differently from the
    uniform run on the same graph; validation raises on empty seeds
    (cross-engine values are the g87_ppr oracle, hash-green both
    scales)."""
    from ferc_xbrl_extractor_spark.operators import graph

    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (5, 4), (3, 5)]
    df = spark.createDataFrame(edges, "src long, dst long").repartition(5)
    seeds = [1]
    got = {
        r["node"]: r["node_rank"]
        for r in graph.pagerank(df, iters=3, seeds=seeds).collect()
    }

    uniq = sorted(set(edges))
    nodes = sorted({u for e in uniq for u in e})
    outdeg = {}
    for s, _d in uniq:
        outdeg[s] = outdeg.get(s, 0) + 1
    unit = 1_000_000

    def ref(iters, seed_set, damping=85):
        k = len(seed_set)
        base = ((100 - damping) * unit) // (100 * k)
        r = {v: (unit // k if v in seed_set else 0) for v in nodes}
        for _ in range(iters):
            nxt = {v: (base if v in seed_set else 0) for v in nodes}
            for s, d in uniq:
                nxt[d] += (damping * r[s]) // (100 * outdeg[s])
            r = nxt
        return r

    assert got == ref(3, {1})
    # the run crossing the periodic lineage cut stays exact too
    got9 = {
        r["node"]: r["node_rank"]
        for r in graph.pagerank(df, iters=9, seeds=seeds).collect()
    }
    assert got9 == ref(9, {1})
    # multi-seed
    got2 = {
        r["node"]: r["node_rank"]
        for r in graph.pagerank(df, iters=3, seeds=[1, 5]).collect()
    }
    assert got2 == ref(3, {1, 5})
    # the restart concentrates mass: the seed dominates the seeded run
    # (it is NOT the uniform run's top node — node 3 is), and the two
    # scores differ on every node
    uni = {
        r["node"]: r["node_rank"]
        for r in graph.pagerank(df, iters=3).collect()
    }
    assert max(got, key=lambda v: (got[v], -v)) == 1
    assert max(uni, key=lambda v: (uni[v], -v)) == 3
    assert all(got[v] != uni[v] for v in got)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="seeds"):
        graph.pagerank(df, seeds=[])


def test_salted_join_equals_plain_join(spark):
    """G88 default tier: salted_join ≡ the plain inner join on a
    hot-key fixture (one key owns 60% of the big side), duplicate
    small-side keys multiply exactly, NULL keys drop in both forms, the
    plan salts the SMALL side into `salts` copies (explode visible),
    and partitioning of the big side doesn't change the result
    (cross-engine exactness is the g88_salted_join oracle — the plain
    join — hash-green at both scales)."""
    from ferc_xbrl_extractor_spark.operators.joins import salted_join

    big_rows = [(0 if i % 10 < 6 else i % 5, i) for i in range(300)]
    big_rows.append((None, 999))
    big = spark.createDataFrame(big_rows, "k long, v long")
    dim_rows = [(0, "hot"), (1, "a"), (2, "b"), (2, "b2")]  # dup key 2
    dim = spark.createDataFrame(dim_rows, "k long, name string")

    plain = {(r["k"], r["v"], r["name"]) for r in big.join(dim, "k").collect()}
    for salts in (1, 8):
        got = {
            (r["k"], r["v"], r["name"])
            for r in salted_join(big, dim, "k", salts=salts).collect()
        }
        assert got == plain, salts
    # partition invariance of the big side
    got7 = {
        (r["k"], r["v"], r["name"])
        for r in salted_join(big.repartition(7), dim, "k", salts=8).collect()
    }
    assert got7 == plain

    import pytest as _pytest
    with _pytest.raises(ValueError, match="salts"):
        salted_join(big, dim, "k", salts=0)


def test_collocations_goldens(spark):
    """G89 default tier: hand-computed lift goldens — a repeated bigram
    scores above a dispersed pair, cross-document boundaries never
    pair, window=2 catches a gapped pair, min_count cuts, top_k cuts,
    rank tie-break is total (cross-engine values are the
    g89_collocations oracle, hash-green at both scales)."""
    from ferc_xbrl_extractor_spark.operators.text import collocations

    docs = spark.createDataFrame(
        [
            (1, "new york is a big city and new york never sleeps"),
            (2, "machine learning and machine learning again in new york"),
            (3, "the cat sat on the mat"),
        ],
        "doc_id long, text string",
    )
    out = {(r["w1"], r["w2"]): r for r in
           collocations(docs, window=2, min_count=2, top_k=10).collect()}
    # 26 tokens total; 'machine learning' 2·26/(2·2)=13.0 beats
    # 'new york' 3·26/(3·3)=8.6667
    assert out[("machine", "learning")]["lift"] == 13.0
    assert out[("machine", "learning")]["rank"] == 1
    assert out[("new", "york")]["lift"] == 8.6667
    assert out[("new", "york")]["n_pair"] == 3
    assert len(out) == 2  # everything else below min_count

    # window=2 pairs across one gap; doc boundaries never pair
    gap = spark.createDataFrame(
        [(1, "a x b"), (2, "a y b"), (3, "b a")],
        "doc_id long, text string",
    )
    got = {(r["w1"], r["w2"]): r["n_pair"] for r in
           collocations(gap, window=2, min_count=2, top_k=10).collect()}
    assert got[("a", "b")] == 2          # both via the 1-gap lead
    assert ("b", "a") not in got         # only 1 occurrence (doc 3)
    # top_k cuts deterministically
    assert len(collocations(gap, window=2, min_count=1, top_k=3)
               .collect()) == 3

    import pytest as _pytest
    with _pytest.raises(ValueError, match="window"):
        collocations(docs, window=0)
    with _pytest.raises(ValueError, match="top_k"):
        collocations(docs, top_k=0)


@pytest.mark.slow
def test_containment_dedup_and_curate_stage(spark):
    """G90: dedup_by_containment goldens — a strict subset drops and
    its container survives, mutual containment keeps the lower id,
    unrelated docs untouched — and the curation stage: containment
    drops attribute to 'contained' in the funnel (cross-engine values
    are the g90_containment_dedup oracle, hash-green at both scales)."""
    from ferc_xbrl_extractor_spark.operators.neardup import (
        dedup_by_containment,
    )
    from ferc_xbrl_extractor_spark.pipeline import curate

    base = ("the quick brown fox jumps over a lazy dog near the old "
            "river bank every summer morning")
    rows = [
        (1, base + " while children play outside in the warm golden sun"),
        (2, base),                                   # strict subset of 1
        (3, base + " while children play outside in the warm golden sun "),
        (4, "completely different words about machine learning and "
            "neural networks training on large datasets forever"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r["doc_id"]
            for r in dedup_by_containment(docs, threshold=0.8).collect()}
    # 2 ⊆ 1 drops; 1 and 3 are mutual (identical shingles) -> 3 drops
    assert kept == {1, 4}

    # curation stage: excerpt drops as 'contained', survivors match
    params = dict(min_tokens=5, min_uniq_ratio=0.2,
                  containment_threshold=0.8)
    out = {r["doc_id"] for r in curate.curate_corpus(docs, **params).collect()}
    assert out == {1, 4}
    # doc 3 is an EXACT dup after whitespace normalization, so the
    # earlier stage claims it; only the true proper subset (doc 2)
    # reaches the containment stage
    assert _funnel(docs, **params) == {None: 2, "contained": 1, "exact_dup": 1}

    # CLI flag parses and routes
    from ferc_xbrl_extractor_spark.curate_cli import parse
    args = parse(["corpus", "--output", "y",
                  "--containment-threshold", "0.8"])
    assert args.containment_threshold == 0.8


def test_script_profile_goldens(spark):
    """G91 default tier: script goldens — Latin/Cyrillic/CJK/digit
    documents label correctly, a mixed-script doc labels by its
    dominant class with the exact ratios, whitespace-only and empty
    docs label 'other' with zero ratios, and argmax ties break by
    declaration order (cross-engine values are the g91_script_profile
    oracle, generated from SCRIPT_CLASSES, hash-green at both
    scales)."""
    from ferc_xbrl_extractor_spark.operators.text import (
        with_script_profile,
    )

    docs = spark.createDataFrame(
        [
            (1, "hello world this is english text"),
            (2, "привет мир это русский текст"),
            (3, "你好世界这是中文"),
            (4, "mixed 混合 text с кириллицей"),
            (5, "12345 67890"),
            (6, "   ...   "),
            (7, ""),
            (8, "ab12"),  # 2 latin vs 2 digit: declaration order wins
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict()
           for r in with_script_profile(docs).collect()}
    assert got[1]["script"] == "latin"
    assert got[1]["latin_ratio"] == round(27 / 32, 4)
    assert got[2]["script"] == "cyrillic"
    assert got[3]["script"] == "cjk" and got[3]["cjk_ratio"] == 1.0
    assert got[4]["script"] == "cyrillic"          # dominant class
    assert got[4]["cjk_ratio"] == round(2 / 26, 4)
    assert got[5]["script"] == "digit"
    assert got[6]["script"] == "other" and got[6]["latin_ratio"] == 0.0
    assert got[7]["script"] == "other" and got[7]["n_chars"] == 0
    assert got[8]["script"] == "latin"             # tie -> earlier class


def test_script_profile_accented_latin_and_collision(spark):
    """G91 r8-ADVICE fixes: accented Latin letters (Latin-1 Supplement
    and Latin Extended through ɏ) count as latin — a French/Vietnamese
    doc no longer mislabels 'digit'/'other' — while × and ÷ stay
    excluded; and the operator raises instead of silently overwriting
    an existing n_chars/script/*_ratio column."""
    from ferc_xbrl_extractor_spark.operators.text import (
        with_script_profile,
    )

    docs = spark.createDataFrame(
        [
            (1, "éléphant à côté ñandú ß"),       # accented latin
            (2, "Việt Nam đất nước"),              # extended latin
            (3, "2×3 4÷2 11"),                     # signs are NOT latin
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict()
           for r in with_script_profile(docs).collect()}
    assert got[1]["script"] == "latin"
    assert got[1]["latin_ratio"] == round(19 / 23, 4)
    assert got[2]["script"] == "latin"
    assert got[3]["script"] == "digit" and got[3]["latin_ratio"] == 0.0

    import pytest as _pytest
    for bad in ("n_chars", "script", "latin_ratio"):
        with _pytest.raises(ValueError, match="overwrite"):
            with_script_profile(
                docs.withColumn(bad, F.lit(1))
            )


def test_decayed_counts_goldens(spark):
    """G92 default tier: hand-computed decay goldens — same-day events
    score the full micro-unit, one-half-life-old events exactly the
    rounded half, beyond-horizon and future rows contribute zero,
    n_recent counts one half-life
    (cross-engine values are the g92_decayed_counts oracle over the
    shared LUT, hash-green at both scales)."""
    import datetime as _dt

    from ferc_xbrl_extractor_spark.operators.analytics import (
        decay_lut_micro,
        decayed_counts,
    )

    lut = decay_lut_micro(7, 64)
    assert lut[0] == 1_000_000 and lut[7] == 500_000
    ref = _dt.datetime(2024, 2, 1)
    rows = [
        ("a", ref, 1),                              # age 0: 1_000_000
        ("a", ref - _dt.timedelta(days=7), 1),      # age 7: 500_000
        ("a", ref - _dt.timedelta(days=100), 1),    # beyond horizon: 0
        ("a", ref + _dt.timedelta(days=1), 1),      # future: 0
        ("b", ref - _dt.timedelta(days=14), 3),     # age 14
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, w long")
    got = {r["k"]: r.asDict()
           for r in decayed_counts(
               df, ["k"], ts_col="ts", ref_date="2024-02-01",
               half_life_days=7, horizon_days=64).collect()}
    assert got["a"]["decayed_micro"] == 1_500_000
    assert got["a"]["n_events"] == 4 and got["a"]["n_recent"] == 2
    assert got["b"]["decayed_micro"] == lut[14]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="half_life"):
        decayed_counts(df, ["k"], half_life_days=0)


def test_curate_script_screen(spark):
    """G91 curation stage: allowed_scripts keeps only dominant-script
    members, drops attribute to 'script' in the funnel, and the CLI
    flag parses a list."""
    from ferc_xbrl_extractor_spark.pipeline import curate

    good = "the quick brown fox jumps over the lazy dog near the river "
    docs = spark.createDataFrame(
        [
            (1, good * 2),
            (2, "привет мир это русский текст про собаку и реку " * 2),
            (3, good + "и немного кириллицы but mostly latin text here ok"),
        ],
        "doc_id long, text string",
    )
    params = dict(min_tokens=5, min_uniq_ratio=0.1,
                  allowed_scripts=["latin"])
    out = {r["doc_id"] for r in curate.curate_corpus(docs, **params).collect()}
    assert out == {1, 3}  # doc 3 is latin-dominant despite mixed chars
    assert _funnel(docs, **params) == {None: 2, "script": 1}

    # multi-script allow-list keeps both
    both = curate.curate_corpus(
        docs, min_tokens=5, min_uniq_ratio=0.1,
        allowed_scripts=["latin", "cyrillic"],
    )
    assert {r["doc_id"] for r in both.collect()} == {1, 2, 3}

    from ferc_xbrl_extractor_spark.curate_cli import parse
    args = parse(["corpus", "--output", "y",
                  "--allowed-scripts", "latin", "cyrillic"])
    assert args.allowed_scripts == ["latin", "cyrillic"]


def test_calibration_report_goldens(spark):
    """G93 default tier: hand-computed reliability goldens — per-bin
    confidence/observed-rate means as exact integer floor divisions,
    |gap| rows, the weighted ECE identical on every row, a perfectly
    calibrated scorer reports near-zero gaps, score=1.0 lands in the
    top bin, NULL rows drop (cross-engine values are the
    g93_calibration oracle, hash-green at both scales)."""
    from ferc_xbrl_extractor_spark.operators.classifier import (
        calibration_report,
    )

    rows = [(i / 10 if i < 10 else 0.999, i % 2 == 0) for i in range(20)]
    rows += [(None, True), (0.5, None), (1.0, True)]
    df = spark.createDataFrame(rows, "score double, label boolean")
    got = {r["bin"]: r.asDict()
           for r in calibration_report(df, "score", "label",
                                       n_bins=5).collect()}
    # bin 0 holds scores 0.0, 0.1 -> conf floor((0+100000)/2)=50000,
    # obs = 1/2 -> 500000, gap 450000
    assert (got[0]["n"], got[0]["n_pos"], got[0]["conf_micro"],
            got[0]["obs_micro"], got[0]["gap_micro"]) == (
        2, 1, 50000, 500000, 450000)
    # score exactly 1.0 clamps into the top bin
    assert got[4]["n"] == 13
    ece = got[0]["ece_micro"]
    assert all(r["ece_micro"] == ece for r in got.values())
    total_n = sum(r["n"] for r in got.values())
    assert total_n == 21  # the two NULL rows dropped
    assert ece == sum(r["n"] * r["gap_micro"]
                      for r in got.values()) // total_n

    # a perfectly calibrated scorer: in each bin, observed == conf
    cal_rows = []
    for b in range(10):
        p = b / 10 + 0.05
        for j in range(20):
            cal_rows.append((p, j < round(p * 20)))
    cal = spark.createDataFrame(cal_rows, "score double, label boolean")
    crep = calibration_report(cal, "score", "label", n_bins=10).collect()
    assert all(r["gap_micro"] <= 50000 for r in crep)  # quantization only
    assert crep[0]["ece_micro"] <= 50000

    import pytest as _pytest
    with _pytest.raises(ValueError, match="n_bins"):
        calibration_report(df, "score", "label", n_bins=0)


def test_ppjoin_threshold_boundary_exact(spark):
    """G84 regression (review-found): at threshold 0.8 a pair whose
    Jaccard is EXACTLY 0.8 and whose rare shingles sit outside the
    shared set must still pair — the bare float prefix length
    floor((1-t)·n)+1 undershot by one ((1-0.8)·10 → 1.9999999999999996)
    and dropped it; same for the size filter at exactly t·max = min."""
    from ferc_xbrl_extractor_spark.operators.neardup import (
        jaccard_pairs,
        ppjoin_pairs,
    )

    # doc 1: 2 globally-rare shingles + 8 shared; doc 2: the 8 shared
    # (12 tokens / 10 shingles vs 10 tokens / 8 shingles)
    shared = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"
    docs = spark.createDataFrame(
        [(1, "r1 r2 " + shared), (2, shared)],
        "doc_id long, text string",
    )
    jac = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in jaccard_pairs(docs, n=3, threshold=0.8).collect()}
    assert jac == {(1, 2): 0.8}
    pp = {(r["id_a"], r["id_b"]): r["jaccard"]
          for r in ppjoin_pairs(docs, n=3, threshold=0.8).collect()}
    assert pp == jac


def test_review_fix_edges(spark):
    """Review-found hardening: unknown allowed_scripts fail fast
    instead of silently emptying the corpus; calibration clamps
    negative scores into bin 0 (conf mean still exposes them); the
    personalized-pagerank oracle generator quotes string seeds as SQL
    literals."""
    import pytest as _pytest

    from ferc_xbrl_extractor_spark.operators.classifier import (
        calibration_report,
    )
    from ferc_xbrl_extractor_spark.operators.graph import (
        pagerank_oracle_sql,
    )
    from ferc_xbrl_extractor_spark.pipeline import curate

    docs = spark.createDataFrame(
        [(1, "hello world text here ok fine")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="unknown script"):
        curate.curate_corpus(docs, min_tokens=2, allowed_scripts=["Latin"])
    with _pytest.raises(ValueError, match="unknown script"):
        curate.curate_funnel(docs, min_tokens=2,
                             allowed_scripts=["korean"])

    df = spark.createDataFrame(
        [(-0.01, True), (0.5, False)], "score double, label boolean"
    )
    got = {r["bin"]: r for r in
           calibration_report(df, "score", "label", n_bins=10).collect()}
    assert set(got) == {0, 5}
    assert got[0]["conf_micro"] < 0  # unclamped mean exposes the outlier

    sql = pagerank_oracle_sql(
        "SELECT src, dst FROM edges", iters=1, seeds=["o'reilly.com", "x"]
    )
    assert "'o''reilly.com'" in sql and '"' not in sql
