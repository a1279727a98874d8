"""G37/G38/G39 — k-means training, bigram-LM surprisal, deterministic
shuffle order. Each is pinned against an independent driver-side reference
implementation (numpy/pure-Python), plus determinism and scale-shape
checks."""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from ferc_xbrl_extractor_spark.operators import clustering, sampling, text


# ---------------------------------------------------------------- k-means


def _ref_kmeans(vecs: dict[int, list[float]], k: int, iters: int, scale=1000):
    """Pure-Python integer Lloyd's mirroring clustering.kmeans_train."""
    iv = {
        i: [int(_round_half_up(x * scale)) for x in v]
        for i, v in vecs.items()
    }
    order = sorted(iv, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    cents = [list(iv[i]) for i in order[:k]]
    dim = len(next(iter(iv.values())))

    def assign(v):
        best, bd = 0, None
        for c, cent in enumerate(cents):
            d = sum((a - b) * (a - b) for a, b in zip(v, cent))
            if bd is None or d < bd:
                best, bd = c, d
        return best

    for _ in range(iters):
        sums = [[0] * dim for _ in range(k)]
        cnt = [0] * k
        for v in iv.values():
            c = assign(v)
            cnt[c] += 1
            for j, x in enumerate(v):
                sums[c][j] += x
        for c in range(k):
            if cnt[c]:
                cents[c] = [
                    int(math.floor(float(s) / cnt[c])) for s in sums[c]
                ]
    return cents, {i: assign(v) for i, v in iv.items()}


def _round_half_up(x: float) -> float:
    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


def _vec_df(spark, n=40, d=6):
    rows = [
        (i, [((i * 7 + j * 13) % 19 - 9) / 4.0 + (0.0 if i % 3 else 2.5) for j in range(d)])
        for i in range(n)
    ]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        {i: v for i, v in rows},
    )


@pytest.mark.slow
def test_kmeans_matches_reference(spark):
    df, vecs = _vec_df(spark)
    cents = clustering.kmeans_train(df, k=4, iters=3)
    ref_cents, ref_assign = _ref_kmeans(vecs, k=4, iters=3)
    assert cents == ref_cents
    got = {
        r["vec_id"]: r["cluster"]
        for r in clustering.kmeans_fit_assign(df, k=4, iters=3).collect()
    }
    assert got == ref_assign


@pytest.mark.slow
def test_kmeans_deterministic_across_partitionings(spark):
    df, _ = _vec_df(spark, n=60)
    a = clustering.kmeans_train(df.repartition(1), k=5, iters=2)
    b = clustering.kmeans_train(df.repartition(17), k=5, iters=2)
    assert a == b


def test_kmeans_empty_cluster_carries_previous_centroid(spark):
    # Two far-apart tight groups, k=3: one seed never wins any point, so
    # its centroid must survive every update unchanged.
    rows = [(i, [0.0, 0.0]) for i in range(5)] + [
        (i, [100.0, 100.0]) for i in range(5, 10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = df.select(
        F.col("vec_id").alias("__id"),
        clustering.quantize_vec("embedding").alias("__iv"),
    )
    cents0 = clustering._seed_centroids(base, 3)
    cents = clustering.kmeans_train(df, k=3, iters=2)
    seeded_vals = {tuple(c) for c in cents0}
    # every centroid is either a group mean or an untouched seed
    for c in cents:
        assert tuple(c) in seeded_vals or tuple(c) in {
            (0, 0),
            (100000, 100000),
        }
    assert len(cents) == 3


def test_kmeans_k_exceeds_corpus_raises(spark):
    df, _ = _vec_df(spark, n=3)
    with pytest.raises(ValueError, match="exceeds corpus"):
        clustering.kmeans_train(df, k=5)


def test_kmeans_assign_is_shuffle_free(spark):
    df, _ = _vec_df(spark)
    cents = clustering.kmeans_train(df, k=3, iters=1)
    plan = (
        df.withColumn(
            "cluster",
            clustering.kmeans_assign(clustering.quantize_vec("embedding"), cents),
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_centroids_feed_ivf(spark):
    from ferc_xbrl_extractor_spark.operators import similarity

    df, _ = _vec_df(spark)
    cents = clustering.kmeans_train(df, k=3, iters=2)
    fl = clustering.centroids_float(cents)
    unit = similarity.unit_centroids_from_rows(fl)
    assigned = df.withColumn(
        "cluster", similarity.ivf_assign(similarity._unit(F.col("embedding")), unit)
    )
    assert assigned.where(F.col("cluster").isNull()).count() == 0
    assert assigned.select("cluster").distinct().count() <= 3


# ---------------------------------------------------------- bigram LM


def _ref_bigram_surprisal(docs: dict[int, str], alpha=0.5):
    toks = {i: t.split() for i, t in docs.items()}
    pairs = [
        (w[j], w[j + 1]) for w in toks.values() for j in range(len(w) - 1)
    ]
    from collections import Counter

    bg = Counter(pairs)
    ctx = Counter(p[0] for p in pairs)
    vocab = {t for w in toks.values() for t in w}
    out = {}
    for i, w in toks.items():
        if len(w) < 2:
            out[i] = None
            continue
        micros = []
        for j in range(len(w) - 1):
            p = (bg[(w[j], w[j + 1])] + alpha) / (
                ctx[w[j]] + alpha * len(vocab)
            )
            micros.append(int(_round_half_up(-math.log(p) * 1e6)))
        out[i] = _round4((sum(micros) / 1e6) / len(micros))
    return out


def _round4(x: float) -> float:
    """Spark F.round semantics: HALF_UP on the shortest decimal repr
    (BigDecimal.valueOf), not banker's on the exact double."""
    return float(
        Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    )


def test_bigram_surprisal_matches_reference(spark):
    docs = {
        0: "the cat sat on the mat",
        1: "the cat sat on the cat",
        2: "mat the on sat cat the",  # scrambled — order sensitivity
        3: "solo",  # <2 tokens -> NULL
        4: "completely novel words here now",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["bigram_surprisal"]
        for r in text.bigram_surprisal(df).collect()
    }
    assert got == _ref_bigram_surprisal(docs)
    # order sensitivity: scrambled doc scores strictly higher than original
    assert got[2] > got[0]


# ------------------------------------------------- Kneser-Ney bigram LM


def _ref_kn_surprisal(train: dict[int, str], discount=0.75, alpha=0.5):
    """Serial reference for kneser_ney_surprisal — same IEEE op order
    as the operator (pc then (max(n-D,0) + D*t1*pc)/cn)."""
    from collections import Counter

    tr = {i: t.split() for i, t in train.items()}
    pairs = [
        (w[j], w[j + 1]) for w in tr.values() for j in range(len(w) - 1)
    ]
    bg = Counter(pairs)
    cn = Counter()
    t1 = Counter()
    nb1 = Counter()
    for (w1, w2), n in bg.items():
        cn[w1] += n
        t1[w1] += 1
        nb1[w2] += 1
    b = len(bg)
    v = len({t for w in tr.values() for t in w})
    out = {}
    for i, w in tr.items():
        if len(w) < 2:
            out[i] = None
            continue
        micros = []
        for j in range(len(w) - 1):
            w1, w2 = w[j], w[j + 1]
            pc = (nb1.get(w2, 0) + alpha) / (b + alpha * v)
            if w1 in cn:
                p = (
                    max(bg.get((w1, w2), 0) - discount, 0.0)
                    + discount * t1[w1] * pc
                ) / cn[w1]
            else:
                p = pc
            micros.append(int(_round_half_up(-math.log(p) * 1e6)))
        out[i] = _round4((sum(micros) / 1e6) / len(micros))
    return out


@pytest.mark.slow
def test_kn_surprisal_matches_reference(spark):
    """G105: self-trained KN scores match the serial reference exactly
    (the cross-engine pin is the g105_kn_surprisal oracle, hash-green
    both scales); scrambled text scores strictly higher (order
    sensitivity survives the smoothing swap)."""
    docs = {
        0: "the cat sat on the mat",
        1: "the cat sat on the cat",
        2: "mat the on sat cat the",
        3: "solo",  # <2 tokens -> NULL
        4: "completely novel words here now",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["kn_surprisal"]
        for r in text.kneser_ney_surprisal(df).collect()
    }
    assert got == _ref_kn_surprisal(docs)
    assert got[2] > got[0]


# ------------------------------------------------------- epoch builder


def _epoch_df(spark):
    rows = [
        (i, " ".join(f"w{i}t{j}" for j in range(3 + i % 5)), "a" if i % 2 else "b")
        for i in range(80)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


@pytest.mark.slow
def test_build_epoch_equals_manual_composition(spark):
    from ferc_xbrl_extractor_spark.operators import packing
    from ferc_xbrl_extractor_spark.pipeline import epoch

    df = _epoch_df(spark)
    rates = {"a": 2.0, "b": 0.5}
    got = epoch.build_epoch(df, rates=rates, salt="s", budget=16)
    rep = sampling.repeat_by_rate(df, key_col="source", rates=rates, salt="s#rep")
    staged = rep.select(
        "*",
        F.concat(F.col("doc_id").cast("string"), F.lit("#"), F.col("epoch_copy")).alias("__eid"),
        F.size(text.tokens("text")).cast("long").alias("__ntok"),
    )
    manual = packing.pack_sequences(
        sampling.shuffle_order(staged, id_col="__eid", salt="s#ord"),
        order_col="shuffle_pos",
        token_col="__ntok",
        budget=16,
    )
    key = ["doc_id", "epoch_copy"]
    g = {tuple(r[k] for k in key): (r["shuffle_pos"], r["tok_offset"], r["seq_id"], r["n_seqs"]) for r in got.collect()}
    m_ = {tuple(r[k] for k in key): (r["shuffle_pos"], r["tok_offset"], r["seq_id"], r["n_seqs"]) for r in manual.collect()}
    assert g == m_ and len(g) > 80  # 'a' docs appear twice


def test_build_epoch_offsets_are_consistent(spark):
    from ferc_xbrl_extractor_spark.pipeline import epoch

    df = _epoch_df(spark)
    rows = sorted(
        epoch.build_epoch(df, rates={"a": 2.0}, salt="t", budget=32).collect(),
        key=lambda r: r["shuffle_pos"],
    )
    # positions are 0..n-1; offsets are the running token sum; seq ids
    # floor-divide the budget
    off = 0
    for pos, r in enumerate(rows):
        assert r["shuffle_pos"] == pos
        assert r["tok_offset"] == off
        assert r["seq_id"] == off // 32
        n = len(r["text"].split())
        assert r["n_seqs"] == (off + max(n, 1) - 1) // 32 - off // 32 + 1
        off += n


def test_build_epoch_materialize_round_trips_tokens(spark):
    from ferc_xbrl_extractor_spark.pipeline import epoch

    df = _epoch_df(spark)
    seqs = epoch.build_epoch(df, salt="m", budget=64, materialize=True).collect()
    total = sum(len(r["seq_text"].split()) for r in seqs)
    corpus = sum(len(r["text"].split()) for r in df.collect())
    assert total == corpus  # no rates -> every doc exactly once
    assert all(r["n_docs"] >= 1 for r in seqs)


# ------------------------------------------------------- shuffle order


def test_shuffle_order_matches_sorted_enumeration(spark):
    ids = list(range(300))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: r["shuffle_pos"]
        for r in sampling.shuffle_order(df, salt="s1").collect()
    }
    ref = {
        i: pos
        for pos, i in enumerate(
            sorted(
                ids,
                key=lambda i: (
                    hashlib.md5(f"s1:{i}".encode()).hexdigest(),
                    i,
                ),
            )
        )
    }
    assert got == ref
    assert sorted(got.values()) == list(range(300))


@pytest.mark.slow
def test_shuffle_order_salt_changes_order_and_is_stable(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    a = {r["doc_id"]: r["shuffle_pos"] for r in sampling.shuffle_order(df, salt="a").collect()}
    a2 = {r["doc_id"]: r["shuffle_pos"] for r in sampling.shuffle_order(df.repartition(13), salt="a").collect()}
    b = {r["doc_id"]: r["shuffle_pos"] for r in sampling.shuffle_order(df, salt="b").collect()}
    assert a == a2
    assert a != b


def test_repeat_by_rate_matches_reference(spark):
    rows = [(i, "a" if i % 2 else "b") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    rates = {"a": 2.25, "b": 0.5}
    got = sorted(
        (r["doc_id"], r["epoch_copy"])
        for r in sampling.repeat_by_rate(
            df, key_col="source", rates=rates, salt="x"
        ).collect()
    )
    ref = []
    for i, s in rows:
        r = rates[s]
        u = int(hashlib.md5(f"x{i}".encode()).hexdigest()[:15], 16)
        n = int(r) + (1 if u < int((r - int(r)) * (1 << 60)) else 0)
        ref.extend((i, c) for c in range(n))
    assert got == sorted(ref)
    # copy counts: every 'a' doc appears 2 or 3 times; 'b' docs 0 or 1
    from collections import Counter

    cnt = Counter(i for i, _ in got)
    for i, s in rows:
        assert cnt[i] in ({2, 3} if s == "a" else {0, 1})


def test_repeat_by_rate_sub_one_equals_sample_by_rate(spark):
    # r < 1 must reproduce sample_by_rate's exact keep-set (same hash,
    # same salt, same threshold) with epoch_copy == 0 everywhere.
    df = spark.createDataFrame([(i, "s") for i in range(500)], "doc_id long, source string")
    rates = {"s": 0.3}
    rep = sampling.repeat_by_rate(df, key_col="source", rates=rates, salt="z").collect()
    kept = {
        r["doc_id"]
        for r in sampling.sample_by_rate(df, key_col="source", rates=rates, salt="z").collect()
    }
    assert {r["doc_id"] for r in rep} == kept
    assert all(r["epoch_copy"] == 0 for r in rep)


def test_repeat_by_rate_integer_rate_exact(spark):
    df = spark.createDataFrame([(i, "s") for i in range(50)], "doc_id long, source string")
    out = sampling.repeat_by_rate(df, key_col="source", rates={"s": 3.0}, salt="q")
    assert out.count() == 150
    assert out.groupBy("doc_id").count().where("count <> 3").count() == 0


def test_repeat_by_rate_is_shuffle_free(spark):
    df = spark.createDataFrame([(1, "s")], "doc_id long, source string")
    plan = (
        sampling.repeat_by_rate(df, key_col="source", rates={"s": 1.5})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_repeat_by_rate_validation(spark):
    df = spark.createDataFrame([(1, "s")], "doc_id long, source string")
    with pytest.raises(ValueError, match="negative"):
        sampling.repeat_by_rate(df, key_col="source", rates={"s": -1.0})
    with pytest.raises(ValueError, match="negative"):
        sampling.repeat_by_rate(df, key_col="source", rates={}, default_rate=-1.0)


def test_shuffle_order_no_single_partition_sort(spark):
    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    plan = (
        sampling.shuffle_order(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the rank exchange must be hash-partitioned on the block key, never
    # a SinglePartition global sort
    assert "SinglePartition" not in plan


@pytest.mark.slow
def test_epoch_cli_end_to_end(spark, tmp_path, capsys):
    import json as _json

    from ferc_xbrl_extractor_spark.epoch_cli import parse, run_main
    from ferc_xbrl_extractor_spark.pipeline import shards as sh

    src = str(tmp_path / "corpus")
    spark.createDataFrame(
        [
            (i, " ".join(f"w{i}x{j}" for j in range(10)),
             "web" if i % 2 else "books")
            for i in range(30)
        ],
        "doc_id long, text string, source string",
    ).write.parquet(src)

    out = str(tmp_path / "epoch")
    argv = [src, "--output", out, "--rates", "books=2.0",
            "--default-rate", "1.0", "--budget", "40", "--salt", "s1",
            "--shards", "2", "--manifest"]
    assert run_main(parse(argv)) == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["input_rows"] == 30
    # books rows (15) repeat exactly 2.0x, web rows once: 15*2 + 15
    assert summary["epoch_rows"] == 45
    assert summary["published"] is True and summary["sequences"] > 0
    assert sh.verify_shards(spark, out)["ok"]
    back = spark.read.parquet(out)
    assert back.count() == 45
    assert {"epoch_copy", "shuffle_pos", "seq_id"} <= set(back.columns)
    # determinism: a retried identical run skips the committed output
    assert run_main(parse(argv)) == 0
    s2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s2["published"] is False
    assert s2["fingerprint"] == summary["fingerprint"]


def test_epoch_cli_rates_validation():
    import pytest as _pytest

    from ferc_xbrl_extractor_spark.epoch_cli import _parse_rates

    assert _parse_rates("a=1.5,b=0.25") == {"a": 1.5, "b": 0.25}
    assert _parse_rates(None) is None
    with _pytest.raises(SystemExit):
        _parse_rates("nope")


@pytest.mark.slow
def test_mixture_rates_and_cli_target_weights(spark, tmp_path, capsys):
    """G73 -> G41 bridge: mixture_rates derives supply-feasible rates
    (allocated/avail in [0,1], saturated strata at 1.0) and the CLI's
    --target-weights/--token-budget path threads them into build_epoch;
    flag pairing is validated."""
    import json as _json

    import pytest as _pytest

    from ferc_xbrl_extractor_spark.epoch_cli import parse, run_main
    from ferc_xbrl_extractor_spark.pipeline.epoch import mixture_rates

    # per-stratum supply: a=10 docs x 4 tokens = 40, b=10 x 8 = 80
    docs = spark.createDataFrame(
        [
            (i, " ".join(["t"] * (4 if i % 2 else 8)),
             "a" if i % 2 else "b")
            for i in range(20)
        ],
        "doc_id long, text string, source string",
    )
    # weight a=3, b=1, budget 60: ratio a=40/3 saturates first?
    # r0 = 60/4 = 15 >= 40/3 -> a saturates (40); rb=20, rw=1 -> b gets 20
    rates = mixture_rates(docs, budget=60, weights={"a": 3, "b": 1})
    assert rates == {"a": 1.0, "b": 0.25}

    # weight 0 excludes
    rates = mixture_rates(docs, budget=60, weights={"a": 0, "b": 1})
    assert rates["a"] == 0.0 and rates["b"] == 0.75

    # CLI path: derived rates recorded in the summary, epoch built
    src = str(tmp_path / "corpus_tw")
    docs.write.parquet(src)
    out = str(tmp_path / "epoch_tw")
    argv = [src, "--output", out, "--target-weights", "a=3,b=1",
            "--token-budget", "60", "--budget", "16", "--salt", "s1",
            "--shards", "2"]
    assert run_main(parse(argv)) == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["derived_rates"] == {"a": 1.0, "b": 0.25}
    # a kept whole (10 docs); b subsampled at 0.25 (Bernoulli, not exact)
    assert 10 <= summary["epoch_rows"] <= 20

    with _pytest.raises(SystemExit, match="mutually exclusive"):
        run_main(parse(argv + ["--rates", "a=1.0"]))
    with _pytest.raises(SystemExit, match="go together"):
        run_main(parse([src, "--output", out, "--target-weights", "a=3"]))
    with _pytest.raises(SystemExit, match="go together"):
        run_main(parse([src, "--output", out, "--token-budget", "10"]))
    # spec-shape validation mirrors _parse_rates (SystemExit, no traceback)
    for bad in ("a", "a=1.5", "=3"):
        with _pytest.raises(SystemExit, match="stratum=integer_weight"):
            run_main(parse([src, "--output", out, "--target-weights", bad,
                            "--token-budget", "10"]))

    # NULL strata: excluded from the derived dict (no None key to sort/
    # address), rows fall to build_epoch's default_rate
    docs_null = docs.unionByName(
        spark.createDataFrame(
            [(100, "t t t t", None)],
            "doc_id long, text string, source string",
        )
    )
    rates = mixture_rates(docs_null, budget=60, weights={"a": 3, "b": 1})
    assert rates == {"a": 1.0, "b": 0.25}
