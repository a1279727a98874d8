"""Broadcast Bloom-filter prefilters (G15 at the next scale tier).

``neardup.decontaminate`` probes the corpus against the benchmark shingle
set with a broadcast hash join — right up to the point where the benchmark
side no longer fits as a broadcast hash relation (~100 bytes/key in
executor memory). A Bloom filter holds the same membership answer in
~1.2 bytes/key at 1% false-positive rate, which moves the broadcast
ceiling by two orders of magnitude before anything has to shuffle the
corpus. Spark's own runtime bloom pushdown (`bloom_filter_agg` /
`might_contain`) is not SQL-registered, so this module implements the
same shape with public pieces:

- **hashing stays JVM-side**: two independent 64-bit hashes per key via
  ``xxhash64(key)`` and ``xxhash64(key, lit(seed))``, combined by
  Kirsch-Mitzenmacher double hashing (pos_i = h1 + i*h2 mod m) — build
  and probe use the identical Catalyst expressions, so there is no
  Python-vs-JVM hash mismatch to drift.
- **the bitmap builds distributed**: explode the k probe indexes, map to
  (word, bit) pairs, ``bit_or`` per 64-bit word — the driver collects
  only the m/64 bitmap words (bounded by the filter size, never by key
  count; a 10M-key 1% filter is ~12 MB).
- **the probe is Arrow-batched numpy** over the two JVM hash columns —
  integer arithmetic only, no Python hashing, vectorized per batch. The
  bitmap rides to executors in the serialized closure exactly once.

A Bloom answer is one-sided (no false negatives), so the decontamination
wrapper uses it strictly as a *prefilter*: survivors of the bloom probe
are re-verified with the exact join, which now only touches the ~fpp
fraction of corpus shingles that matched — output is exactly the
broadcast-join result at any fpp.

The JOIN prefilter (G86) uses the REGISTER-BLOCKED form
(:func:`blocked_bloom_words`): all k bits of a key in one 64-bit word,
so the probe is a broadcast join on the word index plus a pure
expression mask test — no driver collect at build, no Python at probe.
In-regime measurement: ``SCALECHECK_BLOOM_r09.json``, which also
measured the driver-bitmap form as a join prefilter at 3× WORSE than no
prefilter at 10⁷ dim keys — the reason the join never uses it.

Both filters are sized for a 1% false-positive rate (``FPP``): callers
re-verify with an exact join, so the rate only prices the prefilter.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ferc_xbrl_extractor_spark.operators.sqltext import bq, raw_col

# Seed for the second hash; any constant works, it just has to be the same
# at build and probe time.
_H2_SEED = 0x9E3779B9

# The nominal false-positive rate every filter here is sized for.
FPP = 0.01


@dataclass
class BloomFilter:
    """Driver-side handle: the bitmap words plus the (m, k) geometry."""

    words: np.ndarray  # uint64[m_bits / 64]
    m_bits: int
    k: int


def _hashes_mod(key: Column, m: int) -> tuple[Column, Column]:
    """The two hash lanes, pre-reduced mod m. Reducing before the
    Kirsch-Mitzenmacher combine keeps every intermediate under k*m (no
    64-bit overflow under ANSI arithmetic), and
    (h1 + i*h2) mod m == ((h1 mod m) + i*(h2 mod m)) mod m, so the
    positions are unchanged."""
    return (
        F.pmod(F.xxhash64(key), F.lit(m)),
        F.pmod(F.xxhash64(key, F.lit(_H2_SEED)), F.lit(m)),
    )


def _geometry(n_keys: int) -> tuple[int, int]:
    n = max(n_keys, 1)
    m = max(64, int(math.ceil(-n * math.log(FPP) / (math.log(2) ** 2))))
    m = ((m + 63) // 64) * 64  # whole words
    k = max(1, round(m / n * math.log(2)))
    return m, k


def bloom_build(keys: DataFrame, key_col: str) -> BloomFilter:
    """Build a Bloom filter over ``keys[key_col]`` (distinctness not
    required — duplicate keys set the same bits). Triggers one count job
    and one bitmap aggregation job."""
    m, k = _geometry(keys.count())
    h1, h2 = _hashes_mod(F.col(key_col), m)
    # the driver pull is bounded by the BITMAP (m/64 words — 1.5M rows
    # for a 10⁷-key 1% filter), never by key count, but 10⁶+ Py4J Row
    # objects still cost seconds to deserialize; toPandas rides Arrow
    # and lands the words as two numpy columns, then a single
    # vectorized scatter fills the array.
    word_pdf = (
        keys.select(h1.alias("__h1"), h2.alias("__h2"))
        .select("*", F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__i"))
        .select(
            F.pmod(F.col("__h1") + F.col("__i") * F.col("__h2"), F.lit(m)).alias(
                "__pos"
            )
        )
        .select(
            (F.col("__pos") / 64).cast("long").alias("word"),
            F.expr("shiftleft(1L, cast(__pos % 64 AS int))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .toPandas()
    )
    words = np.zeros(m // 64, dtype=np.uint64)
    words[word_pdf["word"].to_numpy(dtype=np.int64)] = (
        word_pdf["bits"].to_numpy(dtype=np.int64).view(np.uint64)
    )
    return BloomFilter(words=words, m_bits=m, k=k)


def might_contain(bloom: BloomFilter, key: Column) -> Column:
    """Probe column: True iff all k bits for ``key`` are set (never a
    false negative). Hashes are computed JVM-side; the Arrow-batched UDF
    does pure numpy bit tests against the closure-shipped bitmap."""
    words, m, k = bloom.words, bloom.m_bits, bloom.k

    @pandas_udf("boolean")
    def _probe(h1m: pd.Series, h2m: pd.Series) -> pd.Series:
        # inputs are already reduced mod m (same Catalyst expressions as
        # the build side), so int64 arithmetic here cannot overflow:
        # i*h2m < k*m << 2^63.
        a = h1m.to_numpy(dtype=np.int64)
        b = h2m.to_numpy(dtype=np.int64)
        out = np.ones(len(a), dtype=bool)
        for i in range(k):
            pos = (a + i * b) % m
            w = pos >> 6
            bit = np.uint64(1) << (pos & 63).astype(np.uint64)
            out &= (words[w] & bit) != 0
        return pd.Series(out)

    h1m, h2m = _hashes_mod(key, m)
    return _probe(h1m, h2m)


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """``neardup.decontaminate`` with a Bloom prefilter: corpus shingles
    probe the benchmark-shingle bloom first, and only the matching ~fpp
    fraction reaches the exact verification join — same output, corpus
    never shuffled, benchmark membership shipped at bloom (not hash-
    relation) density."""
    from ferc_xbrl_extractor_spark.operators.neardup import shingle_table

    c_sh = shingle_table(corpus, id_col, text_col, n)
    b_sh = shingle_table(benchmark, id_col, text_col, n).select("shingle").distinct()
    bloom = bloom_build(b_sh, "shingle")
    candidates = c_sh.filter(might_contain(bloom, F.col("shingle")))
    # Exact verify: only bloom survivors join the true shingle set (AQE
    # broadcasts it when it fits; when it doesn't, the shuffle is over the
    # fpp-sized candidate slice, not the corpus).
    hits = (
        candidates.join(b_sh, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= min_overlap)
    )
    return corpus.join(hits.select(id_col), id_col, "left_anti")


def blocked_bloom_words(keys: DataFrame, key_col: str) -> tuple[DataFrame, int, int]:
    """Register-blocked Bloom filter (Putze/Sanders/Singler, JEA'09) as
    a RELATION: all k bits of a key live in ONE 64-bit word, so build
    and probe never leave the JVM —

    - word index  = ``xxhash64(key) mod W``
    - k bit lanes = successive 6-bit slices of ``xxhash64(key, seed)``
    - word mask   = OR of ``shiftleft(1, lane_j)`` — a pure Catalyst
      expression shared verbatim by build and probe.

    Build is one projection + one ``bit_or`` aggregate (no explode —
    the k probe positions collapse into the single mask expression) and
    the result stays distributed as a ``(word, bits)`` DataFrame of
    W = m/64 rows — ~1.8 bytes/key, a broadcast dim two orders of
    magnitude past the hash-relation ceiling. Nothing is ever collected
    to the driver, so the build also scales past the point where the
    driver-side bitmap of :func:`bloom_build` would strain the driver
    heap (10⁹ keys → ~1.8 GB relation, still a shuffle-side build).

    Blocking costs accuracy for locality: a 64-bit block needs ~1.5×
    the standard bits for the same nominal rate (the geometry below
    budgets that in), and the realized rate is approximate.

    Triggers one count job. Returns ``(words, W, k)``.
    """
    n = max(keys.count(), 1)
    m = int(math.ceil(1.5 * -n * math.log(FPP) / (math.log(2) ** 2)))
    m = max(64, ((m + 63) // 64) * 64)
    w = m // 64
    k = min(8, max(1, round(m / n * math.log(2))))
    word, mask = _blocked_word_mask(key_col, w, k)
    words = (
        keys.select(word.alias("__bw"), mask.alias("__bm"))
        .groupBy("__bw")
        .agg(F.bit_or("__bm").alias("__bits"))
    )
    return words, w, k


def _blocked_word_mask(key_col: str, w: int, k: int) -> tuple[Column, Column]:
    """(word index, k-lane bit mask) for the blocked filter — identical
    expressions at build and probe time. Lanes are 6-bit slices of the
    second hash (k ≤ 8 uses 48 of its 64 bits); duplicate lanes merely
    waste a bit, the standard blocked-bloom tradeoff. Built via
    ``F.expr`` because ``shiftleft``'s Python wrapper only takes a
    literal shift count — the SQL form accepts a per-row one. The
    column name is backtick-escaped before interpolation (r9 ADVICE:
    a name containing a backtick parsed wrong or mis-bound)."""
    quoted = bq(key_col)
    word = F.pmod(F.xxhash64(raw_col(key_col)), F.lit(w))
    lanes = [
        f"cast((shiftrightunsigned(xxhash64({quoted}, {_H2_SEED}L), "
        f"{6 * j}) & 63) AS int)"
        for j in range(k)
    ]
    mask = F.expr(" | ".join(f"shiftleft(1L, {lane})" for lane in lanes))
    return word, mask


def bloom_join(fact: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """G86: exact inner equi-join with a Bloom prefilter on the fact
    side — the explicit form of runtime bloom-join pushdown for when the
    join's selectivity is KNOWN to be low (a filtered dimension joining
    a fact table: the star-schema shape where most fact rows match
    nothing and still pay the shuffle).

    The dim side's join keys build a register-blocked filter
    (:func:`blocked_bloom_words`, ~1.8 bytes/key — two orders of
    magnitude past the hash-relation broadcast ceiling); the fact side
    probes it with ONE broadcast join on the word index plus a JVM
    mask-test expression BEFORE its shuffle — no driver collect, no
    Python in the hot path — so only the ~selectivity + fpp fraction of
    fact rows ever serializes. Survivors run the normal exact join —
    Bloom answers have no false negatives and the join removes false
    positives, so the output is EXACTLY the plain join's (the gate
    oracle is the plain join).

    Spark's own runtime bloom pushdown
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) makes the
    same transformation when its creation-side heuristics fire; this
    operator is the deterministic form — it always builds, from the dim
    side you name — for pipelines that know their selectivity at
    author time.

    Returns ``fact ⋈ dim`` with dim's non-key columns appended (inner
    join on ``on``). Duplicate dim keys behave exactly as in the plain
    join (row multiplication).
    """
    clash = {"__bw", "__bm", "__bits"} & (set(fact.columns) | set(dim.columns))
    if clash:
        # r9 ADVICE: a caller column named like a working column would
        # fail analysis as ambiguous or be silently dropped below
        raise ValueError(
            f"bloom_join working column(s) {sorted(clash)} already exist "
            "on an input; rename them first"
        )
    words, w, k = blocked_bloom_words(dim.select(raw_col(on).alias(on)), on)
    word, mask = _blocked_word_mask(on, w, k)
    pre = (
        fact.withColumn("__bw", word)
        .withColumn("__bm", mask)
        .join(F.broadcast(words), "__bw")  # inner: an unset word can't match
        .filter(
            F.col("__bits").bitwiseAND(F.col("__bm")) == F.col("__bm")
        )
        .drop("__bw", "__bm", "__bits")
    )
    return pre.join(dim, on)
