"""Same-work single-node baselines for the headline queries whose *oracle*
SQL is an algebraic projection (useless for perf comparison).

For each query this runs a hand-written counterpart that performs the SAME
work the Spark plan performs, on the engine the work is most honestly
comparable on:

- ``xbrl_fact_pipeline`` / ``xbrl_fuzzy_dedup`` — DuckDB SQL doing the full
  unpivot -> dup-inject -> dims-filter -> exact dedup -> precision resolve
  -> pivot pipeline (not the simplified oracle projection).
- ``xbrl_shredder_roundtrip`` — the reference's own technology for this op
  is a single Python process running lxml/ElementTree
  (/root/reference/src/ferc_xbrl_extractor/instance.py); we time the SAME
  pandas shred kernel Spark runs inside mapInPandas, single-threaded over
  the same XML bytes, which is exactly the reference's execution model.

Usage:  python tools/samework.py [sf_dir]
Prints one JSON line {"samework": {query: sec, ...}, "sf_dir": ...} for
maintaining BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import _CID_SQL, PUB_TS, TABLES  # noqa: E402

# nd probe, mirroring operators/dedup.py::_ndigits_sql (max_precision=6).
_ND_SQL = (
    "CASE "
    + " ".join(f"WHEN round(num, {p}) = num THEN {p}" for p in range(7))
    + " ELSE 7 END"
)

# The flagship's real work: 4 facts per lineitem row (quantity injected
# twice), junk-dims rows dropped, DISTINCT exact dedup, per-group precision
# stats + most-precise winner, pivot long->wide with casts. Matches
# construct_table's operator sequence on _lineitem_facts + dup injection.
FACT_PIPELINE_SAMEWORK = f"""
WITH facts AS (
    SELECT 'filing-' || l_returnflag AS filing_name,
           {_CID_SQL} AS c_id,
           CAST(l_suppkey AS VARCHAR) AS entity_id,
           '1995-01-01' AS start_date,
           strftime(l_shipdate, '%Y-%m-%d') AS end_date,
           CASE WHEN l_returnflag = 'R' THEN 'returned' ELSE 'total' END
               AS flag_axis,
           v.name AS name, v.value AS value
    FROM lineitem,
         LATERAL (VALUES ('quantity', CAST(l_quantity AS VARCHAR)),
                         ('quantity', CAST(l_quantity AS VARCHAR)),
                         ('price', CAST(l_extendedprice AS VARCHAR)),
                         ('discount', CAST(l_discount AS VARCHAR))) v(name, value)
    WHERE l_linenumber <> 7
),
deduped AS (SELECT DISTINCT * FROM facts),
staged AS (
    SELECT *, TRY_CAST(value AS DOUBLE) AS num
    FROM deduped
),
nd AS (SELECT *, {_ND_SQL} AS ndig FROM staged),
resolved AS (
    SELECT filing_name, c_id, entity_id, start_date, end_date, flag_axis,
           name,
           min(value) AS vmin, max(value) AS vmax,
           bool_and(num IS NOT NULL) AS all_num,
           max(ndig) AS max_nd,
           count(DISTINCT CASE WHEN ndig = 7 THEN NULL ELSE ndig END) AS nbuckets,
           max_by(value, ndig * 1e12 + coalesce(num, 0)) AS value_win
    FROM nd
    GROUP BY 1, 2, 3, 4, 5, 6, 7
),
pivoted AS (
    SELECT filing_name, c_id, entity_id, start_date, end_date, flag_axis,
           TIMESTAMP '{PUB_TS}' AS publication_time,
           CAST(max(CASE WHEN name = 'quantity' THEN value_win END) AS DOUBLE)
               AS quantity,
           CAST(max(CASE WHEN name = 'price' THEN value_win END) AS DOUBLE)
               AS price,
           CAST(max(CASE WHEN name = 'discount' THEN value_win END) AS DOUBLE)
               AS discount
    FROM resolved
    WHERE vmin = vmax OR (all_num AND max_nd < 7)
    GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT count(*),
       count(quantity) + count(price) + count(discount)
FROM pivoted
"""

# xbrl_fuzzy_dedup's real work: 3 conflicting-precision values per key
# (x, x+0.5, x+0.25), parse + nd probes + per-bucket distinctness + winner.
FUZZY_SAMEWORK = f"""
WITH fixture AS (
    SELECT 'f1' AS filing_name, {_CID_SQL} AS c_id,
           v.name AS name, v.value AS value
    FROM lineitem,
         LATERAL (VALUES ('qty', CAST(l_quantity AS VARCHAR)),
                         ('qty', CAST(l_quantity + 0.5 AS VARCHAR)),
                         ('qty', CAST(l_quantity + 0.25 AS VARCHAR))) v(name, value)
),
staged AS (SELECT *, TRY_CAST(value AS DOUBLE) AS num FROM fixture),
nd AS (SELECT *, {_ND_SQL} AS ndig FROM staged),
stats AS (
    SELECT filing_name, c_id, name,
           min(value) AS vmin, max(value) AS vmax,
           bool_and(num IS NOT NULL) AS all_num,
           {" ".join(
               f"min(CASE WHEN ndig = {p} THEN value END) AS vmin_{p},"
               f"max(CASE WHEN ndig = {p} THEN value END) AS vmax_{p},"
               for p in range(8)
           )}
           max_by(value, ndig * 1e12 + coalesce(num, 0)) AS value_win
    FROM nd GROUP BY 1, 2, 3
),
arith AS (
    SELECT *,
           {"".join(
               f"CASE WHEN vmin_{p} IS NOT NULL THEN {p} ELSE "
               for p in range(7, 0, -1)
           )} 0 {"END " * 7} AS max_nd
    FROM stats
)
SELECT c_id, name, CAST(value_win AS DOUBLE) AS value
FROM arith
WHERE vmin = vmax
   OR (all_num
       AND (CASE max_nd
            {" ".join(
                f"WHEN {p} THEN vmin_{p} = vmax_{p}" for p in range(8)
            )}
            END)
       AND max_nd <= 6)
"""


def _time_duckdb(con: duckdb.DuckDBPyConnection, sql: str) -> float:
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        con.sql(f"SELECT count(*) FROM ({sql})").fetchall()
        best = min(best, time.time() - t0)
    return round(best, 3)


def _time_shredder_single_process(sf_dir: str) -> float:
    """Single-process pandas shred of the same XML bytes the Spark query
    pushes through mapInPandas — the reference's own execution model
    (lxml in one Python process per batch)."""
    import pandas as pd
    from pyspark.sql import SparkSession

    from __spark_entry__ import _synthetic_filing_xml
    from ferc_xbrl_extractor_spark.sources.shredder import _shred_batches

    spark = SparkSession.getActiveSession()
    owns = spark is None
    if owns:
        from ferc_xbrl_extractor_spark.session import get_spark

        spark = get_spark("samework")
    xml = _synthetic_filing_xml(spark, sf_dir).toPandas()
    filings = pd.DataFrame(
        {
            "filing_name": xml["filing_name"],
            "content": xml["xml"].map(lambda s: s.encode()),
            "publication_time": pd.NaT,
            "taxonomy_version": None,
        }
    )
    kernel = _shred_batches("ferc")
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        n = sum(len(out) for out in kernel(iter([filings])))
        best = min(best, time.time() - t0)
    assert n > 0
    if owns:
        spark.stop()
    return round(best, 3)


def _time_perceptual_single_process() -> dict[str, float]:
    """Same-work single-process baselines for the G69/G70/G71
    perceptual rows: build the SAME formula blobs the fixtures build,
    then time decode + fingerprint + the all-pairs-within-bucket match
    in one Python thread over numpy — the reference-technology
    execution model for this work. The Spark rows at these fixture
    sizes (83-97 blobs) are job-floor measurements, not work
    measurements; this is the honest denominator."""
    import numpy as np

    from ferc_xbrl_extractor_spark.operators.multimodal import (
        _dhash_pack,
        _luma,
        _nn_resize,
        decode_ppm,
        decode_wav,
        decode_y4m,
        encode_ppm,
        encode_wav,
        encode_y4m,
    )

    out: dict[str, float] = {}

    # G69: 97 formula PPMs (the _g69_media pixel formulas)
    ppms = []
    for m in range(97):
        q, t = m // 8, m % 8
        i = np.arange(72)
        row, col = i // 9, i % 9
        rgb = np.stack(
            [
                (q * 53 + (row + 1) * (col + 2) * 7) % 256,
                (q * 29 + row * 31 + col * 17) % 256,
                (q * 11 + t + row * 3 + col * 43) % 256,
            ],
            axis=-1,
        ).reshape(8, 9, 3).astype(np.uint8)
        ppms.append(encode_ppm(rgb))
    t0 = time.time()
    fps = [_dhash_pack(_luma(_nn_resize(decode_ppm(b), 9, 8))) for b in ppms]
    _bucket_pairs(fps)
    out["g69_image_dedup"] = round(time.time() - t0, 3)

    # G70: 89 formula WAVs (the _g70_media sample formula)
    wavs = []
    for m in range(89):
        q, t = m // 8, m % 8
        j = np.arange(130)
        v = ((q + 1) * (j + 3) * 37) % 3800 - 1900 + t
        wavs.append(encode_wav(8000, v.astype(np.int64)))
    t0 = time.time()
    afps = []
    for b in wavs:
        _r, samples = decode_wav(b)
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
        afps.append(v - (1 << 64) if v >= (1 << 63) else v)
    _bucket_pairs(afps)
    out["g70_audio_dedup"] = round(time.time() - t0, 3)

    # G71: 83 formula Y4M clips (the _g71_media Y formula, C444 gray)
    vids = []
    for m in range(83):
        q, t = m // 8, m % 8
        frames = []
        for f in range(3):
            i = np.arange(72)
            y = ((q + 1) * (i + 7) * (f + 2) * 13) % 240 + np.where(
                i % 9 < 4, t, 0
            )
            y = y.reshape(8, 9).astype(np.uint8)
            flat = np.full((8, 9), 128, np.uint8)
            frames.append((y, flat, flat))
        vids.append(encode_y4m(frames))
    t0 = time.time()
    per_frame: list[list[int]] = []
    for b in vids:
        _fn, _fd, frames = decode_y4m(b)
        per_frame.append(
            [_dhash_pack(_luma(_nn_resize(fr, 9, 8))) for fr in frames]
        )
    for f in range(3):
        _bucket_pairs([fh[f] for fh in per_frame])
    out["g71_video_dedup"] = round(time.time() - t0, 3)
    return out


def _bucket_pairs(fps: list[int], max_hamming: int = 10) -> int:
    """The single-thread twin of neardup.hamming_pairs: group by top
    byte, compare within buckets."""
    from collections import defaultdict

    buckets: dict[int, list[int]] = defaultdict(list)
    for i, fp in enumerate(fps):
        buckets[(fp >> 56) & 255].append(i)
    n = 0
    for members in buckets.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                h = bin((fps[members[x]] ^ fps[members[y]]) & ((1 << 64) - 1))
                if h.count("1") <= max_hamming:
                    n += 1
    return n


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {
        "xbrl_fact_pipeline": _time_duckdb(con, FACT_PIPELINE_SAMEWORK),
        "xbrl_fuzzy_dedup": _time_duckdb(con, FUZZY_SAMEWORK),
        "xbrl_shredder_roundtrip": _time_shredder_single_process(sf_dir),
    }
    out.update(_time_perceptual_single_process())
    print(json.dumps({"samework": out, "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
