"""Manifest-committed shard publishing (pipeline/shards.py)."""

from __future__ import annotations


def _corpus(spark, n=200):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"),
    )


def test_publish_shards_commits_manifest_and_verifies(spark, tmp_path):
    import os

    from ferc_xbrl_extractor_spark.pipeline import shards as sh

    path = str(tmp_path / "out")
    res = sh.publish_shards(_corpus(spark), path, shards=4)
    assert res["published"] is True
    assert res["n_rows"] == 200 and res["n_files"] == 4
    assert os.path.exists(os.path.join(path, sh.MANIFEST_NAME))
    check = sh.verify_shards(spark, path)
    assert check["ok"], check
    # the manifest file must not pollute re-reads of the data
    assert spark.read.parquet(path).count() == 200


def test_publish_shards_is_idempotent_on_retry(spark, tmp_path):
    import os

    from ferc_xbrl_extractor_spark.pipeline import shards as sh

    path = str(tmp_path / "out2")
    first = sh.publish_shards(_corpus(spark), path, shards=3)
    mtimes = {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path)
    }
    second = sh.publish_shards(_corpus(spark), path, shards=3)
    assert second["published"] is False
    assert second["fingerprint"] == first["fingerprint"]
    assert {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path)
    } == mtimes  # nothing rewritten


def test_publish_shards_recovers_half_written_dir(spark, tmp_path):
    import os

    from ferc_xbrl_extractor_spark.pipeline import shards as sh

    path = str(tmp_path / "out3")
    # simulate a crash between data write and manifest commit
    from ferc_xbrl_extractor_spark.sources.corpus import write_corpus_shards

    write_corpus_shards(_corpus(spark, 50), path, shards=2)
    assert sh.read_manifest(path) is None
    res = sh.publish_shards(_corpus(spark), path, shards=4)
    assert res["published"] is True and res["n_rows"] == 200
    assert sh.verify_shards(spark, path)["ok"]


def test_verify_shards_detects_tampering(spark, tmp_path):
    import os

    from ferc_xbrl_extractor_spark.pipeline import shards as sh

    path = str(tmp_path / "out4")
    sh.publish_shards(_corpus(spark), path, shards=2, fmt="json")
    check = sh.verify_shards(spark, path)
    assert check["ok"]
    # corrupt one shard: drop a line
    victim = next(
        f for f in sorted(os.listdir(path))
        if f.endswith(".json") and not f.startswith(("_", "."))
    )
    vp = os.path.join(path, victim)
    lines = open(vp).read().splitlines(keepends=True)
    with open(vp, "w") as f:
        f.writelines(lines[1:])
    # drop Hadoop LocalFileSystem's .crc sidecar — a local-FS test
    # artifact (object stores have none); without this the read itself
    # fails on the stale CRC before verification can compare contents
    crc = os.path.join(path, f".{victim}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    check = sh.verify_shards(spark, path)
    assert not check["ok"]
    assert check["mismatched"] == [victim]
    # and deleting a shard shows up as missing
    os.remove(vp)
    check = sh.verify_shards(spark, path)
    assert not check["ok"] and check["missing"] == [victim]


def test_shard_fingerprint_is_row_order_insensitive(spark, tmp_path):
    from ferc_xbrl_extractor_spark.pipeline import shards as sh

    p1 = str(tmp_path / "o5a")
    p2 = str(tmp_path / "o5b")
    df = _corpus(spark, 300)
    sh.publish_shards(df, p1, shards=1)
    sh.publish_shards(df.orderBy(df.doc_id.desc()), p2, shards=1)
    m1, m2 = sh.read_manifest(p1), sh.read_manifest(p2)
    assert m1["fingerprint"] == m2["fingerprint"]
    assert m1["n_rows"] == m2["n_rows"] == 300
