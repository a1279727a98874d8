"""Integration tests on the reference's real Form-1 fixtures
(/root/reference/examples, /root/reference/tests/integration/data — public
FERC data shipped with the reference repo, used here as inputs only).

Mirrors the reference's integration suite:
- 255-table catalog from the two-version taxonomy archive
  (datapackage_test.py:56-58);
- CLI end-to-end + U3 cross-engine oracle: SQLite and DuckDB outputs must
  be frame-equal per table (console_scripts_test.py:92-118);
- data-quality invariants: used-fact ratios, non-null publication_time,
  referential integrity to the identification table
  (data_quality_test.py:10-100).
"""

from __future__ import annotations

import os
import sqlite3

import duckdb
import pytest

TAXONOMY_2V = "/root/reference/tests/integration/data/ferc1-xbrl-taxonomies.zip"
TAXONOMY_1V = "/root/reference/examples/ferc1-xbrl-taxonomies.zip"
SAMPLE_FILINGS = "/root/reference/examples/ferc1-2021-sample.zip"

pytestmark = pytest.mark.skipif(
    not all(os.path.exists(p) for p in (TAXONOMY_2V, TAXONOMY_1V, SAMPLE_FILINGS)),
    reason="reference Form-1 fixture zips (taxonomy archives, 2021 sample "
    "filings) not found",
)

REQUESTED = [
    "identification_001_duration",
    "list_of_schedules_002_duration",
    "corporations_controlled_by_respondent_103_duration",
]


@pytest.fixture(scope="module")
def catalog():
    from ferc_xbrl_extractor_spark.catalog.taxonomy_xml import catalog_from_archive

    return catalog_from_archive(TAXONOMY_2V)


def test_catalog_matches_reference_table_count(catalog):
    # Reference integration test pins 255 tables for these two versions
    # (tests/integration/datapackage_test.py:56-58).
    assert len(catalog) == 255


def test_identification_table_schema(catalog):
    spec = catalog["identification_001_duration"]
    assert spec.primary_key == [
        "entity_id",
        "filing_name",
        "publication_time",
        "start_date",
        "end_date",
    ]
    for col in ["form_type", "respondent_legal_name", "report_year", "report_period"]:
        assert col in spec.columns
    # ReportYear is declared xbrli:integerItemType in both taxonomy
    # versions (ferc-core_*.xsd), not gYear.
    assert spec.columns["report_year"] == "integer"


def test_catalog_freeze_roundtrip(catalog, tmp_path):
    import json

    from ferc_xbrl_extractor_spark.catalog.tablespec import (
        specs_from_json,
        specs_to_json,
    )

    path = tmp_path / "catalog.json"
    path.write_text(json.dumps(specs_to_json(catalog)))
    thawed = specs_from_json(path)
    assert set(thawed) == set(catalog)
    spec = thawed["identification_001_duration"]
    assert spec.columns == catalog["identification_001_duration"].columns


def test_metadata_k5_has_calculations_and_references():
    from ferc_xbrl_extractor_spark.catalog.taxonomy_xml import (
        metadata_from_versions,
        parse_taxonomy_archive,
    )

    meta = metadata_from_versions(parse_taxonomy_archive(TAXONOMY_1V))
    ident = meta["identification_001_duration"]
    assert "form_type" in ident
    assert ident["form_type"]["name"] == "form_type"
    has_calc = any(
        col["calculations"] for table in meta.values() for col in table.values()
    )
    has_ref = any(
        col["references"] for table in meta.values() for col in table.values()
    )
    has_balance = any(
        col["balance"] in ("credit", "debit")
        for table in meta.values()
        for col in table.values()
    )
    assert has_calc and has_ref and has_balance


@pytest.fixture(scope="module")
def cli_outputs(tmp_path_factory):
    from ferc_xbrl_extractor_spark import cli

    out = tmp_path_factory.mktemp("cli")
    rc = cli.run_main(
        cli.parse(
            [
                SAMPLE_FILINGS,
                "--taxonomy",
                TAXONOMY_1V,
                "--sqlite-path",
                str(out / "ferc1.sqlite"),
                "--duckdb-path",
                str(out / "ferc1.duckdb"),
                "--output-dir",
                str(out / "parquet"),
                "--datapackage-path",
                str(out / "datapackage.json"),
                "--freeze-catalog-path",
                str(out / "catalog.json"),
                "--requested-tables",
                *REQUESTED,
            ]
        )
    )
    assert rc == 0
    return out


@pytest.mark.slow
def test_cli_u3_sqlite_duckdb_consistency(cli_outputs):
    """U3: both engines hold the same tables with frame-equal contents
    (reference console_scripts_test.py:92-118)."""
    sconn = sqlite3.connect(cli_outputs / "ferc1.sqlite")
    stables = {
        r[0]
        for r in sconn.execute(
            "SELECT name FROM sqlite_master WHERE type='table'"
        ).fetchall()
    }
    dcon = duckdb.connect(str(cli_outputs / "ferc1.duckdb"))
    dtables = {r[0] for r in dcon.sql("SHOW TABLES").fetchall()}
    assert stables == dtables
    assert stables  # no empty outputs

    import pandas as pd

    def normalize(df, key):
        out = df[key].apply(
            lambda s: s.map(lambda v: "NULL" if pd.isna(v) else str(v))
        )
        return out.sort_values(key).reset_index(drop=True)

    for table in stables:
        sdf = pd.read_sql_query(f'SELECT * FROM "{table}"', sconn)
        ddf = dcon.sql(f'SELECT * FROM "{table}"').df()
        assert len(sdf) > 0, f"{table} is empty"
        key = sorted(sdf.columns)
        pd.testing.assert_frame_equal(
            normalize(sdf, key), normalize(ddf, key), check_dtype=False
        )


@pytest.fixture(scope="module")
def real_extract(spark):
    from ferc_xbrl_extractor_spark.catalog.taxonomy_xml import catalog_from_archive
    from ferc_xbrl_extractor_spark.pipeline.extract import extract

    specs = catalog_from_archive(TAXONOMY_1V)
    return extract(spark, SAMPLE_FILINGS, specs), specs


@pytest.mark.slow
def test_data_quality_used_fact_ratio(real_extract):
    """Reference data_quality_test.py:37-55: >99% of facts consumed
    overall, >95% per filing, across the full catalog."""
    result, specs = real_extract
    stats = result.used_fact_ratios(list(specs.values())).collect()
    total = sum(r["total_facts"] for r in stats)
    used = sum(r["used_facts"] for r in stats)
    assert 0.99 < used / total <= 1.0
    for r in stats:
        assert r["ratio"] > 0.95, f"{r['filing_name']}: {r['ratio']}"


@pytest.mark.slow
def test_data_quality_referential_integrity(real_extract):
    """Every extracted table's (entity_id, filing_name) must exist in the
    identification table (reference data_quality_test.py:70-89)."""
    from ferc_xbrl_extractor_spark.operators.joins import (
        referential_integrity_violations,
    )

    result, _specs = real_extract
    ids = result.tables["identification_001_duration"]
    for name in REQUESTED:
        violations = referential_integrity_violations(result.tables[name], ids)
        assert violations.isEmpty(), name


@pytest.mark.slow
def test_data_quality_publication_time_non_null(real_extract):
    from pyspark.sql import functions as F

    result, _specs = real_extract
    for name in REQUESTED:
        df = result.tables[name]
        assert df.filter(F.col("publication_time").isNull()).isEmpty(), name


DATA = "/root/reference/tests/integration/data"


@pytest.mark.parametrize(
    ("form", "n_tables"),
    [(60, 67), (714, 15)],
)
@pytest.mark.slow
def test_other_forms_end_to_end(spark, form, n_tables):
    """Reference data_quality_test parametrizes forms {1,2,6,60,714}; run
    the two smallest here end-to-end: catalog -> shred 2021 filings ->
    used-fact ratios above the reference thresholds. Form 714 also
    exercises the report_date fallback workaround (F6)."""
    from ferc_xbrl_extractor_spark.catalog.taxonomy_xml import catalog_from_archive
    from ferc_xbrl_extractor_spark.pipeline.extract import extract

    specs = catalog_from_archive(f"{DATA}/ferc{form}-xbrl-taxonomies.zip")
    assert len(specs) == n_tables
    result = extract(spark, f"{DATA}/ferc{form}-xbrl-2021.zip", specs)
    stats = result.used_fact_ratios(list(specs.values())).collect()
    assert stats
    total = sum(r["total_facts"] for r in stats)
    used = sum(r["used_facts"] for r in stats)
    assert 0.99 < used / total <= 1.0, (form, used / total)
    for r in stats:
        assert r["ratio"] > 0.95, (form, r["filing_name"], r["ratio"])
    result.shredded.unpersist()


def test_xbrl_extract_one_call_facade(spark, tmp_path):
    """One-call library parity (reference xbrl.extract, xbrl.py:28-81):
    filings + taxonomy archive + db_uri in; database, parquet, descriptor,
    and stats out — single call, single execution per table plan."""
    import json

    from ferc_xbrl_extractor_spark import xbrl

    out = xbrl.extract(
        filings=SAMPLE_FILINGS,
        taxonomy_source=TAXONOMY_1V,
        form_number=1,
        db_uri=f"sqlite:///{tmp_path / 'ferc1.sqlite'}",
        datapackage_path=str(tmp_path / "datapackage.json"),
        metadata_path=str(tmp_path / "metadata.json"),
        output_dir=str(tmp_path / "parquet"),
        requested_tables=REQUESTED,
        spark=spark,
    )
    assert set(out.table_defs) == set(REQUESTED)
    assert set(out.table_data) == set(REQUESTED)
    # stats: per-filing used/total fact counts, reference ExtractOutput.stats
    assert out.stats and all(
        s["total_facts"] >= s["used_facts"] > 0 for s in out.stats.values()
    )

    conn = sqlite3.connect(tmp_path / "ferc1.sqlite")
    tables = {
        r[0]
        for r in conn.execute(
            "SELECT name FROM sqlite_master WHERE type='table'"
        ).fetchall()
    }
    n_ident = conn.execute(
        'SELECT count(*) FROM "identification_001_duration"'
    ).fetchone()[0]
    conn.close()
    assert tables == set(REQUESTED)
    assert n_ident > 0

    # sqlite-flavored descriptor at datapackage_path, parquet-flavored one
    # inside output_dir — both pointing where they claim.
    sq_doc = json.loads((tmp_path / "datapackage.json").read_text())
    assert all(r["format"] == "sqlite" for r in sq_doc["resources"])
    pq_doc = json.loads((tmp_path / "parquet" / "datapackage.json").read_text())
    for resource in pq_doc["resources"]:
        assert resource["format"] == "parquet"
        assert "dialect" not in resource
        assert resource["path"] == f"{resource['name']}.parquet"
        # the descriptor path must resolve to a readable parquet dataset
        import pandas as pd

        assert len(pd.read_parquet(tmp_path / "parquet" / resource["path"])) > 0
    assert json.loads((tmp_path / "metadata.json").read_text())
