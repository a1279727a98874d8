"""Shared fixtures: session-scoped SparkSession + a synthetic XBRL filing.

The filing document mirrors the *shape* the reference's parser tests pin
(/root/reference/tests/conftest.py:54-128): five contexts (three duration,
two instant), typed + explicit dimensions, facts across both period types,
a report_date fact, plus — beyond the reference fixture — duplicate facts
(exact and fuzzy-numeric) so the dedup stages are exercised end-to-end.
"""

from __future__ import annotations

import os

import pytest

from ferc_xbrl_extractor_spark.session import get_spark

# The sf0.001 star-schema tables (TESTDATA.md). Tests that read them carry
# ``needs_sf0001`` and skip where the fixture is absent.
SF0001 = "/root/testdata/sf0.001"
needs_sf0001 = pytest.mark.skipif(
    not os.path.isdir(SF0001), reason=f"star-schema fixture {SF0001} is absent"
)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark


@pytest.fixture()
def contraction_calls(monkeypatch):
    """Record every call of the star-contraction connected components
    (still delegating to it), to pin which form the graph selected."""
    from ferc_xbrl_extractor_spark.operators import neardup

    calls = []
    real = neardup.connected_components_twophase

    def spy(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(neardup, "connected_components_twophase", spy)
    return calls


FILING_XML = """<?xml version="1.0" encoding="UTF-8"?>
<xbrli:xbrl xmlns:xbrli="http://www.xbrl.org/2003/instance"
            xmlns:ferc="http://ferc.gov/form/2022-01-01/ferc"
            xmlns:xbrldi="http://xbrl.org/2006/xbrldi"
            xmlns:link="http://www.xbrl.org/2003/linkbase"
            xmlns:xlink="http://www.w3.org/1999/xlink">
  <xbrli:context id="d1">
    <xbrli:entity>
      <xbrli:identifier scheme="http://www.ferc.gov/CID">E77</xbrli:identifier>
    </xbrli:entity>
    <xbrli:period>
      <xbrli:startDate>2021-01-01</xbrli:startDate>
      <xbrli:endDate>2021-12-31</xbrli:endDate>
    </xbrli:period>
  </xbrli:context>
  <xbrli:context id="d2">
    <xbrli:entity>
      <xbrli:identifier scheme="http://www.ferc.gov/CID">E77</xbrli:identifier>
      <xbrli:segment>
        <xbrldi:typedMember dimension="ferc:RegionAxis">
          <ferc:Region>west</ferc:Region>
        </xbrldi:typedMember>
      </xbrli:segment>
    </xbrli:entity>
    <xbrli:period>
      <xbrli:startDate>2021-01-01</xbrli:startDate>
      <xbrli:endDate>2021-12-31</xbrli:endDate>
    </xbrli:period>
  </xbrli:context>
  <xbrli:context id="d3">
    <xbrli:entity>
      <xbrli:identifier scheme="http://www.ferc.gov/CID">E77</xbrli:identifier>
      <xbrli:segment>
        <xbrldi:typedMember dimension="ferc:RegionAxis">
          <ferc:Region>east</ferc:Region>
        </xbrldi:typedMember>
        <xbrldi:explicitMember dimension="ferc:FuelTypeAxis">ferc:Coal</xbrldi:explicitMember>
      </xbrli:segment>
    </xbrli:entity>
    <xbrli:period>
      <xbrli:startDate>2021-01-01</xbrli:startDate>
      <xbrli:endDate>2021-12-31</xbrli:endDate>
    </xbrli:period>
  </xbrli:context>
  <xbrli:context id="i1">
    <xbrli:entity>
      <xbrli:identifier scheme="http://www.ferc.gov/CID">E77</xbrli:identifier>
    </xbrli:entity>
    <xbrli:period>
      <xbrli:instant>2021-12-31</xbrli:instant>
    </xbrli:period>
  </xbrli:context>
  <xbrli:context id="i2">
    <xbrli:entity>
      <xbrli:identifier scheme="http://www.ferc.gov/CID">E77</xbrli:identifier>
      <xbrli:segment>
        <xbrldi:typedMember dimension="ferc:RegionAxis">
          <ferc:Region>west</ferc:Region>
        </xbrldi:typedMember>
      </xbrli:segment>
    </xbrli:entity>
    <xbrli:period>
      <xbrli:instant>2021-12-31</xbrli:instant>
    </xbrli:period>
  </xbrli:context>
  <ferc:ReportDate contextRef="d1">2021-04-18</ferc:ReportDate>
  <ferc:RevenueTotal contextRef="d1">1234.5</ferc:RevenueTotal>
  <ferc:RevenueTotal contextRef="d2">200.25</ferc:RevenueTotal>
  <ferc:RevenueTotal contextRef="d2">200.25</ferc:RevenueTotal>
  <ferc:RevenueTotal contextRef="d3">99</ferc:RevenueTotal>
  <ferc:OperatorName contextRef="d1">Acme Power</ferc:OperatorName>
  <ferc:PlantCount contextRef="i1">12</ferc:PlantCount>
  <ferc:PlantCount contextRef="i2">7</ferc:PlantCount>
  <ferc:NetGeneration contextRef="i1">5000.5</ferc:NetGeneration>
  <ferc:NetGeneration contextRef="i1">5000.55</ferc:NetGeneration>
  <ferc:EmptyFact contextRef="i1"></ferc:EmptyFact>
</xbrli:xbrl>
"""


@pytest.fixture(scope="session")
def filing_bytes() -> bytes:
    return FILING_XML.encode()


@pytest.fixture(scope="session")
def filing_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("filings")
    (d / "acme-2021.xbrl").write_text(FILING_XML)
    return str(d)
