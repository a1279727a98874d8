"""G20: one-pass quality constraint suite + the upsert survivor aggregate."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ferc_xbrl_extractor_spark.operators import quality as Q
from ferc_xbrl_extractor_spark.pipeline.upsert import merge_latest_unioned


@pytest.fixture()
def people(spark):
    return spark.createDataFrame(
        [
            Row(id=1, name="ann", age=34, status="A"),
            Row(id=2, name="bob", age=51, status="A"),
            Row(id=3, name=None, age=-1, status="X"),
            Row(id=3, name="cyd", age=20, status="B"),
        ]
    )


def test_check_constraints_report(spark, people):
    report = Q.check_constraints(
        people,
        [
            Q.size_between(1),
            Q.completeness("name"),
            Q.uniqueness("id"),
            Q.non_negative("age"),
            Q.in_set("status", ["A", "B"]),
            Q.matches("name", "^[a-z]+$"),
        ],
    ).collect()
    by_name = {r["constraint"]: r for r in report}
    assert by_name["size"]["passed"]
    assert by_name["completeness(name)"]["metric"] == 0.75
    assert not by_name["completeness(name)"]["passed"]
    assert by_name["uniqueness(id)"]["metric"] == 0.75
    assert not by_name["uniqueness(id)"]["passed"]
    assert not by_name["non_negative(age)"]["passed"]
    assert by_name["in_set(status)"]["metric"] == 0.75
    assert by_name["matches(name)"]["passed"]  # all non-null names match
    # declared order is preserved
    assert [r["constraint"] for r in report][0] == "size"


@pytest.mark.slow
def test_uniqueness_approx_same_decision_no_expand(spark, people):
    """approx=True (HLL) must reach the same pass/fail decisions as the
    exact ratio at a tolerant threshold, and must NOT introduce the
    Expand node that exact count-distinct forces into the plan."""
    report = Q.check_constraints(
        people,
        [
            Q.uniqueness("id", at_least=0.9),
            Q.uniqueness("id", approx=True, at_least=0.9),
            Q.uniqueness("id", "name", at_least=0.9),
            Q.uniqueness("id", "name", approx=True, at_least=0.9),
        ],
    ).collect()
    by_name = {r["constraint"]: r for r in report}
    # 3 distinct of 4 rows: both forms fail the 0.9 bar
    assert not by_name["uniqueness(id)"]["passed"]
    assert not by_name["uniqueness~(id)"]["passed"]
    # (id, name) has a NULL name row, which count_distinct SKIPS: 3/4 on
    # both forms (approx must not count the null-keyed row as distinct)
    assert by_name["uniqueness(id,name)"]["metric"] == 0.75
    assert by_name["uniqueness~(id,name)"]["metric"] == 0.75
    assert not by_name["uniqueness~(id,name)"]["passed"]

    approx_only = Q.check_constraints(
        people,
        [Q.uniqueness("id", approx=True), Q.completeness("name")],
    )
    plan = approx_only._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan

    # two exact count-distincts on different keys force the Expand replay
    # (one distinct plans as a two-level aggregate — still an extra
    # grouping pass the HLL form doesn't pay)
    exact = Q.check_constraints(
        people, [Q.uniqueness("id"), Q.uniqueness("name")]
    )
    assert "Expand" in exact._jdf.queryExecution().executedPlan().toString()


def test_check_constraints_single_pass_plan(spark, people):
    """The whole suite must compile to ONE aggregate over ONE scan."""
    report = Q.check_constraints(
        people, [Q.completeness("name"), Q.non_negative("age"), Q.size_between(1)]
    )
    plan = report._jdf.queryExecution().executedPlan().toString()
    # no distinct agg in this suite -> exactly one scan, no join/expand
    assert plan.lower().count("scan existingrdd") + plan.lower().count("scan parquet") <= 1
    assert "Join" not in plan


def test_check_constraints_empty_input_fails_closed(spark, people):
    empty = people.filter(F.lit(False))
    report = Q.check_constraints(empty, [Q.completeness("name")]).collect()
    assert report[0]["metric"] is None
    assert report[0]["passed"] is False


def test_check_constraints_rejects_duplicates(spark, people):
    with pytest.raises(ValueError, match="duplicate"):
        Q.check_constraints(people, [Q.size_between(1), Q.size_between(1)])
    with pytest.raises(ValueError, match="empty"):
        Q.check_constraints(people, [])


def test_merge_latest_updates_inserts_passthrough(spark):
    existing = spark.createDataFrame(
        [Row(k=1, v="old1", ver=1), Row(k=2, v="old2", ver=1)]
    )
    updates = spark.createDataFrame(
        [Row(k=2, v="new2", ver=2), Row(k=3, v="new3", ver=2)]
    )
    both = existing.unionByName(updates)
    out = {r["k"]: r for r in merge_latest_unioned(both, ["k"], "ver").collect()}
    assert out[1]["v"] == "old1"  # passthrough
    assert out[2]["v"] == "new2"  # update wins
    assert out[3]["v"] == "new3"  # insert
    assert len(out) == 3


def test_merge_latest_schema_evolution(spark):
    existing = spark.createDataFrame([Row(k=1, v="a", ver=1)])
    updates = spark.createDataFrame([Row(k=2, v="b", ver=2, extra="x")])
    both = existing.unionByName(updates, allowMissingColumns=True)
    out = {r["k"]: r for r in merge_latest_unioned(both, ["k"], "ver").collect()}
    assert out[1]["extra"] is None
    assert out[2]["extra"] == "x"


def test_merge_latest_is_aggregate_not_window(spark):
    existing = spark.createDataFrame([Row(k=1, v="a", ver=1)])
    updates = spark.createDataFrame([Row(k=1, v="b", ver=2)])
    plan = (
        merge_latest_unioned(existing.unionByName(updates), ["k"], "ver")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "max_by" in plan or "HashAggregate" in plan


@pytest.mark.slow
def test_uniqueness_approx_matches_exact_null_key_semantics(spark):
    """approx=True must skip NULL-keyed rows exactly like count_distinct
    does — a bare struct would count them and flip a failing
    candidate-key constraint into a pass."""
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, None), (4, None)],
        "a long, b string",
    )
    report = Q.check_constraints(
        df,
        [
            Q.uniqueness("a", "b", at_least=0.9),
            Q.uniqueness("a", "b", approx=True, at_least=0.9),
        ],
    ).collect()
    by_name = {r["constraint"]: r for r in report}
    # exact: zero fully-non-null tuples -> ratio 0.0 -> fail
    assert by_name["uniqueness(a,b)"]["metric"] == 0.0
    assert not by_name["uniqueness(a,b)"]["passed"]
    # approx must agree, not count the null-keyed rows as distinct
    assert by_name["uniqueness~(a,b)"]["metric"] == 0.0
    assert not by_name["uniqueness~(a,b)"]["passed"]
