"""Property-based check of the as-of join (G9) against pandas merge_asof.

The engine implements as-of as union + tag + one windowed LOCF pass (no
range join); pandas merge_asof is the independent reference semantics.
Hypothesis drives both with random event/reference sets, both directions.
"""

from __future__ import annotations

import pytest

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ferc_xbrl_extractor_spark.operators.joins import asof_join


@st.composite
def asof_case(draw):
    keys = [0, 1]
    left = [
        (draw(st.sampled_from(keys)), draw(st.integers(0, 30)), i)
        for i in range(draw(st.integers(1, 8)))
    ]
    # unique (key, time) on the right: carry-forward on right-side time ties
    # is order-dependent in both engines, so ties are out of contract
    right_times = draw(
        st.lists(
            st.tuples(st.sampled_from(keys), st.integers(0, 30)),
            min_size=1,
            max_size=8,
            unique=True,
        )
    )
    right = [(k, t, 100 + i) for i, (k, t) in enumerate(right_times)]
    direction = draw(st.sampled_from(["backward", "forward"]))
    return left, right, direction


def _expected(left, right, direction):
    lpdf = pd.DataFrame(left, columns=["k", "t", "eid"]).sort_values("t", kind="mergesort")
    rpdf = pd.DataFrame(right, columns=["k", "t", "v"]).sort_values("t", kind="mergesort")
    merged = pd.merge_asof(
        lpdf,
        rpdf,
        on="t",
        by="k",
        direction=direction,
    )
    return {
        int(r.eid): (None if pd.isna(r.v) else int(r.v))
        for r in merged.itertuples()
    }


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(asof_case())
@pytest.mark.slow
def test_asof_join_matches_merge_asof(spark, case):
    left, right, direction = case
    ldf = spark.createDataFrame(left, "k int, t long, eid int")
    rdf = spark.createDataFrame(right, "k int, t long, v int")
    out = asof_join(
        ldf,
        rdf,
        on="k",
        left_time="t",
        right_time="t",
        right_values=["v"],
        direction=direction,
    )
    got = {r["eid"]: r["v"] for r in out.collect()}
    assert got == _expected(left, right, direction)
