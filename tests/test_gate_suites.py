"""Driver-gate suite layer (__spark_entry__.queries() folding).

The external correctness gate records at most 50 queries per round, so
queries() folds the 90-query fine-grained surface into <=50 entries:
standalone queries plus tagged union suites. These tests pin the
invariants that make that fold safe:

- every fine query is carried by exactly one gate entry;
- the gate declaration fits the 50-row recording cap;
- every gate entry has an oracle;
- suite slot mapping is loss-free (tag + typed slots, stable order) and
  a suite relation row-partitions exactly into its members' relations.
"""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry  # noqa: E402
from conftest import SF0001 as SF, needs_sf0001  # noqa: E402


def test_gate_fits_cap_and_covers_everything():
    fine = entry.fine_queries()
    gate = entry.queries()
    assert len(gate) <= 50, f"{len(gate)} entries exceeds the gate cap"
    members = {m for ms in entry._SUITES.values() for m in ms}
    standalone = set(gate) - set(entry._SUITES)
    # partition: every fine query is standalone XOR a suite member
    assert standalone | members == set(fine)
    assert standalone & members == set()
    # suite members never collide across suites
    flat = [m for ms in entry._SUITES.values() for m in ms]
    assert len(flat) == len(members)
    # member specs exist for exactly the suite members
    assert set(entry._MEMBER_COLS) == members


def test_gate_roster_counts_match_docstring():
    """The queries() docstring IS the driver-contract documentation
    (VERDICT r7 'what's wrong' #2: it drifted to 43/16 while the roster
    held 44/17) — pin its arithmetic to the live roster so the next
    roster change can't ship a stale count."""
    import re

    gate = entry.queries()
    n_suites = len(entry._SUITES)
    n_standalone = len(gate) - n_suites
    doc = entry.queries.__doc__
    m = re.search(
        r"(\d+) entries \((\d+)\s+standalone queries \+ (\d+) union suites\)"
        r".*?(\d+) entries of headroom",
        doc,
        re.DOTALL,
    )
    assert m, "docstring no longer states the roster arithmetic"
    total, standalone, suites, headroom = map(int, m.groups())
    assert total == len(gate)
    assert standalone == n_standalone
    assert suites == n_suites
    assert headroom == 50 - len(gate)


def test_every_gate_entry_has_oracle():
    assert set(entry.oracle_sql()) == set(entry.queries())
    fine_sql = entry.fine_oracle_sql()
    assert set(fine_sql) == set(entry.fine_queries())


def test_slot_mapping_is_deterministic_and_typed():
    for suite, members in entry._SUITES.items():
        slots = entry._suite_slots(members)
        names = [s for s, _ in slots]
        assert names == sorted(names)
        for m in members:
            per = entry._member_slots(m)
            # one slot per member column, kinds consistent with the union
            assert len(per) == len(entry._MEMBER_COLS[m])
            for _c, kind, slot in per:
                assert (slot, kind) in slots


@needs_sf0001
@pytest.mark.parametrize("suite", ["xbrl_scan_suite", "g_window_asof_suite"])
def test_suite_rows_partition_into_members(spark, suite):
    members = entry._SUITES[suite]
    fine = entry.fine_queries()
    got = entry.queries()[suite](spark, SF)
    counts = {
        r["q"]: r["n"]
        for r in got.groupBy("q").count().withColumnRenamed("count", "n").collect()
    }
    for m in members:
        assert counts.get(m, 0) == fine[m](spark, SF).count()


@needs_sf0001
def test_member_schema_drift_raises(spark, monkeypatch):
    suite = "xbrl_scan_suite"
    member = entry._SUITES[suite][0]
    wrong = entry._MEMBER_COLS[member][1:]  # drop a column from the spec
    monkeypatch.setitem(entry._MEMBER_COLS, member, wrong)
    with pytest.raises(RuntimeError, match="schema drifted"):
        entry.queries()[suite](spark, SF)
