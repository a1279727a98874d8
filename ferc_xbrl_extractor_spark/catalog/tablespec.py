"""TableSpec: the per-output-table schema contract (SURVEY.md §1.1-1.3).

A TableSpec is the Spark analogue of the reference's Frictionless
``Resource``+``FactTable`` pair (datapackage.py:292-459): a table name, a
period type, an ordered field list with declared types, and the composite
primary key (common context columns + axis columns). The catalog is built on
the driver — schema inference never touches executors — and each spec is
turned into one logical DataFrame plan by ``pipeline.extract``.

Cross-taxonomy-version schema evolution follows the reference
(datapackage.py:348-387, 473-527): new columns are appended, removed columns
are retained, PK mismatch is a hard error.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

# Common PK columns (reference DURATION_COLUMNS / INSTANT_COLUMNS,
# datapackage.py:105-113).
DURATION_PK = ["entity_id", "filing_name", "publication_time", "start_date", "end_date"]
INSTANT_PK = ["entity_id", "filing_name", "publication_time", "date"]


@dataclass
class TableSpec:
    """Schema of one output table."""

    name: str
    period_type: str  # "duration" | "instant"
    # data column name -> frictionless type (string/number/integer/boolean/date/duration/year)
    columns: dict[str, str]
    # axis (dimension) column names, snakecased, each ending in "_axis"
    axes: list[str] = field(default_factory=list)

    @property
    def instant(self) -> bool:
        return self.period_type == "instant"

    @property
    def primary_key(self) -> list[str]:
        base = INSTANT_PK if self.instant else DURATION_PK
        return base + list(self.axes)

    @property
    def data_columns(self) -> list[str]:
        return [c for c in self.columns if c not in self.primary_key]


def merge_specs(base: TableSpec, other: TableSpec) -> TableSpec:
    """Merge two versions of one table's spec (reference
    Resource.merge_resources semantics: keep removed, append new, PK must
    match exactly)."""
    if base.primary_key != other.primary_key:
        raise RuntimeError(
            f"Primary key mismatch while merging table {base.name}: "
            f"{base.primary_key} != {other.primary_key}"
        )
    merged = dict(base.columns)
    for name, ftype in other.columns.items():
        merged.setdefault(name, ftype)
    return TableSpec(
        name=base.name,
        period_type=base.period_type,
        columns=merged,
        axes=list(base.axes),
    )


def merge_catalogs(versions: dict[str, dict[str, TableSpec]]) -> dict[str, TableSpec]:
    """Merge dated catalogs oldest-first (reference Datapackage.from_taxonomies)."""
    out: dict[str, TableSpec] = {}
    for _date, catalog in sorted(versions.items()):
        for name, spec in catalog.items():
            out[name] = merge_specs(out[name], spec) if name in out else spec
    return out


def specs_from_json(source: str | Path | dict) -> dict[str, TableSpec]:
    """Load a catalog from a JSON document.

    Format: ``{table_name: {"period_type": ..., "axes": [...],
    "columns": {col: type}}}``. This is the Arelle-free path: the taxonomy
    DAG -> spec derivation runs wherever Arelle is available and is frozen
    to JSON; executors and tests consume only the JSON.
    """
    doc = source if isinstance(source, dict) else json.loads(Path(source).read_text())
    return {
        name: TableSpec(
            name=name,
            period_type=body["period_type"],
            columns=dict(body["columns"]),
            axes=list(body.get("axes", [])),
        )
        for name, body in doc.items()
    }


def specs_to_json(specs: dict[str, TableSpec]) -> dict:
    return {
        s.name: {
            "period_type": s.period_type,
            "axes": list(s.axes),
            "columns": dict(s.columns),
        }
        for s in specs.values()
    }
