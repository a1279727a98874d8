"""Type mapping for column casts (SURVEY.md §1.2, §2.7 F9).

The reference's type chain is XBRL base type -> Frictionless field type ->
pandas dtype / convert callable (taxonomy.py:58-66, datapackage.py:116-137).
Here every declared field type maps to exactly one Spark type, and the
table plans (operators/fact_table.py) cast with a Catalyst ``TRY_CAST`` —
vectorized, codegen'd, null-safe (invalid strings become NULL).

Documented deviation (deliberate): the reference converts booleans with
Python ``bool()`` (datapackage.py:129-137), so the string 'false' is
truthy and becomes True — a quirk, not a spec. Spark's CAST parses
'false' -> false (and 'no'/'0' per SQL rules). Boolean columns are
therefore excluded from byte-exact reference-parity comparisons; the
DuckDB oracle agrees with Spark here, not with the reference.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Frictionless field type -> Spark type. Dates are kept as ISO strings to
# match reference output exactly (FIELD_TO_PANDAS["date"] == "string",
# datapackage.py:121); a typed variant is available via spark_type_for(...,
# typed_dates=True) for the Spark-native surface.
FIELD_TO_SPARK: dict[str, T.DataType] = {
    "string": T.StringType(),
    "number": T.DoubleType(),
    "integer": T.LongType(),
    "boolean": T.BooleanType(),
    "date": T.StringType(),
    "duration": T.StringType(),
    "year": T.LongType(),
}

_TYPED_OVERRIDES: dict[str, T.DataType] = {
    "date": T.DateType(),
}


def spark_type_for(field_type: str, typed_dates: bool = False) -> T.DataType:
    if typed_dates and field_type in _TYPED_OVERRIDES:
        return _TYPED_OVERRIDES[field_type]
    return FIELD_TO_SPARK[field_type]
