"""Name-mangling functions (SURVEY.md §2.7 F1-F4).

Table/column name parity with the reference depends on exact snakecase
semantics (reference uses the public ``stringcase`` package:
/root/reference/src/ferc_xbrl_extractor/instance.py:129 and
datapackage.py:238). We re-implement the same public algorithm here (it is a
three-line transformation) plus the reference's uppercase-word cleanup and
table-name parsing (datapackage.py:142-153, 201-246), pinned by golden tests.
"""

from __future__ import annotations

import re

_SEPARATORS = re.compile(r"[\-\.\s]")
_UPPER = re.compile(r"[A-Z]")

# Fully-uppercase runs following a non-uppercase char (reference
# UPPERCASE_WORD_PATTERN, datapackage.py:147-153): "FooABC" -> "FooAbc".
_UPPERCASE_WORD = re.compile(r"[^A-Z][A-Z]([A-Z]+)")

_TABLE_NAME = re.compile(r"(.+)\s+-\s+Schedule\s+-\s+(.*)", re.I)


def snakecase(name: str) -> str:
    """Convert camelCase/PascalCase (and -,.,space separators) to snake_case.

    Matches ``stringcase.snakecase``: separators become underscores, the
    first character is lowercased, and every subsequent uppercase character
    is replaced by ``_<lower>`` (so ``ABC`` -> ``a_b_c``).
    """
    s = _SEPARATORS.sub("_", str(name))
    if not s:
        return s
    return s[0].lower() + _UPPER.sub(lambda m: "_" + m.group(0).lower(), s[1:])


def strip_xml_prefix(name: str) -> str:
    """``ferc:Something`` -> ``Something`` (reference instance.py:75-79)."""
    return name.split(":", 1)[1] if ":" in name else name


def lowercase_uppercase_words(name: str) -> str:
    """Lowercase the tail of fully-uppercase words so snakecase doesn't
    insert an underscore per letter (reference ``_lowercase_words``)."""
    for upper in _UPPERCASE_WORD.findall(name):
        name = name.replace(upper, upper.lower())
    return name


def clean_table_name(name: str) -> str | None:
    """Parse/clean a LinkRole definition into a table name.

    Semantics pinned by the reference's parametrized goldens
    (tests/unit/datapackage_test.py:195-215): ``"{title} - Schedule -
    {page}"`` -> ``{page}_{title}`` snakecased with special chars stripped;
    names containing ``Deprecated`` -> None; anything else -> RuntimeError.
    """
    name = lowercase_uppercase_words(name)
    m = _TABLE_NAME.match(name)
    if not m:
        if "Deprecated" in name:
            return None
        raise RuntimeError(f"Error could not parse table name: '{name}'.")
    table_name = snakecase(f"{m.group(2)}_{m.group(1)}")
    table_name = re.sub(r"\W", "", table_name)
    return re.sub(r"_(_+)", "_", table_name)
