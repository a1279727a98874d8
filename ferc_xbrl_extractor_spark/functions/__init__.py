"""Scalar helpers: naming (snakecase / table-name cleaning) and type mapping."""

from ferc_xbrl_extractor_spark.functions.naming import (
    clean_table_name,
    lowercase_uppercase_words,
    snakecase,
    strip_xml_prefix,
)
from ferc_xbrl_extractor_spark.functions.casts import FIELD_TO_SPARK

__all__ = [
    "clean_table_name",
    "lowercase_uppercase_words",
    "snakecase",
    "strip_xml_prefix",
    "FIELD_TO_SPARK",
]
