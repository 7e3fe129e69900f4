"""PII hash/mask expressions, native (SURVEY §2.8 F22/F23).

Reference behavior: parsing_engine/pii_handler.py:103-104 (salted sha256
truncated to 8 hex) and :52-67 (mask strategies). The full multi-entity
replacement pass lives in operators/pii.py (pandas UDF); the hash strategy
for a single already-extracted value is a pure expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_SALT = "secure_salt_value"


def pii_hash_col(value: Column, salt: str = DEFAULT_SALT) -> Column:
    """substring(sha2(value||salt, 256), 1, 8)."""
    return F.substring(F.sha2(F.concat(value, F.lit(salt)), 256), 1, 8)


def anonymize_hash_col(text: Column, entity_type: str, pattern: str,
                       salt: str = DEFAULT_SALT) -> Column:
    """Replace occurrences of the first value matching `pattern` with
    [TYPE_hash8] (native single-entity variant; the multi-entity
    left-to-right pass with overlap handling is operators/pii.py).
    """
    value = F.regexp_extract(text, pattern, 0)
    replacement = F.concat(
        F.lit(f"[{entity_type}_"), pii_hash_col(value, salt), F.lit("]")
    )
    return F.when(value != "", F.replace(text, value, replacement)).otherwise(text)


def mask_email_col(value: Column) -> Column:
    """j***@domain masking (pii_handler.py:52-60)."""
    at = F.locate("@", value)
    return F.when(
        (at > 1),
        F.concat(F.substring(value, 1, 1), F.lit("***"), F.substring(value, at, F.length(value))),
    ).otherwise(F.lit("[EMAIL_REDACTED]"))
