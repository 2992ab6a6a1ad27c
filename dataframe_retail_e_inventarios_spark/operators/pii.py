"""PII detection / redaction for training-data pipelines
[SURVEY §2.11 N4 extension].

Pattern-based scrubbing of emails, simple phone numbers, and IPv4
addresses — entirely native ``regexp_count`` / ``regexp_replace``
expressions (JVM-side, codegen, zero Python in the hot path). The
pattern set is deliberately conservative and engine-portable: every
regex runs identically under Java's engine (Spark) and RE2 (DuckDB
oracle), which rules out lookbehind and backreferences. A production
deployment would extend PATTERNS; the redaction chain and counting
shape stay the same.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# Ordered: emails are redacted before IPs so a dotted-quad inside an
# email's domain is consumed as part of the email, matching how the
# chain composes in both engines.
PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}-\d{4}\b", "<PHONE>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def redact_pii(docs: DataFrame) -> DataFrame:
    """(doc_id, n_email, n_phone, n_ip, redacted, pii_free) in one
    narrow projection — counts come from the original text, the
    redacted text applies the replacement chain in PATTERNS order."""
    t: Column = F.col("text")
    counts = [
        F.regexp_count(t, F.lit(rx)).cast("long").alias(f"n_{name}")
        for name, rx, _ in PATTERNS
    ]
    red = t
    for _, rx, token in PATTERNS:
        red = F.regexp_replace(red, rx, token)
    total = None
    for name, _, _ in PATTERNS:
        c = F.col(f"n_{name}")
        total = c if total is None else total + c
    return docs.select(F.col("doc_id"), *counts, red.alias("redacted")).withColumn(
        "pii_free", total == 0
    )


def pii_sql_fragments(text_expr: str) -> tuple[list[str], str]:
    """DuckDB twins: ([count exprs], redacted expr) over ``text_expr``."""
    counts = [
        f"CAST(len(regexp_extract_all({text_expr}, '{rx}')) AS BIGINT) AS n_{name}"
        for name, rx, _ in PATTERNS
    ]
    red = text_expr
    for _, rx, token in PATTERNS:
        red = f"regexp_replace({red}, '{rx}', '{token}', 'g')"
    return counts, red
