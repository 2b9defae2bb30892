"""PII redaction over a text column — pure JVM regex, no UDF.

Training corpora are scrubbed of emails / IPs / phone-shaped strings
before use. Here that is a chain of ``regexp_replace`` projections plus
``regexp_count`` audit columns: per-row, embarrassingly parallel, inside
whole-stage codegen — the 100 TB cost is one scan.

Patterns are deliberately lookahead-free and anchored with ``\\b`` only,
so Java regex (Spark) and RE2 (DuckDB oracle) agree token-for-token;
replacement order is fixed (email → ipv4 → phone) and counts are taken
on the ORIGINAL text, so the audit is order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# kind -> (pattern, replacement); dict order IS the replacement order.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    "phone": (r"\b[0-9]{3}-[0-9]{2,4}\b", "<PHONE>"),
}

# Detection-side superset (queries/text.q_pii_scan): two more kinds whose
# patterns are mutually NON-overlapping with the redaction trio (no dashes
# in the IBAN shape, spaces not dashes in the card shape), so per-kind
# counts are order-independent and each kind can be audited on the
# original text. Kept separate from PII_PATTERNS so the redaction chain —
# and q_pii_redact's committed oracle — are unchanged.
PII_SCAN_PATTERNS: dict[str, tuple[str, str]] = {
    **PII_PATTERNS,
    "iban": (r"\b[A-Z]{2}[0-9]{2}[A-Z0-9]{10,30}\b", "<IBAN>"),
    "cc": (r"\b[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}\b", "<CARD>"),
}


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace PII spans in ``text_col`` with typed placeholders and add
    ``n_<kind>`` count columns (counted on the pre-redaction text) plus
    the ``redacted`` output column."""
    out = df
    for kind, (pat, _) in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{kind}", F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
        )
    red = F.col(text_col)
    for pat, repl in PII_PATTERNS.values():
        red = F.regexp_replace(red, pat, repl)
    return out.withColumn("redacted", red)
