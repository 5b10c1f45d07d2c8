"""PII detection and redaction — emails, phone numbers, IPv4 addresses.

Standard pre-training scrub (the C4/Dolma/FineWeb pipelines all carry
one): count PII spans per document and replace them with stable
placeholder tokens so downstream dedup/fingerprinting sees identical
text for identical non-PII content.

Patterns are deliberately written in the common subset of Java regex
(Spark) and RE2 (the DuckDB oracle): character classes, bounded
repetition, non-capturing groups and ``\\b`` only — no lookarounds, no
backreferences.  Redaction order is part of the spec: emails first
(their local part may contain digits that would otherwise shed partial
phone matches), then IPv4 (dotted quads would otherwise match the
phone pattern's digit runs), then phones.

Everything is a pure Catalyst ``Column`` expression
(``regexp_count`` / chained ``regexp_replace``) — whole-stage codegen,
no Python in the hot path, trivially parallel at any scale.

No counterpart in the reference (an OCR orchestrator); part of the
engine's web-corpus surface alongside functions/text.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PHONE_RE = r"\+?\d{2,3}[- ]\d{3}[- ]\d{3,4}(?:[- ]\d{3,4})?\b"

EMAIL_TOKEN = "[EMAIL]"
IPV4_TOKEN = "[IP]"
PHONE_TOKEN = "[PHONE]"


def email_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(EMAIL_RE))


def ipv4_count(col: Column) -> Column:
    """Counted AFTER email masking (a dotted quad inside an email local
    part, e.g. ``1.2.3.4@example.com``, is consumed by the email
    replacement and must not be double-reported) — the count always
    equals the number of ``[IP]`` tokens ``redact_pii`` emits."""
    return F.regexp_count(
        F.regexp_replace(col, EMAIL_RE, EMAIL_TOKEN), F.lit(IPV4_RE))


def phone_count(col: Column) -> Column:
    """Counted AFTER email/IP masking so a phone-looking digit run inside
    an email local part or a dotted quad is not double-reported — the
    count always equals the number of ``[PHONE]`` tokens ``redact_pii``
    emits."""
    masked = F.regexp_replace(
        F.regexp_replace(col, EMAIL_RE, EMAIL_TOKEN), IPV4_RE, IPV4_TOKEN)
    return F.regexp_count(masked, F.lit(PHONE_RE))


def redact_pii(col: Column) -> Column:
    """Replace every PII span with its placeholder token (email → IPv4 →
    phone, the documented order)."""
    step = F.regexp_replace(col, EMAIL_RE, EMAIL_TOKEN)
    step = F.regexp_replace(step, IPV4_RE, IPV4_TOKEN)
    return F.regexp_replace(step, PHONE_RE, PHONE_TOKEN)


# ---------------------------------------------------------------------------
# Oracle SQL mirrors (DuckDB uses RE2 with 'g' for global replace)
# ---------------------------------------------------------------------------

from ..sqlutil import sq as _sq  # noqa: E402


def email_count_sql(c: str) -> str:
    return f"len(regexp_extract_all({c}, '{_sq(EMAIL_RE)}'))"


def _email_masked_sql(c: str) -> str:
    return (f"regexp_replace({c}, '{_sq(EMAIL_RE)}', "
            f"'{EMAIL_TOKEN}', 'g')")


def ipv4_count_sql(c: str) -> str:
    return (f"len(regexp_extract_all({_email_masked_sql(c)}, "
            f"'{_sq(IPV4_RE)}'))")


def _masked_sql(c: str) -> str:
    return (f"regexp_replace({_email_masked_sql(c)}, "
            f"'{_sq(IPV4_RE)}', '{IPV4_TOKEN}', 'g')")


def phone_count_sql(c: str) -> str:
    return f"len(regexp_extract_all({_masked_sql(c)}, '{_sq(PHONE_RE)}'))"


def redact_pii_sql(c: str) -> str:
    return (f"regexp_replace({_masked_sql(c)}, '{_sq(PHONE_RE)}', "
            f"'{PHONE_TOKEN}', 'g')")
