"""Shared scalar expressions (Column builders, JVM-side only — no UDFs).

Counterparts of the reference's shared SQL-expression helpers
(internal/query/shared.go:18-52, duckdb.go:419-425,681-691).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from msgvault_spark.plans.models import TimeGranularity


def nullif_empty(col: Column) -> Column:
    """NULLIF(col, '')."""
    return F.when(col != "", col)


def participant_name(display: Column, phone: Column, email: Column) -> Column:
    """Display-name fallback chain display_name → phone_number →
    email_address (reference shared.go:32-37)."""
    return F.coalesce(
        nullif_empty(F.trim(display)), nullif_empty(phone), email
    )


def recipient_name(row: Column) -> Column:
    """Per-message display override chain (reference shared.go:47-52) over
    a wide-record junction row (sources/cache.py): the recipient row's
    display_name, then the participant's chain, then ''."""
    return F.coalesce(
        nullif_empty(F.trim(row["recipient_display_name"])),
        participant_name(row["display_name"], row["phone"], row["email"]),
        F.lit(""),
    )


def escape_like(s: str) -> str:
    """Escape LIKE/ILIKE wildcards in user input (reference
    duckdb.go:419-425). Backslash first."""
    return s.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")


def ilike_contains(col: Column, term: str) -> Column:
    """Case-insensitive substring match with wildcard escaping (P8).

    Equivalent to ``col.ilike("%" + escape_like(term) + "%")`` but
    compiled as ``contains`` on the lowered pair (r12, guide §1.2 "per-
    task work"): Catalyst desugars ILike to ``Like(Lower(col),
    Lower(pat))``, and because escape_like's backslashes block the
    LikeSimplification rule, every row then pays a compiled-regex LIKE
    walk. ``escape`` commutes with ``lower`` and a fully-escaped pattern
    wrapped in %...% matches exactly the rows whose lowered value
    CONTAINS the lowered literal, so the predicates are row-identical
    (NULL included). Both lower() calls are engine-side — the literal's
    folds at optimization time. Measured 2.2× on the wide recipient-blob
    scan at sf0.1."""
    return F.lower(col).contains(F.lower(F.lit(term)))


def ilike_endswith(col: Column, term: str) -> Column:
    """``col.ilike("%" + escape_like(term))`` — suffix match (domain
    filters) — as endswith on the lowered pair; same equivalence argument
    as ilike_contains."""
    return F.lower(col).endswith(F.lower(F.lit(term)))


def ilike_equals(col: Column, term: str) -> Column:
    """``col.ilike(escape_like(term))`` — whole-string case-insensitive
    equality (exact label match) — as equality on the lowered pair; same
    equivalence argument as ilike_contains."""
    return F.lower(col) == F.lower(F.lit(term))


def time_key(granularity: TimeGranularity) -> Column:
    """Time grouping key (reference timeExpr, duckdb.go:681-691). Uses the
    materialized year/month partition columns for YEAR/MONTH so partition
    pruning and row-group skipping stay effective at scale."""
    if granularity == TimeGranularity.YEAR:
        return F.col("year").cast("string")
    if granularity == TimeGranularity.DAY:
        return F.date_format(F.col("sent_at"), "yyyy-MM-dd")
    return F.concat(
        F.col("year").cast("string"),
        F.lit("-"),
        F.lpad(F.col("month").cast("string"), 2, "0"),
    )


def email_only_predicate() -> Column:
    """Email-modality predicate (reference shared.go:18)."""
    mt = F.col("message_type")
    return (mt == "email") | mt.isNull() | (mt == "")


TEXT_MESSAGE_TYPES = ("whatsapp", "imessage", "sms", "google_voice_text")


def text_only_predicate() -> Column:
    """Chat-modality predicate (reference duckdb_text.go:16-18)."""
    return F.col("message_type").isin(*TEXT_MESSAGE_TYPES)
