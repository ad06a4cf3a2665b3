"""Scalar column-expression builders (SURVEY §2.F, F1–F16).

Each builder returns a ``pyspark.sql.Column`` so it composes inside any
declarative plan and stays JVM-side (whole-stage codegen) — no Python
workers in the hot path. The reference implements these as per-row
Python; the semantics (including the lenient fall-throughs) are
preserved exactly, with reference citations per function.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# F1 — lenient date reformat.
# Reference: gcs_to_bq/main.py:213-221, sales_to_bq/main.py:78-86 —
# 'dd/MM/yyyy' → 'yyyy-MM-dd', returning the INPUT UNCHANGED on parse
# failure (never throws per-row).
# ---------------------------------------------------------------------------
def reformat_date_lenient(c: Column | str, in_fmt: str = "dd/MM/yyyy", out_fmt: str = "yyyy-MM-dd") -> Column:
    c = _col(c)
    return F.coalesce(F.date_format(F.try_to_timestamp(c, F.lit(in_fmt)), out_fmt), c)


# ---------------------------------------------------------------------------
# F2 — contacts datetime parse: 'dd/MM/yyyy HH:mm:ss' → timestamp.
# Reference: contatos_to_bq/main.py:90-91,103.
# ---------------------------------------------------------------------------
def parse_contact_datetime(c: Column | str) -> Column:
    return F.try_to_timestamp(_col(c), F.lit("dd/MM/yyyy HH:mm:ss"))


# ---------------------------------------------------------------------------
# F3 — compact timestamp parse/format: yyyyMMdd'T'HHmmss ↔ timestamp.
# Reference: gcs_to_bq/main.py:274, webhook_handler/main.py:61.
# ---------------------------------------------------------------------------
def parse_compact_ts(c: Column | str) -> Column:
    return F.try_to_timestamp(_col(c), F.lit("yyyyMMdd'T'HHmmss"))


def format_compact_ts(c: Column | str) -> Column:
    return F.date_format(_col(c), "yyyyMMdd'T'HHmmss")


# ---------------------------------------------------------------------------
# F4 — Brazilian number parse: '12,5' → 12.5; NULL-safe lenient cast.
# Reference: sales_to_bq/main.py:126,149 (float(replace(',', '.'))).
# ---------------------------------------------------------------------------
def parse_brl_number(c: Column | str) -> Column:
    return F.regexp_replace(_col(c), ",", ".").try_cast("double")


# ---------------------------------------------------------------------------
# F5 — percent-or-absolute discount parse with clamp at zero.
# Reference: sales_to_bq/main.py:120-132 (order) and :142-154 (extract):
#   if '%' in s: discount = pct/100 * total   else: absolute value
#   errors → 0.0 ; result clamped to max(0, ·).
# ---------------------------------------------------------------------------
def parse_discount(discount_str: Column | str, total: Column | str) -> Column:
    s, total = _col(discount_str), _col(total)
    pct = parse_brl_number(F.regexp_replace(s, "%", "")) / F.lit(100.0) * total
    absolute = parse_brl_number(s)
    raw = F.when(s.contains("%"), pct).otherwise(absolute)
    return F.greatest(F.lit(0.0), F.coalesce(raw, F.lit(0.0)))


# ---------------------------------------------------------------------------
# F6 — reverse-discount gross-up: valor / (1 - d/100); the item-level
# discount amount is the gross-up minus the net value.
# Reference: sales_to_bq/main.py:107,163-165,186-187.
# ---------------------------------------------------------------------------
def gross_up(valor: Column | str, desconto_pct: Column | str) -> Column:
    # try_divide: NULL (not an ANSI error) on a 100% item discount.
    return F.try_divide(_col(valor), F.lit(1.0) - _col(desconto_pct) / F.lit(100.0))


def item_discount_amount(valor: Column | str, desconto_pct: Column | str) -> Column:
    return gross_up(valor, desconto_pct) - _col(valor)


# ---------------------------------------------------------------------------
# F8 — category split on ' >> ' → (principal, secundaria); secundaria is
# '' (empty string, not NULL) when the separator is absent.
# Reference: sales_to_bq/main.py:177-184.
# ---------------------------------------------------------------------------
def category_principal(c: Column | str) -> Column:
    return F.try_element_at(F.split(_col(c), " >> "), F.lit(1))


def category_secundaria(c: Column | str) -> Column:
    # try_element_at (not getItem) → NULL instead of ANSI-mode
    # out-of-bounds error when the separator is absent.
    parts = F.split(_col(c), " >> ")
    return F.coalesce(F.try_element_at(parts, F.lit(2)), F.lit(""))


# ---------------------------------------------------------------------------
# F10 — filename regex parse. The reference grammar
# (backfill/gcs_to_pupsub.py:10,19-31):
#   z316-tiny-api-{dados_id}-(produto|pdv|pesquisa)(-{pid})?-{ts}-{uuid}.json
# ---------------------------------------------------------------------------
BLOB_NAME_PATTERN = r"z316-tiny-api-(\d+)-(produto|pdv|pesquisa)(?:-(\d+))?-(\d{8}T\d{6})-([a-f0-9-]+)\.json"


def parse_blob_name(c: Column | str) -> dict[str, Column]:
    c = _col(c)
    return {
        "dados_id": F.regexp_extract(c, BLOB_NAME_PATTERN, 1),
        "data_type": F.regexp_extract(c, BLOB_NAME_PATTERN, 2),
        "produto_id": F.nullif(F.regexp_extract(c, BLOB_NAME_PATTERN, 3), F.lit("")),
        "ts": F.regexp_extract(c, BLOB_NAME_PATTERN, 4),
        "uuid": F.regexp_extract(c, BLOB_NAME_PATTERN, 5),
    }


# ---------------------------------------------------------------------------
# F13 — UUID per row (nondeterministic; excluded from oracle hashes).
# Reference: webhook_handler/main.py:62.
# ---------------------------------------------------------------------------
def gen_uuid() -> Column:
    return F.expr("uuid()")
