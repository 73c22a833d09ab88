"""Legal-document metadata extraction as pure Spark column expressions.

Semantic parity with the reference's offline extractor
(``crawl/1/extract_document_info.py:4-63``): document-code regex scan
(D5), pipe-split agency (D6), line-scan issue date with regex fallback
(D7), reverse line-scan signer (D8) — but distributed: one ``select`` over
a documents DataFrame, no UDFs, all higher-order functions (JVM-side).

ANSI-safe (Spark 4): ``try_element_at`` everywhere an index can miss.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from bigdata_2025_1_spark.functions.text import py_strip

# crawl/1/extract_document_info.py:5 — \d{1,4}/(\d{4}/)? then 1-5 uppercase
# letters (incl. Đ), dash-joined alnum suffixes.
CODE_PATTERN = r"\d{1,4}/(?:\d{4}/)?[A-ZĐ]{1,5}(?:-[A-Z0-9]{1,5})*"
# crawl/1/extract_document_info.py:48
SIGNER_PATTERN = r"\b(KT\.|TL\.|THỨ TRƯỞNG|BỘ TRƯỞNG)\b"
# crawl/1/extract_document_info.py:41
# Python re \s is Unicode-wide; mirror with the explicit class
from bigdata_2025_1_spark.functions.text import PY_WS_CLASS  # noqa: E402

DATE_FALLBACK_PATTERN = rf"ngày{PY_WS_CLASS}+\d{{1,2}}{PY_WS_CLASS}+tháng"


def _lines(text: Column) -> Column:
    return F.split(text, "\n", -1)


def doc_codes(text: Column) -> Column:
    """All document codes in order (re.findall parity)."""
    return F.regexp_extract_all(text, F.lit(CODE_PATTERN), 0)


def main_code(text: Column) -> Column:
    """First code or null (extract_document_info.py:19)."""
    return F.try_element_at(doc_codes(text), F.lit(1))


def related_codes(text: Column) -> Column:
    """Codes after the first that differ from it — order and duplicates
    preserved (extract_document_info.py:20)."""
    codes = doc_codes(text)
    first = F.try_element_at(codes, F.lit(1))
    rest = F.slice(codes, 2, F.greatest(F.size(codes) - 1, F.lit(0)))
    return F.filter(rest, lambda c: c != first)


def agency(text: Column) -> Column:
    """Second pipe-segment of the whole content, trimmed, when a pipe
    exists (extract_document_info.py:23-25)."""
    return F.when(
        text.contains("|"),
        py_strip(F.try_element_at(F.split(text, r"\|", -1), F.lit(2))),
    )


def issue_date(text: Column) -> Column:
    """First line with 'Số:' and (case-insensitive) 'ngày' → its first
    pipe-part containing 'ngày'; else first line matching the
    ngày-DD-tháng fallback regex (extract_document_info.py:28-43)."""
    lines = _lines(text)
    primary_line = F.try_element_at(
        F.filter(lines, lambda l: l.contains("Số:") & F.lower(l).contains("ngày")),
        F.lit(1),
    )
    primary = py_strip(
        F.try_element_at(
            F.filter(F.split(primary_line, r"\|", -1), lambda p: F.lower(p).contains("ngày")),
            F.lit(1),
        )
    )
    fallback = py_strip(
        F.try_element_at(
            F.filter(lines, lambda l: F.lower(l).rlike(DATE_FALLBACK_PATTERN)),
            F.lit(1),
        )
    )
    return F.coalesce(primary, fallback)


def signer(text: Column) -> Column:
    """Last line matching the signer-title regex, whitespace-normalized,
    only if it has ≥2 words (extract_document_info.py:46-52; the
    words[:3]/words[:] branch there is dead code — both arms join all
    words)."""
    lines = _lines(text)
    last = F.try_element_at(F.filter(lines, lambda l: l.rlike(SIGNER_PATTERN)), F.lit(-1))
    # .strip().split() parity: Unicode whitespace split, empties dropped
    words = F.filter(
        F.split(py_strip(last), PY_WS_CLASS + "+", -1), lambda w: w != F.lit("")
    )
    return F.when(F.size(words) >= 2, F.array_join(words, " "))
