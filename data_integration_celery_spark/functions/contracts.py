"""Futures contract-code parsing (SURVEY §2.8 string kernels).

Reference: python ``re`` parsing of contract codes with the CZC 3-digit
disambiguation (+1000 when the yymm would land implausibly far in the past)
— /root/reference tasks/tushare/tushare_future/continuse_contract_md.py:42-80;
regex type extraction tasks/wind/future.py:676-677, 972-974.

All Column expressions — the parse runs inside whole-stage codegen, never in
Python, so deriving (instrument_type, delivery ym) for 10^11 rows is a scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def instrument_type(code: Column) -> Column:
    """'RB2101.SHF' → 'RB'; 'SR607.CZC' → 'SR' (leading letters)."""
    return F.upper(F.regexp_extract(code, r"^([A-Za-z]+)", 1))


def exchange(code: Column) -> Column:
    """'RB2101.SHF' → 'SHF' (suffix after the final dot)."""
    return F.upper(F.substring_index(code, ".", -1))


def delivery_ym(code: Column, reference_year: int = 2020) -> Column:
    """Contract digits → sortable delivery yyyymm.

    4-digit codes are unambiguous within a 30-year window: 'RB2101' → 202101.
    CZC 3-digit codes ('SR607') drop the decade: resolve to the decade at or
    before ``reference_year``, rolling back 10 years when the result would be
    more than 3 years in the future — a sliding window of [ref-6, ref+3].

    DELIBERATE generalization of the reference (continuse_contract_md.py:
    42-80): its +1000 digit adjustment pins EVERY 3-digit code to 201x,
    which is exactly this window at reference_year 2013-2016 (pinned by
    test_contract_parsing_goldens) but mis-dates any post-2019 CZC code.
    Callers must pass a ``reference_year`` near the data epoch; a dataset
    spanning more than the 10-year window needs a per-row reference (e.g.
    the row's trade year) rather than one static value.
    """
    digits = F.regexp_extract(code, r"([0-9]+)", 1)
    n = F.length(digits)
    # 4-digit: yymm with century pivot (yy>=90 → 19yy, else 20yy)
    yy4 = F.substring(digits, 1, 2).cast("int")
    mm4 = F.substring(digits, 3, 2).cast("int")
    ym4 = (F.when(yy4 >= 90, 1900 + yy4).otherwise(2000 + yy4) * 100 + mm4)
    # 3-digit (CZC): y is the year's last digit; pick decade near reference
    y1 = F.substring(digits, 1, 1).cast("int")
    mm3 = F.substring(digits, 2, 2).cast("int")
    decade = reference_year - (reference_year % 10)
    cand = (F.lit(decade) + y1)
    year3 = F.when(cand > reference_year + 3, cand - 10).otherwise(cand)
    ym3 = year3 * 100 + mm3
    return (F.when(n == 4, ym4)
             .when(n == 3, ym3)
             .otherwise(F.lit(None).cast("int")))
