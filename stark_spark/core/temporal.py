"""Spatio-temporal predicate semantics as Catalyst Column expressions.

The reference's load-bearing rule (`/root/reference/dbis/stark/STObject.scala:15-22`):
a binary ST predicate holds iff the SPATIAL check holds AND (BOTH time
components are undefined OR both are defined AND the temporal check
holds). Defined-vs-undefined time ⇒ false.

Time model (`Instant.scala:10-14`, `Interval.scala:10-44`): an Instant
is ``t_start == t_end``; an interval is ``[t_start, t_end)``-ish with
``t_end`` nullable = open-ended. We encode a row's time as two nullable
long columns; "undefined time" = ``t_start IS NULL``.

Everything here is plain Column algebra — stays in whole-stage codegen,
and the null-handling is explicit (SQL three-valued logic would
otherwise eat the both-or-neither rule, SURVEY.md §7 risk #1).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def temporal_intersects(ls: Column, le: Column, rs: Column, re: Column) -> Column:
    """Interval/instant intersection (`Interval.scala:32-36`):
    a.start <= b.end AND b.start <= a.end, open ends = +inf."""
    le_eff = F.coalesce(le, F.lit(2**62))
    re_eff = F.coalesce(re, F.lit(2**62))
    return (ls <= re_eff) & (rs <= le_eff)


def temporal_contains(ls: Column, le: Column, rs: Column, re: Column) -> Column:
    """left contains right (`Interval.scala:38-44`): contains requires the
    contained to be bounded; left.start <= right.start and right.end <=
    left.end (left open end = +inf)."""
    le_eff = F.coalesce(le, F.lit(2**62))
    return re.isNotNull() & (ls <= rs) & (re <= le_eff)


_TEMPORAL_FOR_PREDICATE = {
    "intersects": lambda ls, le, rs, re: temporal_intersects(ls, le, rs, re),
    "contains": lambda ls, le, rs, re: temporal_contains(ls, le, rs, re),
    "containedby": lambda ls, le, rs, re: temporal_contains(rs, re, ls, le),
    # JTS covers/coveredBy on intervals degenerate to contains/containedBy
    # (reference routes covers through the same interval ops,
    # STObject.scala:56-67).
    "covers": lambda ls, le, rs, re: temporal_contains(ls, le, rs, re),
    "coveredby": lambda ls, le, rs, re: temporal_contains(rs, re, ls, le),
}


def st_conjunction(spatial_ok: Column, predicate: str,
                   ls: Column, le: Column, rs: Column, re: Column) -> Column:
    """The §1.2 rule as one Column:

    ``spatial_ok AND (both undefined OR (both defined AND temporal_ok))``

    Null-safe by construction: every branch collapses to True/False,
    never NULL, so downstream ``filter`` keeps exactly the right rows.
    """
    both_undef = ls.isNull() & rs.isNull()
    both_def = ls.isNotNull() & rs.isNotNull()
    temporal_ok = _TEMPORAL_FOR_PREDICATE[predicate](ls, le, rs, re)
    return spatial_ok & (both_undef | (both_def & F.coalesce(temporal_ok, F.lit(False))))
