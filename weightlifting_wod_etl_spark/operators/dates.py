"""Date operators — OP12 (slug date-range extraction), OP13 (week spine).

Reference semantics preserved exactly (SURVEY.md §2.3-3):
  - week start is the SUNDAY BEFORE a Monday-start week:
    ``start = d - timedelta(d.isoweekday())`` (``transforms.py:232``) —
    note a Sunday maps to the *previous* Sunday (isoweekday(Sun)=7);
  - slug parsing handles ``april-1-7-2024`` / ``April 1-7, 2024`` forms with
    month-name lookup (``transforms.py:42-112``); invalid dates → NULL
    (Spark ``make_date`` is NULL-on-invalid with ANSI off, matching the
    reference's try/except).

All pure column expressions — codegen'd, no UDFs, no shuffle.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.expr import let as _let

MONTHS = [
    "january", "february", "march", "april", "may", "june",
    "july", "august", "september", "october", "november", "december",
]


def month_number(name_col: Column) -> Column:
    """Case-insensitive English month name → 1-12 (NULL if unknown).

    Reference: month-name map at ``transforms.py:96-100``.

    portable_lower, not native (r16 casefold audit): a divergent
    codepoint CAN map into the ASCII targets — DuckDB's simple-mapping
    lower('APRİL') = 'april' matches while Spark's full-casing
    'apri̇l' (combining dot) does not. The shared pre-translate pin
    makes both engines match such input identically.
    """
    from ..functions.casefold import portable_lower

    lowered = portable_lower(name_col)
    out = None
    for i, m in enumerate(MONTHS, start=1):
        out = F.when(lowered == m, i) if out is None else out.when(lowered == m, i)
    return out.otherwise(F.lit(None).cast("int"))


def isoweekday(d: Column) -> Column:
    """ISO weekday 1=Monday .. 7=Sunday (Python ``date.isoweekday``)."""
    return ((F.dayofweek(d) + 5) % 7) + 1


def week_start_sunday(d: Column) -> Column:
    """The reference's week anchor: ``d - isoweekday(d)`` days."""
    return F.date_sub(d, isoweekday(d))


def date_spine(start: Column, num_days: Column | int) -> Column:
    """Array of consecutive dates starting at ``start`` (OP13 spine).

    Explode with ``posexplode`` to get (ordinal, date) rows; join on the
    ordinal to attach spine dates positionally, as the reference zips
    ``dates[1:]`` with day groups (``transforms.py:247-259``).
    """
    n = F.lit(num_days) if isinstance(num_days, int) else num_days
    # guard num_days <= 0: sequence(start, start-1) auto-reverses into a
    # DESCENDING 2-element array instead of the empty spine it should be
    return F.when(
        n > 0, F.sequence(start, F.date_add(start, n - F.lit(1)))
    ).otherwise(F.array().cast("array<date>"))


# slug form: 'april-1-7-2024' (month-d1-d2-year); title form
# 'April 1-7, 2024' — \s+ runs and [,\s]+ before the year exactly as the
# reference's title/variation patterns allow (transforms.py:70-87; the
# comma-less "variation" pattern is subsumed by [,\s]+).
# Captures mirror the reference VERBATIM (transforms.py:68,76): month is
# (\w+) — so a digit-prefixed token like '2024april-1-7-2024' MATCHES,
# fails the month lookup, and yields (NULL, NULL) with no fall-through to
# the title pattern — and days are (\d+), so 'april-123-7-2024' matches
# and dies in make_date (the reference's ValueError), again without
# falling through to a title that might otherwise parse. (Java \w/\d are
# ASCII where Python's are unicode-aware; for month tokens the unicode
# difference is unobservable — any non-ASCII month fails the English
# month lookup either way.)
_SLUG_PAT = r"(\w+)-(\d+)-(\d+)-(\d{4})"
_TITLE_PAT = r"(\w+)\s+(\d+)-(\d+)[,\s]+(\d{4})"


@functools.cache
def extract_date_range(slug: str, title: str | None = None) -> tuple[Column, Column]:
    """OP12 — parse a (start, end) date pair from the named slug (and
    title) columns, reference flow preserved (``transforms.py:42-112``,
    verified against the executed reference):

      - ONE text is chosen up front — the slug when truthy, else the
        dash-normalized title. A present-but-dateless slug therefore
        yields (NULL, NULL); title dates are NEVER consulted behind it.
      - patterns are tried in order against that one text; the first
        MATCH wins even if its dates are invalid (no fall-through from a
        matched-but-invalid slug form to a title form).
      - the pair is ATOMIC: if either constructed date is invalid
        (``make_date`` NULL ≙ the reference's ValueError), BOTH are NULL
        — never a partial or cross-pattern pair.

    Returns two DateType columns. Selecting BOTH does not double the
    regex work: the two getFields share one struct subtree and
    whole-stage codegen's subexpression elimination computes it once
    (measured at sf0.1, r11: both fields no slower than one).

    Built once per process per column-name pair and reused by every
    plan: the expression does not depend on the data, and building its
    nested ``let``/``transform`` lambdas takes ~1,800 Py4J calls
    (0.16–0.27 s on 4 vCPUs), a large share of a 5-post batch. A Column
    is a session-free expression tree, so the cached pair stays valid
    across ``spark.stop()`` and a new session in the same process.
    """
    slug, title = F.col(slug), None if title is None else F.col(title)

    def parse(src: Column, pat: str) -> Column:
        # ONE regex execution per matched row (r18 optimization-round,
        # guide §1.2 per-task work): four separate regexp_extract calls
        # each re-ran the full pattern match — 5 regex executions per row
        # with the rlike gate. Wrapping the pattern as
        # ``(?s)^.*?<pat>.*$`` and regexp_replace-ing the WHOLE string
        # with the \x01-joined captures runs the matcher once; a split
        # recovers the four groups. Equivalence to regexp_extract's
        # find() semantics: the lazy ``.*?`` prefix tries match starts
        # left-to-right exactly as find() does, the inner pattern is
        # untouched (no '.' inside, so (?s) changes nothing there), the
        # anchors make exactly one replacement, and the capture classes
        # (\w+, \d+) can neither be empty nor contain \x01 — so on a
        # gated (rlike-matched) row the result is exactly
        # "g1\x01g2\x01g3\x01g4". Parity re-verified at sf0.001/0.01/0.1
        # plus the dirty-slug suite (tests/test_datefn_corners.py).
        #
        # nullif('') is belt-and-braces from the extract form (captures
        # here are provably non-empty post-gate); the cast is NULL under
        # any ANSI setting (reference returns None, §2.3). The parts
        # array is let-bound: without it the interpreted projection
        # re-runs regexp_replace+split once per capture reference
        # (functions/expr.py — the measured CollapseProject pitfall).
        parts_col = F.split(
            F.regexp_replace(
                src, "(?s)^.*?" + pat + ".*$", "$1\x01$2\x01$3\x01$4"
            ),
            "\x01",
        )

        def from_parts(p: Column) -> Column:
            def grp(i: int) -> Column:
                return F.nullif(F.element_at(p, i), F.lit(""))

            caps = F.struct(
                grp(1).alias("mn"),
                grp(2).cast("int").alias("d1"),
                grp(3).cast("int").alias("d2"),
                grp(4).cast("int").alias("y"),
            )
            pair = _let(
                caps,
                lambda c: _let(
                    month_number(c.mn),
                    lambda m: F.struct(
                        F.make_date(c.y, m, c.d1).alias("s"),
                        F.make_date(c.y, m, c.d2).alias("e"),
                    ),
                ),
            )
            # atomicity: both-or-neither (reference's single try/except)
            return _let(
                pair,
                lambda p2: F.when(
                    p2.getField("s").isNotNull() & p2.getField("e").isNotNull(),
                    p2,
                ),
            )

        return _let(parts_col, from_parts)

    if title is None:
        text = slug
    else:
        # the reference normalizes en-dash entities to '-' in the title
        # branch; decode_entities upstream may already have produced the
        # literal en-dash, so normalize that too
        cleaned = title
        for dash in ("&#8211;", "&ndash;", "–"):
            cleaned = F.replace(cleaned, F.lit(dash), F.lit("-"))
        text = F.when(slug.isNotNull() & (slug != ""), slug).otherwise(cleaned)

    result = _let(
        text,
        lambda t: F.when(t.rlike(_SLUG_PAT), parse(t, _SLUG_PAT)).when(
            t.rlike(_TITLE_PAT), parse(t, _TITLE_PAT)
        ),
    )
    return result.getField("s"), result.getField("e")
