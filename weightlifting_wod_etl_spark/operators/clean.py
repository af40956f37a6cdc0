"""Record clean/normalize — OP16 of the reference.

Reference: ``clean_sessions_df_records`` (``transforms.py:289-343``):
rename via map, drop raw keys, canonical ``yyyy-MM-dd`` date strings,
``session`` NULL → ``'Rest Day'``, guarantee expected columns exist, all
remaining NULLs → ``''``, unknown columns pass through untouched.

Everything is a narrow projection — no shuffle, fully codegen'd, trivially
scales: the plan is a single ``Project`` node over the scan.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# reference mapping at transforms.py:291-298
DEFAULT_RENAME = {
    "Suggested Warm-Up": "warm_up",
    "A.": "segment_a",
    "B.": "segment_b",
    "C.": "segment_c",
    "D.": "segment_d",
    "E.": "segment_e",
}
EXPECTED_FIELDS = ["warm_up", "segment_a", "segment_b", "segment_c", "segment_d", "segment_e"]
DROP_COLS = ("s", "r")  # raw single-letter keys, dropped after the rename (§2.3-5)
DATE_COL = "date"
SESSION_COL = "session"
REST_DAY = "Rest Day"


@functools.cache
def _canonical_date() -> Column:
    """``yyyy-MM-dd`` string of the date column; built once per process
    (the expression does not depend on the data)."""
    # the reference parses with dateutil (transforms.py:323) — accept
    # the common non-ISO shapes it handles, not just ISO. try_to_*
    # never throws (ANSI-safe); a shape outside the list degrades to
    # NULL -> '' (the reference would instead raise per-record, which
    # a distributed job can't do row-by-row)
    c = F.col(DATE_COL).cast("string")
    parsed = F.coalesce(
        *[
            F.try_to_timestamp(c, F.lit(fmt))
            for fmt in (
                "yyyy-MM-dd",
                "yyyy-MM-dd'T'HH:mm:ss",
                # the space-separated shape: dateutil parses it, and a
                # TimestampType date column casts to exactly this
                # string form (review r11 — without it such values
                # silently degraded to '')
                "yyyy-MM-dd HH:mm:ss",
                "M/d/yyyy",
                "MMMM d, yyyy",
                "MMM d, yyyy",
            )
        ]
    ).cast("date")
    return F.date_format(parsed, "yyyy-MM-dd")


def clean_records(df: DataFrame, rename_map: dict[str, str] | None = None) -> DataFrame:
    rename_map = DEFAULT_RENAME if rename_map is None else rename_map

    applicable = {k: v for k, v in rename_map.items() if k in df.columns}
    clash = [v for k, v in applicable.items() if v in df.columns and v != k]
    if clash:
        # withColumnsRenamed would mint DUPLICATE column names and every
        # later reference dies with an opaque AMBIGUOUS_REFERENCE at
        # analysis time (review r11) — fail with the actual precondition
        raise ValueError(
            f"clean_records: rename targets {clash} already exist in the "
            "input alongside their raw keys — drop or rename one first"
        )
    out = df.withColumnsRenamed(applicable)
    out = out.drop(*[c for c in DROP_COLS if c in out.columns])
    if DATE_COL in out.columns:
        out = out.withColumn(DATE_COL, _canonical_date())
    if SESSION_COL in out.columns:
        out = out.withColumn(SESSION_COL, F.coalesce(F.col(SESSION_COL), F.lit(REST_DAY)))
    for field in EXPECTED_FIELDS:
        if field not in out.columns:
            out = out.withColumn(field, F.lit(""))
    str_cols = [c for c, t in out.dtypes if t == "string"]
    return out.fillna("", subset=str_cols)
