"""Reference-parity test for the end-to-end WOD pipeline.

The fixture posts are hand-written to exercise every §2.3 correctness trap:
preamble dropped, marker-opens-group, first segment collapses to 'session',
rest days ('rest day' from segment-less days), slug>title>post_date date
priority, Sunday-anchored spine, entity decode, clean/rename/fill.
Expected values are derived from the reference semantics
(transforms.py:115-343), not from running the reference.
"""

from __future__ import annotations

from tests.conftest import SF_SMOKE

import os

import pytest

POST_1_HTML = """<p>Intro preamble that is dropped</p>
<p><strong>Monday (Session One)</strong><br />
Suggested Warm-Up
3 Rounds easy</p>
<p>A.
Back Squat 5x5
building to heavy</p>
<p>B.
Bench 3x8</p>
<p><strong>Tuesday (Session Two)</strong>
A.
Deadlift 3x3</p>
<p>Thursday (Rest Day)</p>"""

POST_2_HTML = """<p>Wednesday (Session One)
A.
Snatch 7x2</p>
<p>Thursday (Session Two)
B.
Clean 5x3</p>"""

# a single day marker: the reference's pairwise grouping yields ZERO
# groups (group_source_by appends the tail range only when at least one
# marker PAIR exists — verified by executing transforms.py), so this post
# must produce no records at all
POST_3_HTML = """<p>Friday (Session One)
A.
Jerk 5x1</p>"""


POSTS = [
    # slug carries the range dec 21-27 2020 (Monday start)
    (1, POST_1_HTML, "2020-12-20T17:00:21",
     "december-21-27-2020-5-day-weightlifting-program",
     "December 21-27, 2020 &#8211; 5 Day Weightlifting Program"),
    # no date in slug/title → post_date fallback (a Wednesday)
    (2, POST_2_HTML, "2021-01-06T08:00:00", "misc-post", "Misc Post"),
    # single day marker → zero records (reference pairwise rule)
    (3, POST_3_HTML, "2021-01-06T08:00:00", "misc-post-2", "Misc 2"),
]
POST_COLS = ["post_id", "html", "post_date", "slug", "title"]


def pipeline_rows(spark) -> list[tuple]:
    """wod_pipeline over POSTS, built afresh, as sorted string tuples."""
    from weightlifting_wod_etl_spark.plans.wod_pipeline import wod_pipeline

    out = wod_pipeline(spark.createDataFrame(POSTS, POST_COLS)).collect()
    return sorted(tuple(str(v) for v in r) for r in out)


@pytest.fixture(scope="module")
def records(spark):
    from weightlifting_wod_etl_spark.plans.wod_pipeline import wod_pipeline

    rows = wod_pipeline(spark.createDataFrame(POSTS, POST_COLS)).collect()
    return {(r.post_id, str(r.date)): r for r in rows}


def test_day_count(records):
    assert len([k for k in records if k[0] == 1]) == 3
    assert len([k for k in records if k[0] == 2]) == 2


def test_single_day_post_yields_no_records(records):
    # POST_3 has one day marker: pairwise([i]) is empty in the reference,
    # so the post contributes nothing (not even a rest-day record)
    assert not [k for k in records if k[0] == 3]


def test_week_spine_from_slug(records):
    # range start = Mon 2020-12-21; Sunday anchor = 12-20; dates[1:] start at 12-21
    assert (1, "2020-12-21") in records
    assert (1, "2020-12-22") in records
    assert (1, "2020-12-23") in records  # Thursday group is day_idx 3 → 12-23


def test_post_date_fallback(records):
    # post_date 2021-01-06 is a Wednesday (isoweekday 3) → anchor 01-03;
    # single day group → date = anchor + 1 = 01-04
    assert (2, "2021-01-04") in records


def test_first_segment_collapses_to_session(records):
    r = records[(1, "2020-12-21")]
    assert r.session == "Monday (Session One)"
    # the 'session' segment keeps ONLY the marker line — no trailing content


def test_segments_join_ordered(records):
    r = records[(1, "2020-12-21")]
    assert r.warm_up == "3 Rounds easy"
    assert r.segment_a == "Back Squat 5x5 building to heavy"
    assert r.segment_b == "Bench 3x8"
    assert r.segment_c == ""  # missing expected field filled ''


def test_rest_day_lowercase_from_segmentless_day(records):
    # 'Thursday (Rest Day)' has no segment markers → session = 'rest day'
    r = records[(1, "2020-12-23")]
    assert r.session == "rest day"
    assert r.segment_a == ""


def test_second_day(records):
    r = records[(1, "2020-12-22")]
    assert r.session == "Tuesday (Session Two)"
    assert r.segment_a == "Deadlift 3x3"


def test_entity_decoded_title_did_not_break_date(records):
    # title had &#8211;; slug wins anyway (slug > title priority)
    assert (1, "2020-12-21") in records


def test_preamble_dropped(records):
    joined = " ".join(
        " ".join(filter(None, (r.session, r.warm_up, r.segment_a, r.segment_b)))
        for r in records.values()
    )
    assert "Intro preamble" not in joined


def test_explode_lines_metachar_separator(spark):
    """Review r10: F.split treats sep as a Java regex — sep='.' split at
    every character. The separator is regex-quoted now."""
    from weightlifting_wod_etl_spark.operators.sessionize import explode_lines

    df = spark.createDataFrame([(1, "one.two.three")], ["post_id", "text"])
    rows = explode_lines(df, id_cols=["post_id"], sep=".").collect()
    assert [(r.line_idx, r.line) for r in rows] == [
        (0, "one"), (1, "two"), (2, "three")
    ]


def test_date_spine_zero_days_is_empty(spark):
    """Review r10: sequence(start, start-1) auto-reverses into a
    descending 2-element array; a 0-day spine must be empty."""
    import datetime as dt

    from pyspark.sql import functions as F

    from weightlifting_wod_etl_spark.operators.dates import date_spine

    df = spark.createDataFrame([(dt.date(2024, 1, 7),)], ["d"])
    row = df.select(
        date_spine(F.col("d"), 0).alias("zero"),
        date_spine(F.col("d"), 3).alias("three"),
    ).collect()[0]
    assert row.zero == []
    assert row.three == [dt.date(2024, 1, 7 + i) for i in range(3)]


def test_load_table_restores_nanos_conf(spark):
    """Review r10: load_table left spark.sql.legacy.parquet.nanosAsLong
    set session-wide, so any LATER read of an external nanos parquet
    silently returned bigints. The conf must be scoped to the call."""
    from weightlifting_wod_etl_spark.io import load_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(key, None)
    df = load_table(spark, SF_SMOKE, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"  # normalization intact
    assert df.count() > 0
    assert spark.conf.get(key, None) == prior  # no session-wide leak


def test_extract_date_range_reference_flow(spark):
    """Pin the reference's slug/title selection semantics (verified by
    executing /root/reference/transforms.py): one text is chosen up
    front (slug if truthy, else dash-normalized title), patterns try in
    order on that text, first MATCH wins even when its dates are
    invalid, and the (start, end) pair is atomic."""
    from weightlifting_wod_etl_spark.operators.dates import extract_date_range

    cases = [
        # (slug, title, expected_start, expected_end)
        ("april-1-7-2024", "ignored", "2024-04-01", "2024-04-07"),
        # present-but-dateless slug: title is NEVER consulted behind it
        ("misc-post", "April 1-7, 2024", None, None),
        (None, "April 1-7, 2024", "2024-04-01", "2024-04-07"),
        # empty slug is falsy; title allows \s+ runs and comma-no-space
        ("", "April  1-7,2024", "2024-04-01", "2024-04-07"),
        # en-dash entity in the range position normalizes to '-'
        (None, "April 1&#8211;7, 2024", "2024-04-01", "2024-04-07"),
        # slug pattern MATCHES but Feb 30 is invalid -> atomic (None, None),
        # no fall-through to the valid title date
        ("february-1-30-2024", "April 1-7, 2024", None, None),
        (None, "NotAMonth 1-7, 2024", None, None),
        (None, None, None, None),
        # ADVICE r10: month capture is (\w+) verbatim — a digit- or
        # underscore-prefixed token MATCHES the slug pattern, fails the
        # month lookup, and yields (None, None); the title behind it is
        # never consulted (all three executed against the reference)
        ("2024april-1-7-2024", "April 1-7, 2024", None, None),
        ("x_april-1-7-2024", "April 1-7, 2024", None, None),
        # days are (\d+) verbatim: a 3-digit day MATCHES the slug pattern
        # and dies in date construction — atomic, no title fall-through
        ("april-123-7-2024", "May 1-7, 2024", None, None),
    ]
    df = spark.createDataFrame(
        [(s, t) for s, t, _, _ in cases], "slug string, title string"
    )
    s, e = extract_date_range("slug", "title")
    got = {
        (r.slug, r.title): (str(r.s) if r.s else None, str(r.e) if r.e else None)
        for r in df.select("slug", "title", s.alias("s"), e.alias("e")).collect()
    }
    for slug, title, want_s, want_e in cases:
        assert got[(slug, title)] == (want_s, want_e), (slug, title)


def test_clean_records_non_iso_dates(spark):
    """The reference's clean step parses dates with dateutil — common
    non-ISO shapes must canonicalize, not silently blank out."""
    from weightlifting_wod_etl_spark.operators.clean import clean_records

    df = spark.createDataFrame(
        [
            (1, "2020-12-21", "x"),
            (2, "12/21/2020", "x"),
            (3, "December 21, 2020", "x"),
            (4, "2020-12-21T08:00:00", "x"),
            (5, "not a date", "x"),
        ],
        ["id", "date", "session"],
    )
    got = {r.id: r.date for r in clean_records(df).collect()}
    assert got[1] == got[2] == got[3] == got[4] == "2020-12-21"
    assert got[5] == ""  # documented degradation: unparseable -> ''


def _clear_pipeline_memos() -> None:
    from weightlifting_wod_etl_spark.functions import html
    from weightlifting_wod_etl_spark.operators import clean, dates
    from weightlifting_wod_etl_spark.plans import wod_pipeline as wp

    for fn in (dates.extract_date_range, wp._week_start, html.strip_html,
               html.decode_entities, clean._canonical_date):
        fn.cache_clear()


def test_pipeline_builds_date_range_parser_once(spark, monkeypatch):
    """The pipeline's data-independent expressions are built once per
    process: a second build of wod_pipeline builds no date-range parser
    (its month lookups are not called again) and gives the same rows."""
    from weightlifting_wod_etl_spark.operators import dates

    calls = []
    real = dates.month_number
    monkeypatch.setattr(dates, "month_number", lambda c: calls.append(c) or real(c))
    _clear_pipeline_memos()
    first = pipeline_rows(spark)
    assert calls  # the first build parsed slug and title
    n = len(calls)
    assert pipeline_rows(spark) == first
    assert len(calls) == n
    assert dates.extract_date_range.cache_info().misses == 1


def test_pipeline_memo_under_concurrent_builds(spark):
    """More threads than the session has cores building the pipeline at
    once on empty memos (as concurrent ingest streams do), with a short
    switch interval to interleave the first builds, all get the serial
    build's rows."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    serial = pipeline_rows(spark)
    n = spark.sparkContext.defaultParallelism + 2
    _clear_pipeline_memos()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(n) as pool:
            futures = [pool.submit(pipeline_rows, spark) for _ in range(n)]
            got = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert got == [serial] * n


def test_pipeline_memo_survives_session_restart(spark, tmp_path):
    """The memoized expressions hold no session: in a fresh process,
    building the pipeline, stopping the session, starting a new one with
    ``get_spark`` and building again gives the same rows as this session,
    and the date-range parser is built once."""
    import subprocess
    import sys

    from tests.conftest import REPO_DIR

    script = f"""
import sys
sys.path.insert(0, {REPO_DIR!r})
from tests.test_wod_pipeline import pipeline_rows
from weightlifting_wod_etl_spark.operators.dates import extract_date_range
from weightlifting_wod_etl_spark.session import get_spark

rows = []
for _ in range(2):
    spark = get_spark(app_name="memo-restart", cpus=2, shuffle_partitions=4)
    rows.append(pipeline_rows(spark))
    spark.stop()
assert rows[0] == rows[1], rows
assert extract_date_range.cache_info().misses == 1
print(repr(rows[0]))
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, capture_output=True,
        text=True, timeout=300, env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == repr(pipeline_rows(spark))
