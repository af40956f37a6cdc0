"""OP4 fidelity: the real-parser HTML strip vs the codegen regex path.

The regex projection is the production path (JVM-side, whole-stage
codegen); ``strip_html_fidelity`` is the parser-backed pandas_udf for
unvetted markup. On the reference's own WordPress fixture the two must
agree byte-for-byte — and on adversarial markup the parser must win.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from weightlifting_wod_etl_spark.functions.html import strip_html, strip_html_fidelity

_RAW_FIXTURE = (
    "/root/reference/test_events/"
    "_raw_december-21-27-2020-5-day-weightlifting-program.json"
)


@pytest.mark.skipif(not os.path.exists(_RAW_FIXTURE), reason="reference fixture absent")
def test_fidelity_matches_regex_on_reference_fixture(spark):
    """Reference handler.py:166-190 semantics: on the reference's real
    WordPress post both paths produce identical visible text."""
    with open(_RAW_FIXTURE) as f:
        html = json.load(f)["content"]["rendered"]
    df = spark.createDataFrame([(html,)], ["content"])
    row = df.select(
        strip_html("content").alias("regex"),
        strip_html_fidelity(F.col("content")).alias("parser"),
    ).first()
    assert row.regex == row.parser
    assert "Monday (Session One)" in row.parser


def test_fidelity_survives_adversarial_markup(spark):
    """Attribute values containing '>' and script bodies break a regex
    tag-strip; a real tokenizer must not leak them into the text."""
    html = '<p title="a>b">workout text</p><script>var hidden = 1;</script>'
    df = spark.createDataFrame([(html,)], ["content"])
    row = df.select(
        strip_html("content").alias("regex"),
        strip_html_fidelity(F.col("content")).alias("parser"),
    ).first()
    assert row.parser == "workout text"
    # the regex path demonstrably leaks on this input — the reason the
    # fidelity mode exists
    assert row.regex != "workout text"


def test_fidelity_null_passthrough(spark):
    df = spark.createDataFrame([(None,), ("<p>x</p>",)], "content string")
    vals = [r.t for r in df.select(strip_html_fidelity("content").alias("t")).collect()]
    assert vals == [None, "x"]


def test_escaped_literal_entities_decode_once_not_twice(spark):
    """Review r10: replacing '&amp;' before '&lt;'/'&gt;' double-decoded —
    an author writing '&lt;' as visible text ('&amp;lt;' in HTML) came out
    as '<'. Single-pass semantics require amp LAST; regex mode and the
    fidelity parser must agree."""
    from weightlifting_wod_etl_spark.functions.html import (
        decode_entities,
        strip_html,
    )

    df = spark.createDataFrame(
        [("<p>a &amp;lt; b &amp; c &lt; d</p>",)], ["html"]
    )
    got = df.select(strip_html("html").alias("t")).collect()[0].t
    assert got == "a &lt; b & c < d"
    got2 = df.select(decode_entities("html").alias("t")).collect()[0].t
    assert got2 == "<p>a &lt; b & c < d</p>"
