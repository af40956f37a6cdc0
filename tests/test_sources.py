"""wod_posts DataSource: page-per-partition scan with source-side paging."""

from __future__ import annotations

import json

import pytest


@pytest.fixture(scope="module")
def pages_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pages")
    post_id = 0
    for page in (1, 2, 3):
        posts = []
        for _ in range(4):
            post_id += 1
            posts.append(
                {
                    "id": post_id,
                    "date": f"2021-01-{post_id:02d}T08:00:00",
                    "slug": f"jan-{post_id}-program",
                    "title": {"rendered": f"Program {post_id}"},
                    "content": {"rendered": f"<p>Workout {post_id}</p>"},
                    "link": f"https://example.test/{post_id}",
                    "categories": [7, post_id],
                    "yoast_head": "<meta>never parsed</meta>",
                }
            )
        (d / f"page-{page}.json").write_text(json.dumps(posts))
    return str(d)


@pytest.fixture(scope="module")
def posts_reader(spark):
    from weightlifting_wod_etl_spark.sources import register_posts_source

    register_posts_source(spark)
    return spark


def test_full_scan(posts_reader, pages_dir):
    df = posts_reader.read.format("wod_posts").option("pages_dir", pages_dir).load()
    rows = df.orderBy("post_id").collect()
    assert len(rows) == 12
    assert rows[0].title == "Program 1"  # title.rendered flattened
    assert rows[0].content == "<p>Workout 1</p>"
    assert rows[0].categories == [7, 1]
    # one partition per page — pagination is the parallelism
    assert df.rdd.getNumPartitions() == 3


def test_page_window_pushdown(posts_reader, pages_dir):
    # start_page/max_pages prune pages at plan time: page 1 is never read
    df = (
        posts_reader.read.format("wod_posts")
        .option("pages_dir", pages_dir)
        .option("start_page", 2)
        .option("max_pages", 1)
        .load()
    )
    rows = df.collect()
    assert sorted(r.post_id for r in rows) == [5, 6, 7, 8]
    assert df.rdd.getNumPartitions() == 1


def test_per_page_limit(posts_reader, pages_dir):
    df = (
        posts_reader.read.format("wod_posts")
        .option("pages_dir", pages_dir)
        .option("per_page", 2)
        .load()
    )
    assert df.count() == 6  # 2 per page × 3 pages


def test_feeds_pipeline(posts_reader, pages_dir):
    """Source output plugs straight into the OP4 HTML-strip projection."""
    from weightlifting_wod_etl_spark.functions.html import strip_html

    df = posts_reader.read.format("wod_posts").option("pages_dir", pages_dir).load()
    out = df.select("slug", strip_html("content").alias("text")).orderBy("slug")
    first = out.first()
    assert first.text.startswith("Workout")


class TestJsonDLQ:
    """PERMISSIVE corrupt-record split — the DLQ analog (SURVEY §4)."""

    @pytest.fixture(scope="class")
    def jsonl_dir(self, tmp_path_factory):
        d = tmp_path_factory.mktemp("dlq")
        lines = [
            '{"doc_id": 1, "text": "alpha"}',
            '{"doc_id": 2, "text": "beta"}',
            'this is not json at all',
            '{"doc_id": "not-a-number", "text": "gamma"}',
            '{"doc_id": 5, "text": "delta"}',
        ]
        (d / "data.jsonl").write_text("\n".join(lines) + "\n")
        return str(d)

    def test_good_and_quarantine_split(self, spark, jsonl_dir):
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        from weightlifting_wod_etl_spark.sources.json_dlq import read_jsonl_with_dlq

        schema = StructType(
            [StructField("doc_id", LongType()), StructField("text", StringType())]
        )
        good, quarantine = read_jsonl_with_dlq(spark, jsonl_dir, schema)
        good_rows = {r.doc_id for r in good.collect()}
        assert good_rows == {1, 2, 5}
        assert good.columns == ["doc_id", "text"]
        bad = [r.raw_record for r in quarantine.collect()]
        assert len(bad) == 2
        assert any("not json" in b for b in bad)
        assert any("not-a-number" in b for b in bad)  # replayable raw line

    def test_bad_records_path_single_pass(self, spark, jsonl_dir, tmp_path):
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        from weightlifting_wod_etl_spark.sources.json_dlq import (
            read_jsonl_with_bad_records_path,
        )

        schema = StructType(
            [StructField("doc_id", LongType()), StructField("text", StringType())]
        )
        dlq = str(tmp_path / "dlq")
        df = read_jsonl_with_bad_records_path(spark, jsonl_dir, schema, dlq)
        rows = df.filter("doc_id IS NOT NULL").collect()
        assert {r.doc_id for r in rows} == {1, 2, 5}


class TestCredentialsResolution:
    """OP24: option > secrets_file > env > anonymous, fail-open at
    every step (reference handler.py:23-85)."""

    def test_explicit_options_win(self, tmp_path):
        from weightlifting_wod_etl_spark.sources.credentials import resolve_credentials

        sf = tmp_path / "s.json"
        sf.write_text('{"username": "from_secret", "password": "sp"}')
        got = resolve_credentials(
            {"username": "explicit", "password": "ep", "secrets_file": str(sf)},
            env={"WOD_API_USERNAME": "envu", "WOD_API_PASSWORD": "envp"},
        )
        assert got == ("explicit", "ep")

    def test_secrets_file_beats_env(self, tmp_path):
        from weightlifting_wod_etl_spark.sources.credentials import resolve_credentials

        sf = tmp_path / "s.json"
        sf.write_text('{"username": "from_secret", "password": "sp"}')
        got = resolve_credentials(
            {"secrets_file": str(sf)},
            env={"WOD_API_USERNAME": "envu", "WOD_API_PASSWORD": "envp"},
        )
        assert got == ("from_secret", "sp")

    def test_corrupt_secrets_falls_through_to_env(self, tmp_path):
        from weightlifting_wod_etl_spark.sources.credentials import resolve_credentials

        sf = tmp_path / "s.json"
        sf.write_text("{not json")
        got = resolve_credentials(
            {"secrets_file": str(sf)},
            env={"WOD_API_USERNAME": "envu", "WOD_API_PASSWORD": "envp"},
        )
        assert got == ("envu", "envp")

    def test_fail_open_anonymous(self, tmp_path):
        from weightlifting_wod_etl_spark.sources.credentials import (
            basic_auth_header,
            resolve_credentials,
        )

        got = resolve_credentials(
            {"secrets_file": str(tmp_path / "missing.json")}, env={}
        )
        assert got == (None, None)
        assert basic_auth_header(*got) == {}

    def test_auth_header_shape(self):
        from weightlifting_wod_etl_spark.sources.credentials import basic_auth_header

        h = basic_auth_header("u", "p")
        assert h == {"Authorization": "Basic dTpw"}

    def test_reader_resolves_credentials(self, spark, tmp_path):
        """The wod_posts reader carries resolved credentials without
        breaking the pages_dir transport."""
        import json as _json

        from weightlifting_wod_etl_spark.sources.rest_posts import _PostsReader

        d = tmp_path / "pages"
        d.mkdir()
        (d / "page-1.json").write_text(_json.dumps([{"id": 1, "slug": "s"}]))
        r = _PostsReader(
            {"pages_dir": str(d), "username": "u", "password": "p"}
        )
        assert r.credentials == ("u", "p")
        assert len(list(r.read(r.partitions()[0]))) == 1


class TestStreamingPosts:
    """wod_posts as a micro-batch stream: page-cursor offsets, restart
    resume, and contiguity (a gap pauses the cursor instead of skipping)."""

    def _write_page(self, d, page, n=2):
        posts = [
            {
                "id": page * 100 + i,
                "date": f"2021-02-{page:02d}T08:00:00",
                "slug": f"s-{page}-{i}",
                "title": f"T {page}-{i}",
                "content": f"<p>{page}-{i}</p>",
                "link": f"https://example.test/{page}/{i}",
                "categories": [1],
            }
            for i in range(n)
        ]
        import json as _json
        import os as _os

        with open(_os.path.join(d, f"page-{page}.json"), "w") as f:
            f.write(_json.dumps(posts))

    def _drain(self, spark, d, ckpt, out):
        # file sink (memory sink cannot recover from a checkpoint)
        q = (
            spark.readStream.format("wod_posts")
            .option("pages_dir", d)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(120)
        assert finished, "wod_posts stream still running after 120s"
        assert q.exception() is None, q.exception()
        return spark.read.parquet(out)

    def test_offset_resume_and_contiguous_cursor(self, posts_reader, tmp_path):
        spark = posts_reader
        d, ckpt = str(tmp_path / "pages"), str(tmp_path / "ckpt")
        out = str(tmp_path / "out")
        import os as _os

        _os.makedirs(d)
        self._write_page(d, 1)
        self._write_page(d, 2)
        # page 4 lands BEFORE page 3: the cursor must stop at the gap
        self._write_page(d, 4)
        got = self._drain(spark, d, ckpt, out)
        assert {r.page for r in got.select("page").collect()} == {1, 2}
        # the gap fills: a restarted stream resumes from the offset log
        # and picks up pages 3 and 4 exactly once (total rows 4 pages x 2)
        self._write_page(d, 3)
        got = self._drain(spark, d, ckpt, out)
        assert sorted(r.page for r in got.select("page").collect()) == [
            1, 1, 2, 2, 3, 3, 4, 4,
        ]

    def test_stream_rows_match_batch_rows(self, posts_reader, pages_dir, tmp_path):
        spark = posts_reader
        ckpt, out = str(tmp_path / "ckpt2"), str(tmp_path / "out2")
        streamed = self._drain(spark, pages_dir, ckpt, out)
        got = [
            (r.post_id, r.slug, r.page)
            for r in streamed.select("post_id", "slug", "page")
            .orderBy("post_id")
            .collect()
        ]
        want = [
            (r.post_id, r.slug, r.page)
            for r in spark.read.format("wod_posts")
            .option("pages_dir", pages_dir)
            .load()
            .select("post_id", "slug", "page")
            .orderBy("post_id")
            .collect()
        ]
        assert got == want


class TestFilterPushdown:
    """Spark 4.1 Python DataSource pushFilters: page predicates prune the
    planned page window at the source — filtered pages are never fetched."""

    def _reader(self, pages_dir):
        from weightlifting_wod_etl_spark.sources.rest_posts import _PostsReader

        return _PostsReader({"pages_dir": pages_dir})

    def test_reader_consumes_page_filters(self, pages_dir):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThanOrEqual,
            In,
            LessThan,
            StringContains,
        )

        r = self._reader(pages_dir)
        leftover = list(
            r.pushFilters(
                [
                    GreaterThanOrEqual(("page",), 2),
                    LessThan(("page",), 4),
                    StringContains(("slug",), "jan"),  # not ours → yielded back
                ]
            )
        )
        assert [type(f).__name__ for f in leftover] == ["StringContains"]
        assert [p.page for p in r.partitions()] == [2, 3]

        r2 = self._reader(pages_dir)
        assert list(r2.pushFilters([In(("page",), (1, 3, 9))])) == []
        assert [p.page for p in r2.partitions()] == [1, 3]

        r3 = self._reader(pages_dir)
        assert list(r3.pushFilters([EqualTo(("page",), 2)])) == []
        assert [p.page for p in r3.partitions()] == [2]

        # contradictory bounds plan zero partitions (nothing fetched)
        r4 = self._reader(pages_dir)
        list(r4.pushFilters([EqualTo(("page",), 2), GreaterThanOrEqual(("page",), 5)]))
        assert r4.partitions() == []

    def test_e2e_filter_prunes_and_matches(self, posts_reader, pages_dir):
        spark = posts_reader
        assert spark.conf.get("spark.sql.python.filterPushdown.enabled") == "true"
        df = (
            spark.read.format("wod_posts")
            .option("pages_dir", pages_dir)
            .load()
            .filter("page >= 2")
        )
        got = sorted(r.page for r in df.select("page").collect())
        assert set(got) == {2, 3} and len(got) == 8
        # equality + non-page filter: page consumed at source, slug post-scan
        df2 = (
            spark.read.format("wod_posts")
            .option("pages_dir", pages_dir)
            .load()
            .filter("page = 1 AND slug LIKE 'jan-%'")
        )
        assert {r.page for r in df2.collect()} == {1}


def test_json_corrupt_records_are_quarantined_not_fatal(spark, tmp_path):
    """Ingestion robustness: at 100 TB a malformed record must be
    quarantined into the corrupt-record column (PERMISSIVE), droppable
    (DROPMALFORMED), or loud (FAILFAST) — never silently coerced."""
    import pytest

    p = str(tmp_path / "feed.jsonl")
    with open(p, "w") as f:
        f.write('{"id": 1, "name": "ok"}\n')
        f.write('{"id": 2, "name": "also ok"}\n')
        f.write('{"id": broken!!\n')

    schema = "id long, name string, _corrupt_record string"
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(p)
    )
    rows = df.collect()
    good = {r.id: r.name for r in rows if r._corrupt_record is None}
    bad = [r._corrupt_record for r in rows if r._corrupt_record is not None]
    assert good == {1: "ok", 2: "also ok"}
    assert len(bad) == 1 and "broken" in bad[0]

    dropped = (
        spark.read.schema("id long, name string")
        .option("mode", "DROPMALFORMED")
        .json(p)
    )
    assert {r.id for r in dropped.collect()} == {1, 2}

    with pytest.raises(Exception, match="[Mm]alformed|FAILFAST"):
        spark.read.schema("id long, name string").option(
            "mode", "FAILFAST"
        ).json(p).collect()


def test_discover_pages_ignores_non_numeric_page_files(spark, tmp_path):
    """Review r10: a stray 'page-draft.json' in pages_dir aborted partition
    planning with ValueError; non-numeric page names must be ignored."""
    import json
    import os

    d = str(tmp_path / "pages")
    os.makedirs(d)
    with open(os.path.join(d, "page-1.json"), "w") as f:
        json.dump([{"id": 1, "date": "2024-01-01", "slug": "s",
                    "title": "t", "content": "c", "link": "l",
                    "categories": [2]}], f)
    for junk in ("page-draft.json", "page-.json", "page-2 (copy).json"):
        with open(os.path.join(d, junk), "w") as f:
            f.write("[]")
    df = (
        spark.read.format("wod_posts")
        .option("pages_dir", d)
        .option("per_page", "10")
        .load()
    )
    assert df.count() == 1


def test_read_tolerates_explicit_json_nulls(spark, tmp_path):
    """Review r10: {'categories': null} and {'id': null} killed the whole
    page's task (iterating/int-ing None); malformed posts must not fail
    the scan."""
    import json
    import os

    d = str(tmp_path / "pages")
    os.makedirs(d)
    with open(os.path.join(d, "page-1.json"), "w") as f:
        json.dump(
            [
                {"id": 7, "date": "2024-01-01", "slug": "ok", "title": "t",
                 "content": "c", "link": "l", "categories": None},
                {"id": None, "date": "2024-01-02", "slug": "nullid",
                 "title": "t2", "content": "c2", "link": "l2",
                 "categories": [1, None, 3]},
            ],
            f,
        )
    rows = (
        spark.read.format("wod_posts")
        .option("pages_dir", d)
        .option("per_page", "10")
        .load()
        .collect()
    )
    by_slug = {r.slug: r for r in rows}
    assert by_slug["ok"].categories == []
    assert by_slug["nullid"].post_id == 0
    assert by_slug["nullid"].categories == [1, 3]


def test_stream_restart_after_retention_deletion_not_wedged(tmp_path):
    """Review r10: after a restart, the contiguity walk restarted from
    start_page; with consumed page files deleted by retention it could
    never advance past the hole — the stream wedged forever. The committed
    cursor hint persisted at commit time seeds the walk past the hole."""
    import json
    import os

    from weightlifting_wod_etl_spark.sources.rest_posts import (
        _PostsStreamReader,
    )

    d = str(tmp_path / "pages")
    os.makedirs(d)
    for p in range(1, 6):
        with open(os.path.join(d, f"page-{p}.json"), "w") as f:
            json.dump([{"id": p}], f)

    r1 = _PostsStreamReader({"pages_dir": d})
    end = r1.latestOffset()
    assert end == {"next_page": 6}
    r1.commit(end)  # batch committed: hint persisted

    # retention deletes the consumed pages, a new page lands, we restart
    for p in range(1, 5):
        os.remove(os.path.join(d, f"page-{p}.json"))
    with open(os.path.join(d, "page-6.json"), "w") as f:
        json.dump([{"id": 6}], f)

    r2 = _PostsStreamReader({"pages_dir": d})  # fresh reader = restart
    assert r2.latestOffset() == {"next_page": 7}  # not wedged at 1
    parts = r2.partitions({"next_page": 6}, {"next_page": 7})
    assert [p.page for p in parts] == [6]


def test_pages_dir_default_does_not_truncate_large_pages(spark, tmp_path):
    """Review r11: the default per_page (10, the ENDPOINT server page
    size) silently sliced local page files — a fixture page with 12 posts
    lost rows 11-12 with no error. Local files are the page; only an
    EXPLICIT per_page option caps them."""
    import json
    import os

    d = str(tmp_path / "bigpages")
    os.makedirs(d)
    posts = [
        {"id": i, "date": "2024-01-01", "slug": f"s{i}", "title": "t",
         "content": "c", "link": "l", "categories": [i]}
        for i in range(1, 13)
    ]
    with open(os.path.join(d, "page-1.json"), "w") as f:
        json.dump(posts, f)

    df = spark.read.format("wod_posts").option("pages_dir", d).load()
    assert df.count() == 12  # default: whole file
    capped = (
        spark.read.format("wod_posts")
        .option("pages_dir", d)
        .option("per_page", 5)
        .load()
    )
    assert capped.count() == 5  # explicit option still a user cap


def test_read_tolerates_malformed_post_shapes(spark, tmp_path):
    """Review r11: a non-numeric id ('abc'), scalar/string categories, or
    a list-typed title killed the whole page's task (ValueError/TypeError
    /Arrow mismatch) despite the poison-tolerance comment. Malformed
    fields normalize to NULL/empty/0 instead."""
    import json
    import os

    d = str(tmp_path / "poison")
    os.makedirs(d)
    with open(os.path.join(d, "page-1.json"), "w") as f:
        json.dump(
            [
                {"id": "abc", "date": "2024-01-01", "slug": "badid",
                 "title": "t", "content": "c", "link": "l",
                 "categories": [1]},
                {"id": 2, "date": "2024-01-02", "slug": "badcats",
                 "title": "t", "content": "c", "link": "l",
                 "categories": 7},
                {"id": "3", "date": 20240103, "slug": "listtitle",
                 "title": ["x"], "content": {"rendered": ["y"]},
                 "link": "l", "categories": ["4", "x", 5]},
            ],
            f,
        )
    rows = spark.read.format("wod_posts").option("pages_dir", d).load().collect()
    by_slug = {r.slug: r for r in rows}
    assert len(rows) == 3  # nothing killed the task
    assert by_slug["badid"].post_id == 0  # unparseable id -> 0 (null id rule)
    assert by_slug["badcats"].categories == []  # scalar -> empty
    r3 = by_slug["listtitle"]
    assert r3.post_id == 3  # numeric string still parses
    assert r3.title is None and r3.content is None and r3.date is None
    assert r3.categories == [4, 5]  # int-able elements kept


def test_stream_cursor_dir_option_survives_readonly_pages_dir(tmp_path, caplog):
    """Review r11: with a read-only pages_dir the cursor hint write was
    silently swallowed, reintroducing the restart-after-retention wedge
    the hint exists to prevent. 'cursor_dir' points the hint at a
    writable location; a failed hint write warns loudly once."""
    import json
    import os

    from weightlifting_wod_etl_spark.sources.rest_posts import (
        _PostsStreamReader,
    )

    d = str(tmp_path / "ro_pages")
    cur = str(tmp_path / "cursor")
    os.makedirs(d)
    os.makedirs(cur)
    for p in range(1, 4):
        with open(os.path.join(d, f"page-{p}.json"), "w") as f:
            json.dump([{"id": p}], f)

    r1 = _PostsStreamReader({"pages_dir": d, "cursor_dir": cur})
    end = r1.latestOffset()
    assert end == {"next_page": 4}
    r1.commit(end)  # hint lands in cursor_dir, not in pages_dir
    assert os.path.exists(os.path.join(cur, ".cursor"))
    assert not os.path.exists(os.path.join(d, ".cursor"))

    # restart after retention deletes the consumed pages: the cursor_dir
    # hint seeds the walk past the hole
    for p in range(1, 4):
        os.remove(os.path.join(d, f"page-{p}.json"))
    r2 = _PostsStreamReader({"pages_dir": d, "cursor_dir": cur})
    assert r2.latestOffset() == {"next_page": 4}  # not wedged at 1

    # unwritable cursor location (the read-only-dir case; the test runs
    # as root, so use a nonexistent dir): loud ONE-TIME warning, no crash
    r3 = _PostsStreamReader(
        {"pages_dir": d, "cursor_dir": str(tmp_path / "missing" / "deep")}
    )
    caplog.clear()
    r3.commit({"next_page": 4})
    r3.commit({"next_page": 4})
    assert caplog.text.count("cursor hint write failed") == 1


def test_read_tolerates_poison_pages_and_elements(spark, tmp_path, capsys):
    """Review r13: a page whose body is a JSON object (WordPress error
    shape), an unparseable/truncated page file, or a non-dict array
    element killed the task deterministically — 4 retries, scan abort —
    despite the poison-tolerance contract. All three now skip with a
    logged warning, and well-formed pages still scan."""
    import json
    import os

    d = str(tmp_path / "poisonpages")
    os.makedirs(d)
    with open(os.path.join(d, "page-1.json"), "w") as f:
        json.dump([{"id": 1, "slug": "ok", "categories": []}], f)
    with open(os.path.join(d, "page-2.json"), "w") as f:
        json.dump({"code": "rest_post_invalid_page_number"}, f)  # error body
    with open(os.path.join(d, "page-3.json"), "w") as f:
        f.write('[{"id": 3, "slug": "trunc')  # truncated mid-object
    with open(os.path.join(d, "page-4.json"), "w") as f:
        json.dump(["oops", 42, {"id": 4, "slug": "ok4"}, [1, 2]], f)

    rows = spark.read.format("wod_posts").option("pages_dir", d).load().collect()
    assert sorted((r.post_id, r.slug) for r in rows) == [(1, "ok"), (4, "ok4")]


def test_as_int_rejects_out_of_range_and_bool(spark, tmp_path):
    """Review r13: an id beyond LongType or a category beyond IntegerType
    passed int() unchanged and then killed the task in the worker's
    Arrow conversion — the exact failure the normalization exists to
    stop. Out-of-range values take the default; bools are malformed."""
    import json
    import os

    d = str(tmp_path / "hugeints")
    os.makedirs(d)
    with open(os.path.join(d, "page-1.json"), "w") as f:
        json.dump(
            [
                {"id": 99999999999999999999, "slug": "hugeid",
                 "categories": [1]},
                {"id": 7, "slug": "hugecat",
                 "categories": [3000000000, 5, True]},
            ],
            f,
        )
    rows = spark.read.format("wod_posts").option("pages_dir", d).load().collect()
    by_slug = {r.slug: r for r in rows}
    assert by_slug["hugeid"].post_id == 0  # > 2^63-1 -> default 0
    assert by_slug["hugecat"].categories == [5]  # int32 overflow + bool dropped


def test_endpoint_url_separator_adapts(monkeypatch, tmp_path):
    """Review r13: the endpoint URL was built with '&' unconditionally —
    a bare endpoint (no existing query string) spliced the paging params
    into the path. The separator is now '?' when the endpoint has no
    query string, '&' when it does."""
    import io
    import json
    import urllib.request

    from weightlifting_wod_etl_spark.sources.rest_posts import _PostsReader

    seen = []

    def fake_urlopen(req, timeout=None):
        seen.append(req.full_url)
        body = io.BytesIO(json.dumps([]).encode())
        body.__enter__ = lambda *a: body
        body.__exit__ = lambda *a: False
        return body

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    bare = _PostsReader({"endpoint": "https://x.test/wp-json/wp/v2/posts",
                         "max_pages": 1})
    bare._fetch_page(2)
    assert seen[-1] == "https://x.test/wp-json/wp/v2/posts?per_page=10&page=2"
    q = _PostsReader({"endpoint": "https://x.test/posts?type=wod",
                      "max_pages": 1})
    q._fetch_page(3)
    assert seen[-1] == "https://x.test/posts?type=wod&per_page=10&page=3"


def test_pages_dir_reader_does_not_resolve_credentials(tmp_path, monkeypatch):
    """Review r13: every reader eagerly resolved credentials and pickled
    the plaintext tuple to all executors, even on the pages_dir transport
    that never authenticates. Resolution is now lazy for pages_dir (the
    endpoint transport still resolves on the driver at construction)."""
    import json
    import os

    from weightlifting_wod_etl_spark.sources.rest_posts import _PostsReader

    d = str(tmp_path / "pages")
    os.makedirs(d)
    with open(os.path.join(d, "page-1.json"), "w") as f:
        json.dump([{"id": 1}], f)
    monkeypatch.setenv("WOD_API_USERNAME", "envu")
    monkeypatch.setenv("WOD_API_PASSWORD", "envp")
    r = _PostsReader({"pages_dir": d})
    assert r._credentials is None  # nothing resolved, nothing to pickle
    assert r.credentials == ("envu", "envp")  # explicit access still works
    e = _PostsReader({"endpoint": "https://x.test/p?a=1", "max_pages": 1})
    assert e._credentials == ("envu", "envp")  # endpoint: eager, driver-side


def test_stream_replay_after_crash_before_hint_not_wedged(tmp_path):
    """Review r13: crash AFTER Spark's offset log recorded batch N but
    BEFORE commit() persisted the hint, then retention deletes batch N's
    pages. On restart the walk seeded from the stale hint (below the
    committed end) and latestOffset waited forever for a deleted file —
    no batch after the replay was ever planned. partitions() now advances
    the walk cursor to the batch END Spark already holds."""
    import json
    import os

    from weightlifting_wod_etl_spark.sources.rest_posts import (
        _PostsStreamReader,
    )

    d = str(tmp_path / "pages")
    os.makedirs(d)
    for p in range(1, 4):
        with open(os.path.join(d, f"page-{p}.json"), "w") as f:
            json.dump([{"id": p}], f)

    # restart WITHOUT a prior commit(): hint absent, cursor seeds at 1
    r = _PostsStreamReader({"pages_dir": d})
    # Spark replays the offset-logged batch [1, 4)
    parts = r.partitions({"next_page": 1}, {"next_page": 4})
    assert [p.page for p in parts] == [1, 2, 3]
    # retention deletes the replayed pages; new pages land
    for p in range(1, 4):
        os.remove(os.path.join(d, f"page-{p}.json"))
    for p in (4, 5):
        with open(os.path.join(d, f"page-{p}.json"), "w") as f:
            json.dump([{"id": p}], f)
    assert r.latestOffset() == {"next_page": 6}  # not wedged at 1
