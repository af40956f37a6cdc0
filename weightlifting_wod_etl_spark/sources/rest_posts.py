"""Paginated posts source — the reference's REST scan (OP1) as a real
Spark DataSource.

Reference behavior (`services/invictus_api_service.py:35-65`): fetch
WordPress posts with ``per_page``/``page`` query params — i.e., limit and
offset are pushed *into the source*, one HTTP GET per page. The Step
Functions ``Map`` state then fans posts out for parallel processing
(`SemiStructureInvictusPost_stateMachine.yml:15-19`, OP19).

Spark-native form: a Python DataSource (Spark 4 ``pyspark.sql.datasource``)
whose reader plans **one InputPartition per page**. That makes pagination
the partitioning — each executor fetches and parses its own pages
concurrently, so OP1 (paginated scan) and OP19 (fan-out) collapse into a
single distributed scan. ``start_page``/``max_pages``/``per_page`` options
are the limit+offset pushdown: pages outside the window are never planned,
so no bytes are fetched for them (source-side pruning, not a post-filter).

Transports:
  - ``pages_dir`` (real, tested): a directory of ``page-<n>.json`` files,
    each a JSON array of post objects — the stage-boundary fixture format
    of the reference (`test_events/get_invictus_post.json`). This is the
    deterministic harness transport.
  - ``endpoint`` (plumbing only): an HTTP(S) URL hit as
    ``{endpoint}&per_page={n}&page={p}`` exactly like the reference URL
    build (`services/invictus_api_service.py:54`). Gated behind a lazy
    urllib import; this container has no network, so it exists to show the
    connector shape, and tests use ``pages_dir``.

At 100 TB-scale the same shape holds: a page is the unit of parallelism and
retry (Spark task retries replace the reference's Step Functions retry
policy), and the scan surface is bounded by the planned page window.
"""

from __future__ import annotations

import json
import logging
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

log = logging.getLogger(__name__)

# Typed projection of the raw WP post (D1) — the fields the pipeline reads
# (`handler.py:166-190`): everything else (yoast_head, _links, ...) is
# column-pruned at the source, never parsed into rows.
POST_SCHEMA = StructType(
    [
        StructField("post_id", LongType()),
        StructField("date", StringType()),
        StructField("slug", StringType()),
        StructField("title", StringType()),
        StructField("content", StringType()),
        StructField("link", StringType()),
        StructField("categories", ArrayType(IntegerType())),
        StructField("page", IntegerType()),
    ]
)


class _PagePartition(InputPartition):
    def __init__(self, page: int):
        self.page = page


class _PostsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.pages_dir = options.get("pages_dir")
        self.endpoint = options.get("endpoint")
        if not self.pages_dir and not self.endpoint:
            raise ValueError("wod_posts source requires 'pages_dir' or 'endpoint'")
        self.per_page = int(options.get("per_page", 10))
        # pages_dir honors per_page only when the USER set it: the default
        # is the endpoint transport's server page size, and applying it to
        # local page files silently dropped rows from pages larger than 10
        self._per_page_explicit = "per_page" in options
        self.start_page = int(options.get("start_page", 1))
        self.max_pages = int(options.get("max_pages", 0))  # 0 = discover
        # OP24: option > secrets_file > env > anonymous (fail-open).
        # Resolved EAGERLY only for the endpoint transport — resolution
        # reads the driver's secrets file / env, and the result must ride
        # the pickled reader to executors where _fetch_page builds the
        # auth header. The pages_dir transport never authenticates, so
        # resolving (and serializing plaintext secrets into every task
        # closure) for it is pure liability; those readers resolve only
        # if .credentials is explicitly accessed (review r13).
        self._cred_options = {
            k: options[k]
            for k in ("username", "password", "secrets_file")
            if k in options
        }
        self._credentials: tuple[str | None, str | None] | None = None
        if self.endpoint:
            self._credentials = self._resolve_credentials()

        # pushFilters-derived page window (None = unbounded on that side)
        self._page_lo: int | None = None
        self._page_hi: int | None = None
        self._page_in: set[int] | None = None

    def _resolve_credentials(self) -> tuple[str | None, str | None]:
        from .credentials import resolve_credentials

        return resolve_credentials(self._cred_options)

    @property
    def credentials(self) -> tuple[str | None, str | None]:
        if self._credentials is None:
            self._credentials = self._resolve_credentials()
        return self._credentials

    def pushFilters(self, filters):
        """Source-side pushdown of predicates on the ``page`` column
        (Spark 4.1 Python DataSource filter pushdown): comparison and IN
        filters tighten the planned page window, so filtered-out pages are
        never fetched — the DataFrame twin of the reference's explicit
        ``page`` query param. Page pruning is exact (a partition holds
        exactly one page), so handled filters are CONSUMED; anything else
        is yielded back for Spark to evaluate post-scan."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            LessThan,
            LessThanOrEqual,
        )

        def tighten_lo(v):
            self._page_lo = v if self._page_lo is None else max(self._page_lo, v)

        def tighten_hi(v):
            self._page_hi = v if self._page_hi is None else min(self._page_hi, v)

        for f in filters:
            col = f.attribute[-1] if getattr(f, "attribute", None) else None
            v = getattr(f, "value", None)
            if col != "page":
                yield f
            elif isinstance(f, In) and all(isinstance(x, int) for x in v):
                vs = set(v)
                self._page_in = vs if self._page_in is None else self._page_in & vs
            elif not isinstance(v, int):
                yield f
            elif isinstance(f, EqualTo):
                tighten_lo(v), tighten_hi(v)
            elif isinstance(f, GreaterThan):
                tighten_lo(v + 1)
            elif isinstance(f, GreaterThanOrEqual):
                tighten_lo(v)
            elif isinstance(f, LessThan):
                tighten_hi(v - 1)
            elif isinstance(f, LessThanOrEqual):
                tighten_hi(v)
            else:
                yield f

    def _discover_pages(self) -> list[int]:
        if self.max_pages:
            pages = list(range(self.start_page, self.start_page + self.max_pages))
        elif not self.pages_dir:
            raise ValueError("endpoint transport requires explicit max_pages")
        else:
            # digit guard: a stray 'page-draft.json' / 'page-2 (copy).json'
            # must be ignored, not abort partition planning with ValueError
            pages = sorted(
                int(mid)
                for fn in os.listdir(self.pages_dir)
                if fn.startswith("page-")
                and fn.endswith(".json")
                and (mid := fn[len("page-") : -len(".json")]).isdigit()
            )
            pages = [p for p in pages if p >= self.start_page]
        if self._page_lo is not None:
            pages = [p for p in pages if p >= self._page_lo]
        if self._page_hi is not None:
            pages = [p for p in pages if p <= self._page_hi]
        if self._page_in is not None:
            pages = [p for p in pages if p in self._page_in]
        return pages

    def partitions(self):
        # One partition per page: pagination IS the parallelism (OP1+OP19).
        return [_PagePartition(p) for p in self._discover_pages()]

    @staticmethod
    def _as_page_list(posts, page: int, origin: str) -> list:
        """A page body must be a JSON array; anything else (a WordPress
        error object like ``{"code": "rest_post_invalid_page_number"}``,
        a bare scalar, a truncated file) is a poison PAGE — warn and
        return empty rather than iterating dict keys / raising, which
        would kill the task deterministically, exhaust its 4 retries,
        and abort the whole scan (review r13, same tolerance contract as
        the per-post normalization in read())."""
        if isinstance(posts, list):
            return posts
        log.warning(
            "wod_posts: page %s at %s is not a JSON array (got %s); "
            "skipping page",
            page,
            origin,
            type(posts).__name__,
        )
        return []

    def _fetch_page(self, page: int) -> list:
        if self.pages_dir:
            path = os.path.join(self.pages_dir, f"page-{page}.json")
            if not os.path.exists(path):
                return []
            try:
                with open(path, encoding="utf-8") as f:
                    posts = json.load(f)
            except (json.JSONDecodeError, UnicodeDecodeError) as exc:
                # corrupt/truncated page file: poison-page tolerance —
                # a deterministic parse error would fail the task on
                # every retry and abort the scan (review r13)
                log.warning(
                    "wod_posts: page %s at %s is unparseable (%s); "
                    "skipping page",
                    page,
                    path,
                    exc,
                )
                return []
            posts = self._as_page_list(posts, page, path)
            # a local page file IS the page — the DEFAULT per_page is the
            # endpoint transport's server page size, and slicing by it
            # here silently dropped rows from pages larger than 10; an
            # EXPLICIT per_page option remains a user-requested cap
            return posts[: self.per_page] if self._per_page_explicit else posts
        # Reference URL shape, services/invictus_api_service.py:54 — but
        # the separator adapts: the reference's endpoint constant embeds
        # '?', a bare endpoint option does not, and unconditionally
        # appending '&' would splice the params into the path (review r13)
        import urllib.request

        from .credentials import basic_auth_header

        sep = "&" if "?" in self.endpoint else "?"
        url = f"{self.endpoint}{sep}per_page={self.per_page}&page={page}"
        req = urllib.request.Request(  # noqa: S310
            url, headers=basic_auth_header(*self.credentials, url=url)
        )
        with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
            posts = json.load(resp)
        return self._as_page_list(posts, page, url)[: self.per_page]

    @staticmethod
    def _as_str(v):
        """Malformed scalar → NULL, never a task-killing Arrow mismatch."""
        return v if isinstance(v, str) else None

    @staticmethod
    def _as_int(v, default=None, bits: int = 64):
        """int() with a type-range guard: a JSON number beyond the Arrow
        column's width (LongType ids / IntegerType categories) would pass
        int() and then kill the task in the worker's Arrow conversion —
        the exact failure mode this normalization exists to prevent
        (review r13). bool is rejected too (int(True) is 1, but a boolean
        id is malformed data, not id 1)."""
        if isinstance(v, bool):
            return default
        try:
            iv = int(v)
        except (TypeError, ValueError):
            return default
        bound = 1 << (bits - 1)
        return iv if -bound <= iv < bound else default

    def read(self, partition: _PagePartition):
        for post in self._fetch_page(partition.page):
            if not isinstance(post, dict):
                # poison array ELEMENT ("oops", 42, [...]): skip — .get
                # on a str raises AttributeError, a deterministic task
                # death the page-level tolerance can't absorb (review r13)
                continue
            title = post.get("title")
            if isinstance(title, dict):  # raw WP shape: title.rendered
                title = title.get("rendered")
            content = post.get("content")
            if isinstance(content, dict):
                content = content.get("rendered")
            # poison-record tolerance (one malformed post must not kill
            # the page's task, 4 retries, then the whole scan): explicit
            # JSON nulls, non-numeric ids ('abc'), scalar/string-typed
            # categories, and list-typed title/content all normalize to
            # NULL/empty instead of raising in int()/iteration/Arrow
            pid = post.get("id")
            cats = post.get("categories")
            if not isinstance(cats, (list, tuple)):
                cats = []
            cat_ids = [
                c_int
                for c in cats
                if (c_int := self._as_int(c, bits=32)) is not None
            ]
            yield (
                self._as_int(pid, default=0),
                self._as_str(post.get("date")),
                self._as_str(post.get("slug")),
                self._as_str(title),
                self._as_str(content),
                self._as_str(post.get("link")),
                cat_ids,
                partition.page,
            )


class _PostsStreamReader(DataSourceStreamReader):
    """Micro-batch page tailing — the reference's scheduled poll (OP21:
    EventBridge cron → fetch new posts) as a Structured Streaming source.

    The offset is the page cursor: ``{"next_page": N}`` means pages below
    N are committed. ``latestOffset`` advances over the CONTIGUOUS run of
    pages present on disk — a page landing out of order moves the cursor
    only once its predecessors exist, so a restart can never skip a page
    (exactly-once across restarts comes from Spark's offset log; the
    pages themselves are immutable). Each micro-batch plans one partition
    per new page — identical parallelism, fetch, and row shape as the
    batch reader, so the same pipeline definition backfills (batch) and
    tails (stream)."""

    _CURSOR_HINT = ".cursor"

    def __init__(self, options: dict):
        self._inner = _PostsReader(options)
        if not self._inner.pages_dir:
            raise ValueError("wod_posts streaming requires 'pages_dir'")
        # resume the contiguity walk from the last returned cursor instead
        # of start_page: a long-running tail probes O(new pages) per
        # trigger, not O(table age). Sound because pages are immutable and
        # the cursor only ever advances over pages that exist. Across
        # RESTARTS the walk resumes from the committed-cursor hint (written
        # at commit): without it, a restart after retention deleted
        # consumed page files would walk from start_page, hit the hole,
        # and return an offset below the committed one — wedging the
        # stream. The hint only ever holds COMMITTED offsets, so resuming
        # there can never skip an unprocessed page; a fresh query over the
        # same dir still reads everything (Spark plans partitions from ITS
        # initialOffset, the hint only seeds the end-offset walk).
        # READ-ONLY pages_dir: set 'cursor_dir' to a writable location
        # (e.g. beside the checkpoint) — restart-after-retention safety
        # REQUIRES a writable hint; with neither, commit() warns loudly
        # once, and restarts are only safe while no consumed page has
        # been retention-deleted.
        self._cursor_dir = options.get("cursor_dir") or self._inner.pages_dir
        self._warned_hint = False
        self._cursor = max(self._inner.start_page, self._read_hint())

    def _hint_path(self) -> str:
        return os.path.join(self._cursor_dir, self._CURSOR_HINT)

    def _read_hint(self) -> int:
        try:
            with open(self._hint_path(), encoding="utf-8") as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return self._inner.start_page

    def initialOffset(self) -> dict:
        return {"next_page": self._inner.start_page}

    def latestOffset(self) -> dict:
        p = self._cursor
        while os.path.exists(os.path.join(self._inner.pages_dir, f"page-{p}.json")):
            p += 1
        self._cursor = p
        return {"next_page": p}

    def partitions(self, start: dict, end: dict):
        # Spark hands us the checkpointed [start, end) when (re)planning a
        # batch: the contiguity walk must never restart below END — Spark's
        # offset log already holds every page under it, so re-probing them
        # is at best wasted I/O. At worst it WEDGES the stream (review
        # r13): a crash between the offset-log write and the commit hint,
        # followed by retention deleting the replayed batch's pages,
        # leaves the hint at start; seeding the walk there makes
        # latestOffset wait forever for a file that will never come back,
        # and no batch after the replay is ever planned.
        self._cursor = max(self._cursor, end["next_page"])
        return [
            _PagePartition(p) for p in range(start["next_page"], end["next_page"])
        ]

    def read(self, partition: _PagePartition):
        return self._inner.read(partition)

    def commit(self, end: dict) -> None:
        # pages are immutable files — nothing to acknowledge upstream; the
        # committed cursor is persisted as the restart hint. A failed
        # write is NOT silently ignored: without a hint, a restart after
        # retention deletes consumed pages walks from start_page into the
        # hole and the stream wedges — warn once so the operator can point
        # 'cursor_dir' at a writable location before that restart happens.
        # belt-and-braces with partitions(): the in-memory walk cursor
        # must track every committed offset even if this batch's
        # partitions() ran in a different reader instance
        self._cursor = max(self._cursor, end["next_page"])
        try:
            hint = max(self._read_hint(), end["next_page"])
            tmp = self._hint_path() + ".tmp"
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(str(hint))
            os.replace(tmp, self._hint_path())
        except OSError as exc:
            if not self._warned_hint:
                self._warned_hint = True
                log.warning(
                    "wod_posts stream: cursor hint write failed (%s); "
                    "restarts are only safe while no consumed page has "
                    "been deleted — set option 'cursor_dir' to a writable "
                    "directory",
                    exc,
                )


class PaginatedPostsDataSource(DataSource):
    """``spark.read.format("wod_posts").option("pages_dir", ...)`` for
    batch, ``spark.readStream.format("wod_posts")`` for page tailing."""

    @classmethod
    def name(cls) -> str:
        return "wod_posts"

    def schema(self):
        return POST_SCHEMA

    def reader(self, schema) -> _PostsReader:
        return _PostsReader(self.options)

    def streamReader(self, schema) -> _PostsStreamReader:
        return _PostsStreamReader(self.options)


def register_posts_source(spark) -> None:
    spark.dataSource.register(PaginatedPostsDataSource)
