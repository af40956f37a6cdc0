"""HTML → text projection — OP4 of the reference.

Reference: ``strip_post_html`` (``handler.py:166-190``) parses with
BeautifulSoup and takes visible text. At scale a row-at-a-time Python parse
is the single hottest path in the pipeline, so the engine default is a
JVM-side regex strip (tags removed, source newlines preserved, common
entities decoded) — whole-stage-codegen'd, zero Python round trips. That is
semantically equivalent for WordPress-style content where block structure
is reflected in source newlines (the reference's own fixtures are).

``strip_html_fidelity`` is the real-parser mode: an Arrow-batched
pandas_udf over the stdlib ``html.parser`` state machine (a true
tokenizer — handles attribute values containing ``>``, comments, CDATA,
and script/style bodies that the regex path cannot). It is deliberately
pinned to the stdlib backend: an optional bs4 path would change output
depending on what happens to be installed on the executors (bs4's
``get_text("\\n")`` breaks at inline tags too), and a query's result must
not depend on cluster packaging. Use fidelity mode when inputs are not
under your control; keep the expression path for trusted WordPress-style
corpora.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F

# minimal entity table — the ones WordPress titles/content actually emit
# (reference replaces &#8211; explicitly, transforms.py:57)
# ORDER MATTERS: the amp spellings decode LAST (and, since r13, in one
# simultaneous regex pass — see _AMP_ENTITIES below). Sequential
# replacement with amp first double-decodes escaped literals —
# '&amp;lt;' (an author writing '&lt;' as text) became '<' instead of
# '&lt;', diverging from the single-pass decode a real parser (and the
# fidelity mode) performs.
_ENTITIES = {
    "&#8211;": "–",
    "&#8212;": "—",
    "&#8216;": "‘",
    "&#8217;": "’",
    "&#8230;": "…",
    "&#8220;": "“",
    "&#8221;": "”",
    "&nbsp;": " ",
    "&quot;": '"',
    "&#039;": "'",
    "&lt;": "<",
    "&gt;": ">",
    # the numeric amp &#038; (wptexturize's canonical '&' in titles) obeys
    # the same decode-LAST rule as &amp; — review r11
    "&#038;": "&",
    "&amp;": "&",
}

# the two amp spellings decode in ONE simultaneous regex pass, not
# sequential replaces (review r13): any order double-decodes one of
# '&#038;amp;' / '&amp;#038;' — the '&' minted by the first replace
# recombines with the trailing 'amp;'/'#038;' and the second replace
# fires on text it minted itself; a single regexp_replace never rescans
# its own output. Both loops below SKIP these keys and apply _AMP_RE
# last; wod_e2e's oracle mirror interpolates the same pattern.
_AMP_ENTITIES = ("&#038;", "&amp;")
AMP_RE = "&(amp;|#038;)"


@functools.cache
def strip_html(html: str) -> Column:
    """Visible text of the named HTML column: <br>/<p> → newline, tags
    dropped, entities decoded, blank-run collapse. Built once per process
    per column name (the expression does not depend on the data), like
    ``decode_entities``."""
    # attributed breaks (<br class="wp" />) must still mint their
    # newline while <broken> stays a generic tag (review r11) — hence
    # the optional non-word-then-anything group.
    # explicit word-class guard, not \b (r13): Java's \b is
    # Unicode-aware while RE2's (the oracle engine's) is ASCII-only, so
    # '<br' followed by an accented letter matched only on one side; the
    # optional [^>word] group expresses the same boundary in BOTH
    # engines (RE2 has no lookarounds)
    c = F.regexp_replace(F.col(html), r"(?i)<br([^>a-zA-Z0-9_][^>]*)?>", "\n")
    # explicit class, not \s (r13, the trim-class fix extended): Java \s
    # matches \x0B where RE2's does not — '</p\x0B>' minted a newline
    # here but fell to the generic tag-delete in the oracle
    c = F.regexp_replace(c, r"(?i)</p[ \t\n\x0B\f\r]*>", "\n")
    c = F.regexp_replace(c, r"<[^>]+>", "")
    for ent, ch in _ENTITIES.items():
        if ent in _AMP_ENTITIES:
            continue
        c = F.replace(c, F.lit(ent), F.lit(ch))
    c = F.regexp_replace(c, AMP_RE, "&")  # both amp spellings, one pass
    c = F.regexp_replace(c, r"[ \t]*\n[ \t]*", "\n")  # trim around breaks
    c = F.regexp_replace(c, r"\n{2,}", "\n")  # collapse blank lines
    # full whitespace trim — F.trim alone strips spaces but would leave the
    # newline minted from a trailing </p>. Explicit class, not \s (r13,
    # the fuzzy-dedup r12 class): Java's \s includes \x0B where RE2's
    # does not, so the oracle's trim would keep a trailing vertical tab
    # this one strips — the class spells out Java \s so both engines
    # strip identically
    return F.regexp_replace(c, r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", "")


@functools.cache
def decode_entities(text: str) -> Column:
    """Entity decode alone of the named column (titles are entity-encoded
    but tag-free)."""
    c = F.col(text)
    for ent, ch in _ENTITIES.items():
        if ent in _AMP_ENTITIES:
            continue
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.regexp_replace(c, AMP_RE, "&")  # one simultaneous amp pass


# --- fidelity mode: real parser, Python path ------------------------------

_BLOCK_BREAK_TAGS = frozenset(
    "p div br li tr h1 h2 h3 h4 h5 h6 ul ol table blockquote pre section article header footer".split()
)
_SKIP_CONTENT_TAGS = frozenset(("script", "style"))


def strip_html_fidelity(html: Column) -> Column:
    """Real-parser visible-text projection (reference ``handler.py:166-190``
    semantics), pinned to the stdlib ``html.parser`` backend so output is
    identical on every executor regardless of installed packages.
    Arrow-batched pandas_udf: the slow path by design (~10-50x the regex
    projection) — reserve it for corpora where markup is adversarial or
    unvetted.

    The UDF closure is SELF-CONTAINED (review r11): Python workers cannot
    import this package (the driver adds it to sys.path dynamically), so
    a module-level helper would be cloudpickled by reference and raise
    ModuleNotFoundError on the first real-executor run — the parser
    class, tag sets, and cleanup regexes are all built inside the closure
    (once per Arrow batch, not per row).
    """
    # pandas imported here, not at module top, so the pure-expression
    # strip_html path keeps zero Python-side dependencies
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # bound as closure cells: pickled by VALUE into the worker payload
    skip_tags = frozenset(_SKIP_CONTENT_TAGS)
    block_tags = frozenset(_BLOCK_BREAK_TAGS)

    def _strip(batch):
        import re
        from html.parser import HTMLParser

        class _Text(HTMLParser):
            def __init__(self) -> None:
                super().__init__(convert_charrefs=True)
                self.parts: list[str] = []
                self._skip = 0

            def handle_starttag(self, tag, attrs):
                if tag in skip_tags:
                    self._skip += 1
                elif tag in block_tags:
                    self.parts.append("\n")

            def handle_endtag(self, tag):
                if tag in skip_tags:
                    self._skip = max(0, self._skip - 1)
                elif tag in block_tags:
                    self.parts.append("\n")

            def handle_data(self, data):
                if not self._skip:
                    self.parts.append(data)

        ws_around_nl = re.compile(r"[ \t]*\n[ \t]*")
        nl_runs = re.compile(r"\n{2,}")

        def one(html_text: str) -> str:
            p = _Text()
            p.feed(html_text)
            p.close()
            # convert_charrefs decodes &nbsp; to U+00A0 where the regex
            # path's entity table emits a plain space — normalize so the
            # two modes keep their byte-equality contract on WP content
            # (review r13); the strip() also removes \xa0 consistently
            # once it is a plain space
            text = "".join(p.parts).replace("\xa0", " ")
            return nl_runs.sub("\n", ws_around_nl.sub("\n", text)).strip()

        return batch.map(lambda v: one(v) if v is not None else None)

    # real class objects (not string annotations): pandas_udf's eval-type
    # inference resolves hints against module globals, where pd is absent
    _strip.__annotations__ = {"batch": pd.Series, "return": pd.Series}
    return pandas_udf(_strip, "string")(html)
