"""Seeded input generator for the benchmark.

Everything the program under test reads is made here from the ``--seed``
argument: the same seed gives byte-identical inputs. Three families:

- WOD posts: HTML built from a known day/segment plan, so the expected KV
  rows and JSONL writes are computed from the plan, never from the
  program's own output.
- CDC change batches over a keyed ``orders``-like table.
- The star-schema tables (``region`` .. ``embeddings``) the registered
  queries scan, with the column types and value ranges of the repo's
  synthetic test data.

Only the Python standard library, NumPy and PyArrow are used; no Spark.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, replace
from functools import cached_property

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# document-style vocabulary (the test data's ``documents.text`` words).
# None contains a weekday name, "session" or "suggested warm-up", so a
# content line can never be mistaken for a day or segment marker.
VOCAB = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data dup part column order scan a slow agg key "
    "window table merge vector join"
).split()
MOVES = (
    "Back Squat", "Front Squat", "Snatch", "Clean", "Jerk", "Clean & Jerk",
    "Power Snatch", "Push Press", "Deadlift", "Row", "Pull-up", "Lunge",
)
WEEKDAYS = ("Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday")
ORDINALS = ("One", "Two", "Three", "Four", "Five", "Six", "Seven")
SEGMENT_MARKERS = ("A.", "B.", "C.", "D.", "E.")
RECORD_COLS = (
    "post_id", "date", "session", "warm_up",
    "segment_a", "segment_b", "segment_c", "segment_d", "segment_e",
)
_SEG_COL = {
    "Suggested Warm-Up": "warm_up",
    "A.": "segment_a", "B.": "segment_b", "C.": "segment_c",
    "D.": "segment_d", "E.": "segment_e",
}
# (html spelling, decoded text): mid-line entities the strip must decode
_ENTITY_TOKENS = (("&amp;", "&"), ("&#8217;s", "’s"), ("5&nbsp;x&nbsp;5", "5 x 5"))
POSTS_SCHEMA = pa.schema([
    ("post_id", pa.int64()), ("html", pa.string()), ("post_date", pa.string()),
    ("slug", pa.string()), ("title", pa.string()),
])


def rng_for(seed: int, *stream) -> random.Random:
    """Independent deterministic stream per (seed, purpose)."""
    return random.Random(":".join(map(str, (seed, *stream))))


# ---------------------------------------------------------------- posts


@dataclass(frozen=True)
class Day:
    ordinal: int  # 1-based position in the post: record date = week_start + ordinal
    marker: str  # the day line, e.g. "Monday (Session One)"
    segments: tuple[tuple[str, tuple[tuple[str, str], ...]], ...] = ()  # (marker, ((html, text), ...))

    @property
    def rest(self) -> bool:
        return not self.segments


@dataclass(frozen=True)
class Post:
    post_id: int
    week_start: dt.date  # the Sunday before the slug's range start
    slug: str
    title: str
    post_date: str
    preamble: tuple[str, ...]
    days: tuple[Day, ...] = ()

    @cached_property
    def html(self) -> str:
        out = [f"<p>{line}</p>\n" for line in self.preamble]
        for day in self.days:
            if day.rest:
                out.append(f"<p>{day.marker}</p>\n<p>Mobility and easy walk</p>\n")
                continue
            out.append(f"<p><strong>{day.marker}</strong><br />\n")
            for marker, lines in day.segments:
                out.append(f"<p>{marker}\n" + "<br />\n".join(h for h, _ in lines) + "</p>\n")
        return "".join(out)

    def row(self) -> dict:
        return {
            "post_id": self.post_id, "html": self.html, "post_date": self.post_date,
            "slug": self.slug, "title": self.title,
        }

    def records(self) -> list[tuple]:
        """The cleaned day records the reference pipeline must emit."""
        out = []
        for day in self.days:
            rec = dict.fromkeys(RECORD_COLS, "")
            rec["post_id"] = self.post_id
            rec["date"] = (self.week_start + dt.timedelta(days=day.ordinal)).isoformat()
            if day.rest:
                rec["session"] = "rest day"
            else:
                rec["session"] = day.marker
                for marker, lines in day.segments:
                    rec[_SEG_COL[marker]] = " ".join(t for _, t in lines)
            out.append(tuple(rec[c] for c in RECORD_COLS))
        return out


def _line(r: random.Random) -> tuple[str, str]:
    """One content line as (html, decoded text); never a marker."""
    move = r.choice(MOVES)
    head = f"{r.randint(1, 8)}x{r.randint(1, 12)} @ {r.randint(50, 95)}%"
    words = " ".join(r.choice(VOCAB) for _ in range(r.randint(4, 9)))
    html = f"{move.replace('&', '&amp;')} {head} {words}"
    text = f"{move} {head} {words}"
    if r.random() < 0.15:
        ent_html, ent_text = r.choice(_ENTITY_TOKENS)
        w = r.choice(VOCAB)
        html += f" {ent_html} {w}"
        text += f" {ent_text} {w}"
    return html, text


def _segments(r: random.Random, pool: list[tuple[str, str]]) -> tuple:
    n_letters = r.randint(2, 5)  # plus the warm-up: 3-6 segments a day
    markers = ("Suggested Warm-Up", *SEGMENT_MARKERS[:n_letters])
    return tuple((m, tuple(r.choices(pool, k=r.randint(4, 9)))) for m in markers)


def line_pool(seed: int, n: int = 4000) -> list[tuple[str, str]]:
    """Content lines that posts draw from (drawing is cheaper than
    composing every line from scratch)."""
    r = rng_for(seed, "lines")
    return [_line(r) for _ in range(n)]


def make_post(r: random.Random, pool: list[tuple[str, str]], post_id: int) -> Post:
    # a Monday whose 7-day range stays inside its month (the slug names
    # both ends); 2023-01-02 is a Monday
    while True:
        monday = dt.date(2023, 1, 2) + dt.timedelta(weeks=r.randrange(156))
        if (monday + dt.timedelta(days=6)).month == monday.month:
            break
    month = monday.strftime("%B")
    slug = f"{month.lower()}-{monday.day}-{monday.day + 6}-{monday.year}"
    title = f"Program for {month} {monday.day}&#8211;{monday.day + 6}, {monday.year}"
    n_days = r.randint(3, 6)
    days = []
    for i in range(n_days):
        if i and r.random() < 0.15:
            days.append(Day(i + 1, f"{WEEKDAYS[i]} (Rest Day)"))
        else:
            days.append(Day(i + 1, f"{WEEKDAYS[i]} (Session {ORDINALS[i]})", _segments(r, pool)))
    preamble = tuple(
        " ".join(r.choice(VOCAB) for _ in range(r.randint(6, 14)))
        for _ in range(r.randint(0, 2))
    )
    return Post(
        post_id=post_id,
        week_start=monday - dt.timedelta(days=1),
        slug=slug,
        title=title,
        post_date=f"{monday.isoformat()}T06:00:00",
        preamble=preamble,
        days=tuple(days),
    )


def edit_post(r: random.Random, pool: list[tuple[str, str]], post: Post) -> Post:
    """Same days and dates, new text in the segments of some training days."""
    days = list(post.days)
    training = [i for i, d in enumerate(days) if not d.rest]
    for i in r.sample(training, k=max(1, len(training) // 2)) if training else []:
        days[i] = replace(days[i], segments=_segments(r, pool))
    return replace(post, days=tuple(days))


class IngestPlan:
    """The wod_ingest inputs: one backfill batch, then trickle batches.

    ``backfill`` holds every post row offered (a few ids twice, with
    different html). ``next_batch()`` makes the next trickle batch of
    ``batch_size`` posts: one or two new ids, one or two edits of known
    posts (KV updates) and unchanged re-fetches (ledger hits). Batches
    come out in the same order for the same seed however many are drawn;
    ``stream`` selects an independent plan under the same seed.
    ``current`` maps each id to the post version the KV must hold."""

    def __init__(self, seed: int, n_posts: int, batch_size: int = 5, stream=0):
        self.pool = line_pool(seed)
        r = rng_for(seed, "posts", stream)
        posts = [make_post(r, self.pool, 1_000_000 + i) for i in range(n_posts)]
        self.n_duplicate_ids = max(1, n_posts // 200)
        dups = [
            replace(make_post(r, self.pool, 0), post_id=p.post_id)
            for p in r.sample(posts, self.n_duplicate_ids)
        ]
        self.backfill = posts + dups
        self.current: dict[int, Post] = {}
        for p in self.backfill:
            if p.post_id not in self.current or p.html < self.current[p.post_id].html:
                self.current[p.post_id] = p
        self.batch_size = batch_size
        self._next_id = 2_000_000
        self._r = rng_for(seed, "trickle", stream)

    def next_batch(self) -> list[Post]:
        r = self._r
        n_new, n_edit = r.randint(1, 2), r.randint(1, 2)
        batch = []
        for j, pid in enumerate(r.sample(sorted(self.current), self.batch_size - n_new)):
            if j < n_edit:
                self.current[pid] = edit_post(r, self.pool, self.current[pid])
            batch.append(self.current[pid])
        for _ in range(n_new):
            self.current[self._next_id] = make_post(r, self.pool, self._next_id)
            batch.append(self.current[self._next_id])
            self._next_id += 1
        r.shuffle(batch)
        return batch


def write_posts(posts: list[Post], path: str) -> int:
    """Write posts as one parquet file; returns the HTML bytes written."""
    rows = [p.row() for p in posts]
    pq.write_table(pa.Table.from_pylist(rows, schema=POSTS_SCHEMA), path)
    return sum(len(row["html"].encode()) for row in rows)


# ------------------------------------------------------------------ CDC

CDC_SCHEMA = pa.schema([
    ("k", pa.int64()), ("op", pa.string()), ("seq", pa.int64()),
    ("status", pa.string()), ("val", pa.float64()), ("cust", pa.int64()),
])
TABLE_SCHEMA = pa.schema([(f.name, f.type) for f in CDC_SCHEMA if f.name not in ("op", "seq")])
TABLE_COLS = tuple(TABLE_SCHEMA.names)


def cdc_base(seed: int, n_keys: int) -> dict[int, tuple]:
    """The versioned table's initial rows from an ``orders`` table of
    ``n_keys`` orders: ``k`` = 2 x o_orderkey, so the odd keys are free
    for inserts inside every file's key range."""
    t = orders_table(np.random.default_rng([seed, 11]), n_keys, 15_000).to_pydict()
    return {
        2 * k: (s, v, c)
        for k, s, v, c in zip(t["o_orderkey"], t["o_orderstatus"], t["o_totalprice"], t["o_custkey"])
    }


def cdc_batch(seed: int, b: int, n_keys: int, batch_rows: int, hot_keys: int) -> list[tuple]:
    """Change batch ``b`` as (k, op, seq, status, val, cust) rows.

    Three batches in four draw their keys from one hot range of
    ``hot_keys`` keys (a file-targeted merge); the others (``b % 4 == 0``)
    spread their keys over the whole table (a near-full rewrite). Each batch mixes
    updates and deletes of even keys, inserts of odd keys, same-seq
    duplicates with another payload, and a few NULL keys. ``seq`` grows
    with ``b``, so a later batch's change wins."""
    key_space = 2 * n_keys
    hot_lo = rng_for(seed, "cdc-hot").randrange(0, key_space - 2 * hot_keys)
    g = np.random.default_rng([seed, 13, b])
    lo, hi = (0, key_space) if b % 4 == 0 else (hot_lo, hot_lo + 2 * hot_keys)
    n_dup, n_null = max(1, batch_rows // 50), max(1, batch_rows // 200)
    base_seq = b * 2 * batch_rows
    x = g.random(batch_rows)
    keys = g.integers(lo, hi, batch_rows)
    ops = np.where(x < 0.15, "I", np.where(x < 0.30, "D", "U"))
    keys = np.where(ops == "I", keys | 1, keys & ~1)
    status = np.array(list("OFP"))[g.integers(0, 3, batch_rows + n_dup)]
    vals = np.round(g.uniform(1000, 500000, batch_rows + n_dup), 2)
    custs = g.integers(0, 15000, batch_rows + n_dup)
    rows = [
        (int(k), str(op), base_seq + i, None, None, None) if op == "D"
        else (int(k), str(op), base_seq + i, str(status[i]), float(vals[i]), int(custs[i]))
        for i, (k, op) in enumerate(zip(keys, ops))
    ]
    for j, i in enumerate(g.integers(0, batch_rows, n_dup)):
        jj = batch_rows + j
        rows.append((rows[i][0], "U", rows[i][2], str(status[jj]), float(vals[jj]), int(custs[jj])))
    rows += [(None, "U", base_seq + batch_rows + j, "O", 1.0, 0) for j in range(n_null)]
    order = g.permutation(len(rows))
    return [rows[i] for i in order]


def write_rows(rows: list[tuple], schema: pa.Schema, path: str) -> None:
    cols = list(zip(*rows))
    pq.write_table(
        pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema), path
    )


# ------------------------------------------------------ star-schema tables


def _ts(days_from: dt.date, n_days: int, g: np.random.Generator, n: int) -> pa.Array:
    base = np.datetime64(days_from.isoformat(), "us")
    return pa.array(base + g.integers(0, n_days, n).astype("timedelta64[D]"), type=pa.timestamp("us"))


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables the registered queries read, at scale factor ``sf``
    (``orders`` has 1.5M x sf rows), with the test data's types."""
    g = np.random.default_rng([seed, 7])
    n_cust, n_ord, n_line = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp, n_ev = int(200_000 * sf), max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_users, n_docs, n_emb = max(15, int(15_000 * sf)), max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    def pick(options, n):
        return pa.array(np.array(options, dtype=object)[g.integers(0, len(options), n)].tolist(), pa.string())

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"], n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
    noun = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "nut"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pick([f"{a} {b}" for a in adj for b in noun], n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    t["orders"] = orders_table(g, n_ord, n_cust)
    t["lineitem"] = pa.table({
        "l_orderkey": g.integers(0, n_ord, n_line),
        "l_partkey": g.integers(0, n_part, n_line),
        "l_suppkey": g.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(g.integers(1, 8, n_line), pa.int32()),
        "l_quantity": g.integers(1, 51, n_line).astype(float),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": g.integers(0, 11, n_line) / 100,
        "l_tax": g.integers(0, 9, n_line) / 100,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["O", "F"], n_line),
        "l_shipdate": _ts(dt.date(1995, 1, 2), 2498, g, n_line),
    })
    ev_us = np.sort(g.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": g.integers(0, n_users, n_ev),
        "event_type": pick(["signup", "click", "error", "view", "purchase"], n_ev),
        "value": np.round(g.exponential(60, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)], pa.string()),
    })
    words = np.array(VOCAB, dtype=object)
    texts = [" ".join(words[g.integers(0, len(VOCAB), int(k))]) for k in g.integers(8, 100, n_docs)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": pick(["en", "es", "fr", "de", "zh"], n_docs),
        "source": pick([f"src{i}" for i in range(20)], n_docs),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    labels = g.integers(0, 10, n_emb)
    centers = g.normal(0, 1, (10, 64))
    vecs = centers[labels] + g.normal(0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def orders_table(g: np.random.Generator, n_ord: int, n_cust: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": g.integers(0, n_cust, n_ord),
        "o_orderstatus": pa.array(np.array(list("OFP"), dtype=object)[g.integers(0, 3, n_ord)].tolist(), pa.string()),
        "o_totalprice": np.round(g.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(dt.date(1995, 1, 1), 2404, g, n_ord),
        "o_orderpriority": pa.array(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)[
                g.integers(0, 5, n_ord)
            ].tolist(),
            pa.string(),
        ),
    })


def write_star(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write the star tables as ``<out_dir>/<name>.parquet``; returns row counts."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in star_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
