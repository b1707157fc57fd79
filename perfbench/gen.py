"""Seeded input generators for the benchmark.

Every input is a pure function of ``seed``: the same seed writes
byte-identical parquet files.  The program under test only ever receives
the parquet files; the planted truth stays with the benchmark.

* ``write_crawl``   — a web-crawl snapshot (url, warc_ts, html, text, lang)
  with planted duplicate groups, hard negatives and two templated hot
  clusters, plus its truth (``url -> group``).
* ``write_stream``  — the same kind of crawl as a seed plus micro-batches
  whose pages duplicate earlier batches and re-deliver ~5 % seen urls.
* ``write_catalog`` — the ten tables the query catalog reads (a TPC-H-like
  star schema, an ``events`` table, ``documents`` with ~6 % near-copies
  and random unit ``embeddings``), one single-row-group file per table,
  at the shape of the package's smallest test scale.
"""

from __future__ import annotations

import datetime
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime.datetime(2025, 1, 1)
PAGE_FILES = 16  # fixed, so the digest does not depend on the core count
HOT_SIZE = 900  # largest band bucket ~650 > bucket_star_cap * salt_factor (512)
WARM_SIZE = 200  # largest band bucket ~150, in (64, 512]: salted tier
TEMPLATES = ("hot", "warm")  # group names of the templated clusters

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

_SYLLABLES = [
    "ka", "ro", "mi", "ta", "lu", "ne", "si", "va", "do", "pe",
    "gar", "len", "tos", "mur", "bel", "rin", "sol", "dak", "fen", "vor",
]


def _vocab(rng: np.random.Generator, size: int = 6000) -> np.ndarray:
    words: dict[str, None] = {}
    while len(words) < size:
        n = int(rng.integers(2, 5))
        words["".join(_SYLLABLES[i] for i in rng.integers(0, 20, n))] = None
    return np.array(list(words))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(root)):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


# --------------------------------------------------------------------------
# web pages
# --------------------------------------------------------------------------


class _Pages:
    """Accumulates pages and their truth labels."""

    def __init__(self, rng: np.random.Generator, prefix: str):
        self.rng = rng
        self.vocab = _vocab(rng)
        self.prefix = prefix
        self.rows: list[tuple[str, str, str]] = []  # (group, title, body)

    def toks(self, n: int) -> np.ndarray:
        return self.rng.integers(0, len(self.vocab), n)

    def edit(self, toks: np.ndarray, frac: float) -> np.ndarray:
        out = toks.copy()
        pos = self.rng.choice(len(toks), max(1, int(len(toks) * frac)), replace=False)
        out[pos] = self.toks(len(pos))
        return out

    def add(self, group: str, title: str, toks) -> None:
        words = toks if isinstance(toks, list) else list(self.vocab[toks])
        self.rows.append((group, title, " ".join(words)))

    def plant(self, n_groups: int) -> None:
        """The planted structure; ``n_groups`` scales every family."""
        for g in range(n_groups):  # exact copies, 4 per group
            base = self.toks(120)
            for _ in range(4):
                self.add(f"exact{g}", f"exact {g}", base)
        for g in range(n_groups):  # light edits (1-2 % of tokens)
            base = self.toks(400)
            self.add(f"near{g}", f"near {g}", base)
            for _ in range(2 + g % 5):
                frac = float(self.rng.uniform(0.01, 0.02))
                self.add(f"near{g}", f"near {g}", self.edit(base, frac))
        for g in range(n_groups // 2):  # boilerplate wraps around one core
            core = self.toks(300)
            for _ in range(3):
                wrap = np.concatenate([self.toks(15), core, self.toks(15)])
                self.add(f"wrap{g}", f"wrapped {g}", wrap)
        for g in range(n_groups // 2):  # containment: B = A + 50 % appended
            a = self.toks(200)
            self.add(f"contain{g}", f"contain {g}", a)
            self.add(f"contain{g}", f"contain {g}",
                     np.concatenate([a, self.toks(100)]))
        for g in range(n_groups):  # hard negatives: pairs sharing ~30 % tokens
            shared = self.toks(60)
            for m in range(2):
                own = self.toks(140)
                mixed = np.insert(own, np.arange(3, 141, 3)[:60], shared[:46])
                self.add(f"hardneg{g}_{m}", f"hardneg {g} {m}", mixed)

    def template(self, group: str, n: int) -> None:
        """``n`` distinct pages from one template: a shared 150-token body
        with two slot tokens (item id, price) that differ per page."""
        body = list(self.vocab[self.toks(150)])
        for i in range(n):
            self.add(group, f"catalog item {group}",
                     body[:75] + [f"item{i:05d}", f"price{(i * 37) % 1000}"] + body[75:])

    def filler(self, n: int) -> None:
        for i in range(n):
            self.add(f"uniq{i}", f"unique {i}",
                     self.toks(int(self.rng.integers(50, 300))))

    def table(self) -> tuple[pa.Table, list[tuple]]:
        """Shuffled pages table + truth rows (url, group, is_hardneg)."""
        idx = self.rng.permutation(len(self.rows))
        urls, ts, html, text, lang, truth = [], [], [], [], [], []
        for doc, i in enumerate(idx):
            group, title, body = self.rows[i]
            url = f"https://site{doc % 997:04d}.example/{self.prefix}/{doc:07d}"
            urls.append(url)
            ts.append(EPOCH + datetime.timedelta(seconds=doc))
            html.append(
                f"<html><head><title>{title}</title></head>"
                f"<body><p>{body}</p></body></html>".encode()
            )
            text.append(f"{title}\n{body}")
            lang.append("en")
            truth.append((url, group, "hardneg" in group))
        tbl = pa.Table.from_arrays(
            [pa.array(urls), pa.array(ts, pa.timestamp("us")),
             pa.array(html, pa.binary()), pa.array(text), pa.array(lang)],
            schema=PAGES_SCHEMA,
        )
        return tbl, truth


def _write_pages(tbl: pa.Table, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-tbl.num_rows // files)
    for f in range(files):
        _write(tbl.slice(f * step, step), os.path.join(path, f"part-{f:05d}.parquet"))


def _write_truth(truth: list[tuple], path: str) -> None:
    url, group, hardneg = zip(*truth)
    _write(pa.table({"url": list(url), "group": list(group),
                     "hardneg": list(hardneg)}), path)


def _crawl(seed: int, n_pages: int, prefix: str, hot: bool) -> _Pages:
    """The planted families, the templated clusters and unique filler."""
    p = _Pages(np.random.default_rng([seed, 1]), prefix)
    p.plant(max(4, n_pages // 100))
    if hot:
        p.template("hot", HOT_SIZE)
    p.template("warm", WARM_SIZE)
    p.filler(max(0, n_pages - len(p.rows)))
    return p


def write_crawl(root: str, seed: int, n_pages: int) -> dict:
    """Crawl snapshot at ``root/pages`` and truth at ``root/truth.parquet``."""
    tbl, truth = _crawl(seed, n_pages, "p", hot=True).table()
    _write_pages(tbl, os.path.join(root, "pages"), PAGE_FILES)
    _write_truth(truth, os.path.join(root, "truth.parquet"))
    return truth_counts(truth)


def write_stream(
    root: str, seed: int, n_seed: int, n_batches: int, batch_size: int
) -> dict:
    """The same kind of crawl delivered incrementally: a seed at
    ``root/seed`` and micro-batches at ``root/batch_XXX``.  Only the
    200-page template is planted: the ingest path has no skew tiers, so a
    600-page band bucket makes every batch's band join quadratic in it.

    Pages are dealt out in a shuffled order, so members of one duplicate
    group land in different batches (a batch duplicates pages of earlier
    batches).  Each batch also re-delivers ~5 % urls of earlier batches
    with changed html: re-crawls, which the program drops by
    first-write-wins, so they add no truth rows."""
    rng = np.random.default_rng([seed, 2])
    fresh = batch_size - batch_size // 20
    tbl, truth = _crawl(seed, n_seed + n_batches * fresh, "s", hot=False).table()
    parts = {"seed": tbl.slice(0, n_seed)}
    start = n_seed
    for b in range(n_batches):
        old = tbl.take(pa.array(np.sort(rng.choice(start, batch_size - fresh,
                                                   replace=False))))
        recrawl = old.set_column(2, "html", pa.array(
            [h + b"<!-- recrawl -->" for h in old["html"].to_pylist()], pa.binary()))
        parts[f"batch_{b:03d}"] = pa.concat_tables([tbl.slice(start, fresh), recrawl])
        start += fresh
    for name, part in parts.items():
        _write_pages(part, os.path.join(root, name), 4)
    _write_truth(truth, os.path.join(root, "truth.parquet"))
    return truth_counts(truth)


def truth_counts(truth: list[tuple]) -> dict:
    sizes: dict[str, int] = {}
    for _, group, _ in truth:
        sizes[group] = sizes.get(group, 0) + 1
    return {
        "pages": len(truth),
        "dup_groups": sum(1 for s in sizes.values() if s > 1),
        "dup_pairs": sum(s * (s - 1) // 2 for s in sizes.values()),
        "hardneg_pages": sum(1 for t in truth if t[2]),
        "max_group": max(sizes.values()),
    }


# --------------------------------------------------------------------------
# the query catalog's tables
# --------------------------------------------------------------------------

_DOC_WORDS = (
    "a the big small fast slow data table row column key value scan join "
    "merge sort group agg filter order window hash part line batch stream "
    "spark query vector customer"
).split()


def _catalog_tables(rng: np.random.Generator, scale: int) -> dict[str, pa.Table]:
    i32, i64, f64, ts = pa.int32(), pa.int64(), pa.float64(), pa.timestamp("us")
    n_cust, n_supp, n_part, n_ord = 150 * scale, 10 * scale, 200 * scale, 1500 * scale
    n_line, n_events, n_docs = 6000 * scale, 1000 * scale, 500 * scale

    def days(lo: str, hi: str, n: int) -> pa.Array:
        d0, d1 = np.datetime64(lo, "D"), np.datetime64(hi, "D")
        d = d0 + rng.integers(0, (d1 - d0).astype(int) + 1, n).astype("timedelta64[D]")
        return pa.array(d.astype("datetime64[us]"), ts)

    def cents(lo: float, hi: float, n: int) -> pa.Array:
        return pa.array(np.round(rng.uniform(lo, hi, n), 2), f64)

    def pick(words: list[str], n: int) -> pa.Array:
        return pa.array(np.array(words)[rng.integers(0, len(words), n)])

    def ids(n: int) -> pa.Array:
        return pa.array(np.arange(n), i64)

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), i32)})
    t["customer"] = pa.table({
        "c_custkey": ids(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": cents(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": ids(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": cents(-999.99, 9999.99, n_supp)})
    adj = ["cold", "hot", "small", "large", "old", "new", "blue"]
    noun = ["widget", "bolt", "rod", "gizmo", "anvil", "ring", "plate", "gear"]
    t["part"] = pa.table({
        "p_partkey": ids(n_part),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 7, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD",
                        "SMALL"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + 0.1 * np.arange(n_part), 2), f64)})
    t["orders"] = pa.table({
        "o_orderkey": ids(n_ord),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pick(["O", "F", "P"], n_ord),
        "o_totalprice": cents(1000, 500000, n_ord),
        "o_orderdate": days("1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    order = np.sort(rng.integers(0, n_ord, n_line))
    first = np.searchsorted(order, order, side="left")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(order, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(np.arange(n_line) - first + 1, i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": cents(900, 105000, n_line),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, f64),
        "l_returnflag": pick(["N", "A", "R"], n_line),
        "l_linestatus": pick(["O", "F"], n_line),
        "l_shipdate": days("1995-01-02", "2001-11-04", n_line)})
    gaps = rng.exponential(30 * 86400 * 1e6 / n_events, n_events)
    t["events"] = pa.table({
        "event_id": ids(n_events),
        "ts": pa.array((np.datetime64("2024-01-01", "us")
                        + np.cumsum(gaps).astype("timedelta64[us]")), ts),
        "user_id": pa.array(rng.integers(0, 15, n_events), i64),
        "event_type": pick(["click", "purchase", "error", "signup", "view"], n_events),
        "value": cents(0.01, 499.99, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts: list[str] = []
    for _ in range(n_docs):  # ~6 % are a copy of an earlier doc + " dup"
        if texts and rng.random() < 0.06:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            texts.append(" ".join(pick(_DOC_WORDS, int(rng.integers(8, 91)))
                                  .to_pylist()))
    t["documents"] = pa.table({
        "doc_id": ids(n_docs),
        "text": texts,
        "lang": pick(["en", "en", "fr", "es", "zh", "de"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], i64)})
    vec = rng.standard_normal((n_docs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": ids(n_docs),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), i32)})
    return t


def write_catalog(root: str, seed: int, scale: int = 1) -> dict:
    """The catalog's tables as ``root/<table>.parquet`` (one row group
    each, like the package's test data); returns the row counts."""
    os.makedirs(root, exist_ok=True)
    tables = _catalog_tables(np.random.default_rng([seed, 3]), scale)
    for name, tbl in tables.items():
        _write(tbl, os.path.join(root, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
