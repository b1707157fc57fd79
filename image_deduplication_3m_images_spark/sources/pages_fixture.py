"""Deterministic synthetic `pages` corpus with planted duplicate clusters.

Implements FIXTURES.md §1-2 — the webtext analog of the reference's
synthetic-feature fixture (5 planted groups of sizes 8/6/5/4/3 with
controlled noise, ``/root/reference/tests/performance/test_comprehensive.py:30-114``).

Schema is exactly the BASELINE.json input_hint:
    (url string, warc_ts timestamp, html binary, text string, lang string)
plus a ground-truth table (url, expected_cluster_id, expected_is_dup).

Everything is seeded (seed=42 by default); no wall clock anywhere.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass

import numpy as np

EPOCH = datetime.datetime(2025, 1, 1, 0, 0, 0)

_VOCAB_SYLLABLES = [
    "ka", "ro", "mi", "ta", "lu", "ne", "si", "va", "do", "pe",
    "gar", "len", "tos", "mur", "bel", "rin", "sol", "dak", "fen", "vor",
]


def _make_vocab(rng: np.random.RandomState, size: int = 5000) -> list[str]:
    vocab = []
    seen = set()
    while len(vocab) < size:
        n = rng.randint(2, 5)
        w = "".join(_VOCAB_SYLLABLES[rng.randint(0, len(_VOCAB_SYLLABLES))] for _ in range(n))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    return vocab


@dataclass
class PagesFixture:
    rows: list[dict]          # pages rows
    truth: list[dict]         # url -> expected cluster

    @property
    def n_rows(self) -> int:
        return len(self.rows)


def _body(rng: np.random.RandomState, vocab: list[str], n_tokens: int) -> list[str]:
    idx = rng.randint(0, len(vocab), size=n_tokens)
    return [vocab[i] for i in idx]


def _mutate(rng: np.random.RandomState, vocab: list[str], toks: list[str], frac: float) -> list[str]:
    out = list(toks)
    n_mut = max(1, int(len(toks) * frac))
    pos = rng.choice(len(toks), size=n_mut, replace=False)
    for p in pos:
        out[p] = vocab[rng.randint(0, len(vocab))]
    return out


def render_html(title: str, body: str) -> bytes:
    return (
        f"<html><head><title>{title}</title></head>"
        f"<body><p>{body}</p></body></html>"
    ).encode("utf-8")


def expected_text(title: str, body: str) -> str:
    """The oracle extraction: title + newline + paragraph text (must equal
    functions.text._extract_text_pd byte-for-byte)."""
    return f"{title}\n{body}"


def generate_pages(n_rows: int = 300, seed: int = 42) -> PagesFixture:
    """Planted structure (scaled to n_rows, FIXTURES.md §2):

    - exact duplicates:       5 clusters x 4 members (identical body)
    - near-dup light edit:    clusters of sizes 8/6/5/4/3 (1-2% token edits)
    - boilerplate wrap:       3 clusters x 3 (same core, different wrap)
    - containment pairs:      5 clusters x 2 (B = A + 50% appended)
    - hard negatives:         10 x 2 docs sharing ~30% tokens (must NOT merge)
    - skew bomb:              one near-identical tiny-page cluster
                              (size max(50, n_rows//10)) — hot band key
    - unique filler:          remainder

    ``n_rows`` is a TARGET, not an exact row count: the planted structure
    (85 structured rows + the skew cluster) is always emitted in full, so
    tiny requests return more rows than asked (e.g. n_rows=100 -> 135).
    Callers must size on ``len(fixture.rows)``, never slice to ``n_rows``
    — a slice would drop truth-bearing rows.
    """
    rng = np.random.RandomState(seed)
    vocab = _make_vocab(rng)
    rows: list[dict] = []
    truth: list[dict] = []
    doc_id = 0

    def add_row(cluster: str, is_dup: bool, title: str, body_toks: list[str], lang: str = "en"):
        nonlocal doc_id
        site = rng.randint(0, 50)
        url = f"https://site{site:04d}.example/p/{doc_id:06d}"
        body = " ".join(body_toks)
        rows.append(
            {
                "url": url,
                "warc_ts": EPOCH + datetime.timedelta(seconds=int(doc_id)),
                "html": render_html(title, body),
                "text": expected_text(title, body),
                "lang": lang,
            }
        )
        truth.append(
            {"url": url, "expected_cluster_id": cluster, "expected_is_dup": is_dup}
        )
        doc_id += 1

    # 1. exact duplicates: 5 x 4
    for c in range(5):
        base = _body(rng, vocab, 120)
        title = f"exact cluster {c}"
        for _ in range(4):
            add_row(f"exact_{c}", True, title, base)

    # 2. near-duplicates with light edits: sizes 8/6/5/4/3
    for c, size in enumerate([8, 6, 5, 4, 3]):
        base = _body(rng, vocab, 400)
        title = f"near cluster {c}"
        add_row(f"near_{c}", True, title, base)
        for _ in range(size - 1):
            frac = rng.uniform(0.01, 0.02)
            add_row(f"near_{c}", True, title, _mutate(rng, vocab, base, frac))

    # 3. boilerplate wrap: 3 x 3 (same 300-token core, distinct 30-token wraps)
    for c in range(3):
        core = _body(rng, vocab, 300)
        for m in range(3):
            head = _body(rng, vocab, 15)
            tail = _body(rng, vocab, 15)
            add_row(f"wrap_{c}", True, f"wrapped {c}", head + core + tail)

    # 4. containment pairs: 5 x 2
    for c in range(5):
        base = _body(rng, vocab, 200)
        extra = _body(rng, vocab, 100)
        title = f"contain {c}"
        add_row(f"contain_{c}", True, title, base)
        add_row(f"contain_{c}", True, title, base + extra)

    # 5. hard negatives: 10 x 2 sharing ~30% tokens (each its own singleton cluster)
    for c in range(10):
        shared = _body(rng, vocab, 60)
        for m in range(2):
            own = _body(rng, vocab, 140)
            mixed = []
            si = iter(shared)
            for i, tok in enumerate(own):
                mixed.append(tok)
                if i % 3 == 2:
                    try:
                        mixed.append(next(si))
                    except StopIteration:
                        pass
            add_row(f"hardneg_{c}_{m}", False, f"hardneg {c} {m}", mixed)

    # 6. skew bomb: one giant near-identical tiny-page cluster (hot band key)
    skew_n = max(50, n_rows // 10)
    err_body = ["page", "not", "found", "error", "404", "return", "home"]
    for m in range(skew_n):
        toks = list(err_body)
        if m % 7 == 1:
            toks.append(vocab[rng.randint(0, 100)])
        add_row("skew_404", True, "404 not found", toks)

    # 7. unique filler to n_rows (a few non-en rows exercise lang filtering)
    while doc_id < n_rows:
        lang = "en" if rng.uniform() < 0.95 else ("de" if rng.uniform() < 0.5 else "fr")
        add_row(f"uniq_{doc_id}", False, f"unique {doc_id}", _body(rng, vocab, rng.randint(50, 300)), lang)

    return PagesFixture(rows=rows, truth=truth)


def pages_dataframe(spark, fixture: PagesFixture):
    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("url", StringType(), False),
            StructField("warc_ts", TimestampType(), False),
            StructField("html", BinaryType(), False),
            StructField("text", StringType(), False),
            StructField("lang", StringType(), False),
        ]
    )
    return spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in fixture.rows],
        schema,
    )


def pages_distributed(spark, n_rows: int, seed: int = 42, partitions: int = 32):
    """Distributed deterministic pages corpus for benchmark scale (100k-10M
    rows): every row is a pure function of its id, generated executor-side
    with mapInPandas over ``spark.range`` — the driver never holds the corpus
    (this is exactly how a 10^12-row synthetic input would be made).

    Structure (fractions of n_rows): 1%% skew-bomb 404 cluster, 4%% exact-dup
    groups of 4, 10%% near-dup groups of 5 (member edits ~1.5%%), 85%% unique.
    """
    import pandas as pd

    rng = np.random.RandomState(seed)
    vocab = _make_vocab(rng, 4096)
    vocab_arr = np.array(vocab)

    M1 = np.uint64(0x9E3779B97F4A7C15)
    M2 = np.uint64(0xBF58476D1CE4E5B9)
    SEED = np.uint64(seed)

    def body_tokens(s: int, length: int) -> list[str]:
        ks = np.arange(length, dtype=np.uint64)
        mixed = (np.uint64(s) * M1 + (ks + np.uint64(1)) * M2 + SEED)
        mixed ^= mixed >> np.uint64(27)
        return vocab_arr[(mixed % np.uint64(len(vocab_arr))).astype(np.int64)].tolist()

    lo_exact = int(n_rows * 0.01)
    lo_near = int(n_rows * 0.05)
    lo_uniq = int(n_rows * 0.15)

    # group-seed namespaces must be DISJOINT from the filler seeds (plain
    # i < n_rows): past ~10M rows a filler doc i = 10_000_019 + g would
    # share exact-group g's PRNG stream — an UNPLANTED shared-prefix
    # near-dup corrupting the truth structure.  The historical constants
    # are kept for n_rows <= 10M (every banked scaling fixture regenerates
    # byte-identically); larger fixtures shift to 2^44-spaced bases no
    # filler id can reach (i < n_rows <= ~10^12 << 2^44).
    if n_rows <= 10_000_000:
        s_exact, s_near, s_repl = 10_000_019, 20_000_003, 30_000_017
    else:
        s_exact, s_near, s_repl = 1 << 44, 2 << 44, 3 << 44

    def gen(batches):
        for pdf in batches:
            out = []
            for i in pdf["id"]:
                i = int(i)
                if i < lo_exact:  # skew bomb
                    toks = ["page", "not", "found", "error", "404", "return", "home"]
                    if i % 7 == 1:
                        toks = toks + body_tokens(i, 1)
                    title = "404 not found"
                elif i < lo_near:  # exact-dup groups of 4
                    g = (i - lo_exact) // 4
                    toks = body_tokens(s_exact + g, 120)
                    title = f"exact {g}"
                elif i < lo_uniq:  # near-dup groups of 5
                    g = (i - lo_near) // 5
                    m = (i - lo_near) % 5
                    toks = body_tokens(s_near + g, 400)
                    if m > 0:
                        pos = (np.arange(6, dtype=np.uint64) * M2 + np.uint64(i)) % np.uint64(400)
                        repl = body_tokens(s_repl + i, 6)
                        for p, r in zip(pos.astype(int), repl):
                            toks[p] = r
                    title = f"near {g}"
                else:
                    toks = body_tokens(i, 50 + i % 250)
                    title = f"unique {i}"
                body = " ".join(toks)
                url = f"https://site{i % 997:04d}.example/p/{i:09d}"
                out.append(
                    (
                        url,
                        EPOCH + datetime.timedelta(seconds=i),
                        render_html(title, body),
                        expected_text(title, body),
                        "en",
                    )
                )
            yield pd.DataFrame(
                out, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    return (
        spark.range(n_rows)
        .repartition(partitions)
        .mapInPandas(gen, schema)
    )
