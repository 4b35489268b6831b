"""Seeded input generators with planted duplicate truth.

Every generator is a pure function of its seed (legacy ``RandomState``,
whose streams numpy keeps stable) and imports nothing from the program
under test.  Each returns rows plus a truth map ``key -> group``; keys in
one group are planted duplicates of each other, every other key is its own
group.  ``write_parts`` materializes a table as several parquet files,
because one single-row-group file would plan a one-task scan and leave the
other cores idle.

Pages use the pipeline's input schema
``(url string, warc_ts timestamp, html binary, text string, lang string)``;
the catalog documents use the ``documents`` schema the query catalog reads
``(doc_id long, text string, lang string, source string, n_chars long)``.
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass, field

import numpy as np

EPOCH = datetime.datetime(2025, 1, 1)
N_PARTS = 8
_SYLLABLES = (
    "ka ro mi ta lu ne si va do pe gar len tos mur bel rin sol dak fen vor "
    "qui zan hep ost wyl"
).split()

# Group sizes follow fixed schedules, so seeds change content and lengths
# only and every seed costs the program about the same work.
UNIQUE_DOCS = 8_000
DUPSKEW_DOCS = 4_000
CATALOG_DOCS = 1_000

# Bucket tiers of the pipeline's LSH (star cap 64, salt factor 8): the
# dupskew groups straddle both boundaries.
STAR_CAP = 64
SALT_CAP = STAR_CAP * 8


@dataclass
class Pages:
    """Generated rows (title, body tokens) keyed by url, and the truth."""

    urls: list[str] = field(default_factory=list)
    titles: list[str] = field(default_factory=list)
    bodies: list[str] = field(default_factory=list)
    truth: dict[str, str] = field(default_factory=dict)

    def add(self, url: str, title: str, toks: list[str], group: str) -> None:
        self.urls.append(url)
        self.titles.append(title)
        self.bodies.append(" ".join(toks))
        self.truth[url] = group

    def __len__(self) -> int:
        return len(self.urls)


def make_vocab(rng: np.random.RandomState, size: int = 20_000) -> np.ndarray:
    """``size`` distinct words of 2-4 syllables, in draw order."""
    syl = np.array(_SYLLABLES)
    words: dict[str, None] = {}
    while len(words) < size:
        lens = rng.randint(2, 5, 2 * size)
        parts = syl[rng.randint(0, len(syl), (2 * size, 4))]
        for n, row in zip(lens.tolist(), parts.tolist()):
            words.setdefault("".join(row[:n]))
    return np.array(list(words)[:size])


def _toks(rng, vocab, n: int) -> list[str]:
    return vocab[rng.randint(0, len(vocab), n)].tolist()


def _edit(rng, vocab, toks: list[str], frac: float) -> list[str]:
    """Substitute ``frac`` of the tokens (at least one) at random positions."""
    out = list(toks)
    for p in rng.choice(len(out), max(1, int(len(out) * frac)), replace=False):
        out[p] = vocab[rng.randint(0, len(vocab))]
    return out


def _url(rng, i: int) -> str:
    return f"https://site{rng.randint(0, 997):04d}.example/p/{i:07d}"


def _shuffled(rng, pages: Pages) -> Pages:
    """Same docs in a seeded order, urls renumbered by position, so planted
    groups are spread over every input file."""
    out = Pages()
    for new_i, j in enumerate(rng.permutation(len(pages))):
        url = _url(rng, new_i)
        out.add(url, pages.titles[j], pages.bodies[j].split(" "),
                pages.truth[pages.urls[j]])
    return out


def crawl_unique(seed: int, n_docs: int = UNIQUE_DOCS) -> Pages:
    """Mostly-unique pages of 50-300 tokens with a small planted set:
    exact groups, 1%-edit near-dup groups, containment pairs (B = A plus
    10-20% appended) and hard negatives (pairs sharing a 30% prefix, which
    must stay apart).  No band bucket gets near the star cap."""
    rng = np.random.RandomState(seed)
    vocab = make_vocab(rng)
    p = Pages()
    i = 0

    def add(title, toks, group):
        nonlocal i
        p.add(f"tmp{i}", title, toks, group)
        i += 1

    for g in range(40):
        base = _toks(rng, vocab, rng.randint(80, 300))
        for _ in range(3):
            add(f"exact {g}", base, f"exact{g}")
    for g in range(60):
        base = _toks(rng, vocab, rng.randint(100, 300))
        add(f"near {g}", base, f"near{g}")
        for _ in range(1 + g % 3):
            add(f"near {g}", _edit(rng, vocab, base, 0.01), f"near{g}")
    for g in range(30):
        a = _toks(rng, vocab, rng.randint(100, 250))
        extra = _toks(rng, vocab, int(len(a) * rng.uniform(0.1, 0.2)))
        add(f"contain {g}", a, f"contain{g}")
        add(f"contain {g}", a + extra, f"contain{g}")
    for g in range(30):
        a = _toks(rng, vocab, rng.randint(100, 200))
        b = a[: int(len(a) * 0.3)] + _toks(rng, vocab, len(a) - int(len(a) * 0.3))
        add(f"neg {g}", a, f"nega{g}")
        add(f"neg {g}", b, f"negb{g}")
    while i < n_docs:
        add(f"page {i}", _toks(rng, vocab, rng.randint(50, 301)), f"u{i}")
    return _shuffled(rng, p)


def crawl_dupskew(seed: int, n_docs: int = DUPSKEW_DOCS) -> Pages:
    """Short pages (20-80 tokens), most of them in near-dup groups.

    Members of a group differ from the group's base in their last token,
    so every member pair keeps >= 15/17 of its 5-shingles.  Group sizes:
    two templated pages (a not-found and a login template, ~15% of the
    pages each) above the cap x salt factor, one mid-tier group per 1000
    pages between the star cap and cap x salt factor, and groups of 2-40
    below the cap.  Exact groups of 2-6 identical pages and ~15% singletons
    fill the rest.  The first template never shrinks below the salt tier,
    so a small ``n_docs`` still reaches every tier (and may overshoot).
    """
    rng = np.random.RandomState(seed)
    vocab = make_vocab(rng)
    p = Pages()
    i = 0

    def add(title, toks, group):
        nonlocal i
        p.add(f"tmp{i}", title, toks, group)
        i += 1

    def near_group(name: str, title: str, size: int, length: int) -> None:
        base = _toks(rng, vocab, length)
        for m in range(size):
            toks = base if m == 0 else base[:-1] + _toks(rng, vocab, 1)
            add(title, toks, name)

    templates = (("page not found", max(SALT_CAP + 16, int(n_docs * 0.15))),
                 ("please log in", int(n_docs * 0.14)))
    for t, (title, size) in enumerate(templates):
        near_group(f"tpl{t}", title, size, rng.randint(25, 40))
    mid_sizes = (120, 420, 220, 320)
    for g in range(max(1, n_docs // 1000)):
        near_group(f"mid{g}", f"listing {g}", mid_sizes[g % 4], rng.randint(20, 80))
    n_exact = int(n_docs * 0.10)
    n_single = int(n_docs * 0.15)
    g = 0
    while i < n_docs - n_exact - n_single:
        size = min(2 + (g * 7) % 39, n_docs - n_exact - n_single - i)
        near_group(f"small{g}", f"item {g}", size, rng.randint(20, 81))
        g += 1
    g = 0
    while i < n_docs - n_single:
        base = _toks(rng, vocab, rng.randint(20, 81))
        for _ in range(min(2 + g % 5, n_docs - n_single - i)):
            add(f"copy {g}", base, f"exact{g}")
        g += 1
    while i < n_docs:
        add(f"single {i}", _toks(rng, vocab, rng.randint(20, 81)), f"u{i}")
    return _shuffled(rng, p)


@dataclass
class Documents:
    doc_ids: list[int]
    texts: list[str]
    langs: list[str]
    truth: dict[int, str]


def catalog_documents(seed: int, n_docs: int = CATALOG_DOCS) -> Documents:
    """Plain-text documents of 40-120 tokens: 10% in exact groups, 20% in
    1-token-edit near-dup groups of 2-5, the rest unique."""
    rng = np.random.RandomState(seed)
    vocab = make_vocab(rng)
    texts: list[str] = []
    groups: list[str] = []
    g = 0
    while len(texts) < int(n_docs * 0.1):
        base = _toks(rng, vocab, rng.randint(40, 121))
        for _ in range(2 + g % 3):
            texts.append(" ".join(base))
            groups.append(f"exact{g}")
        g += 1
    while len(texts) < int(n_docs * 0.3):
        base = _toks(rng, vocab, rng.randint(60, 121))
        for m in range(2 + g % 4):
            toks = base if m == 0 else base[:-1] + _toks(rng, vocab, 1)
            texts.append(" ".join(toks))
            groups.append(f"near{g}")
        g += 1
    while len(texts) < n_docs:
        texts.append(" ".join(_toks(rng, vocab, rng.randint(40, 121))))
        groups.append(f"u{len(texts)}")
    order = rng.permutation(len(texts))
    langs = ("en", "de", "fr", "es", "zh")
    return Documents(
        doc_ids=list(range(len(texts))),
        texts=[texts[j] for j in order],
        langs=[langs[j % len(langs)] for j in order],
        truth={d: groups[j] for d, j in enumerate(order)},
    )


def render_html(title: str, body: str) -> bytes:
    return (
        f"<html><head><title>{title}</title></head>"
        f"<body><p>{body}</p></body></html>"
    ).encode("utf-8")


def pages_table(pages: Pages):
    import pyarrow as pa

    n = len(pages)
    return pa.table(
        {
            "url": pa.array(pages.urls, pa.string()),
            "warc_ts": pa.array(
                [EPOCH + datetime.timedelta(seconds=j) for j in range(n)],
                pa.timestamp("us"),
            ),
            "html": pa.array(
                [render_html(t, b) for t, b in zip(pages.titles, pages.bodies)],
                pa.binary(),
            ),
            "text": pa.array(
                [f"{t}\n{b}" for t, b in zip(pages.titles, pages.bodies)], pa.string()
            ),
            "lang": pa.array(["en"] * n, pa.string()),
        }
    )


def documents_table(docs: Documents):
    import pyarrow as pa

    return pa.table(
        {
            "doc_id": pa.array(docs.doc_ids, pa.int64()),
            "text": pa.array(docs.texts, pa.string()),
            "lang": pa.array(docs.langs, pa.string()),
            "source": pa.array([f"src{d % 7}" for d in docs.doc_ids], pa.string()),
            "n_chars": pa.array([len(t) for t in docs.texts], pa.int64()),
        }
    )


def write_parts(table, path: str) -> int:
    """Write ``table`` as ``N_PARTS`` parquet files under ``path``; returns
    the bytes written."""
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // N_PARTS)
    total = 0
    for k in range(N_PARTS):
        f = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(k * step, step), f)
        total += os.path.getsize(f)
    return total
