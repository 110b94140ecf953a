"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of the seed and a batch tag: the
same seed gives the same documents and request payloads (``random.Random``
seeded with a string hashes it with SHA-512, so no PYTHONHASHSEED
dependence).  The program under test only ever
sees the tables written by ``write_documents`` (read back with
``spark.read.parquet``) and the JSON payload strings.

Documents follow the engine's input shape
``(doc_id string, spans array<struct<kind, text, media_ref, offset>>)``
with spans stored shuffled, so reading-order recovery is exercised.
"""

from __future__ import annotations

import json
import random

import pyarrow as pa
import pyarrow.parquet as pq

SPAN_TYPE = pa.struct([
    ("kind", pa.string()),
    ("text", pa.string()),
    ("media_ref", pa.string()),
    ("offset", pa.int32()),
])
DOC_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))])

_WORDS = (
    "archive ledger parish county record folio entry baptism census deed "
    "register volume letter court estate land tax survey map plate index "
    "the of and in to a for by with from page line old new north south"
).split()
# whitespace noise the text branch must collapse; includes the explicit
# ASCII class members the engine pins (tab, CR, form feed, vertical tab)
_NOISE = ["  ", "\t", "\n", " \r\n ", "\f", "\x0b", "   \t "]

ALLOWED_EXT = ["jpg", "jpeg", "png", "tif", "tiff"]
DISALLOWED_EXT = ["gif", "pdf", "bmp"]
REUSE_SHARE = 0.2     # scan media spans pointing at another doc's page
MEDIA_SHARE = 0.05    # media spans in the born-digital backlog
BAD_EXT_SHARE = 0.05  # request pages with a disallowed extension


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _noisy(rng: random.Random, text: str, p: float) -> str:
    """Wrap and pepper ``text`` with whitespace runs with probability p."""
    if rng.random() >= p:
        return text
    words = text.split(" ")
    out = [rng.choice(_NOISE)]
    for w in words:
        out.append(w)
        out.append(rng.choice(_NOISE) if rng.random() < 0.3 else " ")
    return "".join(out)


def _fixed_total(rng: random.Random, counts: list[int], total: int,
                 movable: list[int]) -> list[int]:
    """Nudge the ``movable`` entries by ±1 until ``sum(counts) == total``
    (every entry stays >= 1), so each seed carries the same work."""
    diff = total - sum(counts)
    if sum(counts) - sum(counts[i] - 1 for i in movable) > total:
        raise ValueError(f"cannot fit {total} into {len(counts)} entries")
    while diff:
        i = rng.choice(movable)
        if diff > 0:
            counts[i] += 1
            diff -= 1
        elif counts[i] > 1:
            counts[i] -= 1
            diff += 1
    return counts


def _interleave(rng: random.Random, media: list[str], texts: list[str]) -> list[dict]:
    kinds = ["media"] * len(media) + ["text"] * len(texts)
    rng.shuffle(kinds)
    mi = iter(media)
    ti = iter(texts)
    spans = []
    for off, kind in enumerate(kinds):
        if kind == "media":
            spans.append({"kind": "media", "text": None,
                          "media_ref": next(mi), "offset": off})
        else:
            spans.append({"kind": "text", "text": next(ti),
                          "media_ref": None, "offset": off})
    rng.shuffle(spans)  # stored order != reading order
    return spans


def scan_documents(seed: int, batch, n_docs: int, total_pages: int) -> list[dict]:
    """A scanned archive: media-heavy documents (about two media spans
    per short caption/heading text span), page counts skewed with a
    lognormal body and a few documents at 50-100x the median, and
    ``REUSE_SHARE`` of all media spans re-referencing a page image that
    belongs to another document (duplicate scans)."""
    rng = random.Random(f"scan:{seed}:{batch}")
    n_heavy = n_docs // 75
    median = 4
    counts = [max(1, min(40, round(rng.lognormvariate(1.3, 0.7))))
              for _ in range(n_docs)]
    heavy = rng.sample(range(n_docs), n_heavy)
    for i in heavy:
        counts[i] = median * rng.randint(50, 100)
    normal = [i for i in range(n_docs) if i not in set(heavy)]
    counts = _fixed_total(rng, counts, total_pages, normal)

    base = f"scan://s{seed}/b{batch}"
    refs = [[f"{base}/d{d:05d}/p{p:04d}.tif" for p in range(c)]
            for d, c in enumerate(counts)]
    # re-point a fixed share of media spans at another doc's page image
    flat = [(d, p) for d, c in enumerate(counts) for p in range(c)]
    for d, p in rng.sample(flat, round(REUSE_SHARE * len(flat))):
        while True:
            od = rng.randrange(n_docs)
            if od != d:
                break
        refs[d][p] = f"{base}/d{od:05d}/p{rng.randrange(counts[od]):04d}.tif"

    docs = []
    for d, media in enumerate(refs):
        n_text = max(1, len(media) // 2)
        texts = [_noisy(rng, _words(rng, rng.randint(2, 8)), 0.25)
                 for _ in range(n_text)]
        doc_id = f"scan-{seed}-{batch}-{d:05d}"
        docs.append({"doc_id": doc_id,
                     "spans": _interleave(rng, media, texts)})
    return docs


def backlog_documents(seed: int, batch, n_docs: int, total_spans: int) -> list[dict]:
    """A born-digital backlog: text-heavy documents of long text spans
    with whitespace noise (and some whitespace-only spans), about
    ``MEDIA_SHARE`` media spans, every media_ref unique."""
    rng = random.Random(f"backlog:{seed}:{batch}")
    counts = [max(1, round(rng.lognormvariate(2.0, 0.5))) for _ in range(n_docs)]
    counts = _fixed_total(rng, counts, total_spans, list(range(n_docs)))
    n_media = round(MEDIA_SHARE * total_spans)
    flat = [(d, s) for d, c in enumerate(counts) for s in range(c)]
    media_at = set(rng.sample(flat, n_media))
    docs = []
    for d, c in enumerate(counts):
        doc_id = f"backlog-{seed}-{batch}-{d:05d}"
        media, texts = [], []
        for s in range(c):
            if (d, s) in media_at:
                media.append(f"born://{doc_id}/fig{s:03d}.png")
            elif rng.random() < 0.05:
                texts.append(rng.choice(_NOISE) * rng.randint(1, 3))
            else:
                texts.append(_noisy(rng, _words(rng, rng.randint(40, 120)), 0.5))
        docs.append({"doc_id": doc_id,
                     "spans": _interleave(rng, media, texts)})
    return docs


def write_documents(docs: list[dict], path: str) -> None:
    pq.write_table(pa.Table.from_pylist(docs, schema=DOC_SCHEMA), path)


def request_payloads(seed: int, tag: str, n: int) -> list[tuple[str, str]]:
    """Reference-shaped submissions ``{"engine": 1, "images": {name: url}}``
    with 1-32 pages, skewed toward small, and about ``BAD_EXT_SHARE`` of
    the pages carrying a disallowed file extension.  The first page of
    every request is allowed, so every request yields at least one doc."""
    rng = random.Random(f"requests:{seed}:{tag}")
    out = []
    for r in range(n):
        rid = f"req-{seed}-{tag}-{r:04d}"
        n_pages = min(32, 1 + int(rng.expovariate(1 / 4.0)))
        images = {}
        for p in range(n_pages):
            bad = p > 0 and rng.random() < BAD_EXT_SHARE
            ext = rng.choice(DISALLOWED_EXT if bad else ALLOWED_EXT)
            images[f"page_{p:02d}.{ext}"] = (
                f"https://archive.example.org/{rid}/{p:02d}.{ext}"
            )
        out.append((rid, json.dumps({"engine": 1, "images": images})))
    return out
