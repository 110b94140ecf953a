"""Output checks against the pure-Python oracle (``oracle.extract_spans``).

Every check returns a list of human-readable mismatch descriptions; an
empty list means the output is correct.  Checks run outside the timed
spans.
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

from pero_ocr_api_spark.constants import (
    ERROR_STATES,
    PINNED_NOW,
    STATE_PROCESSED,
)
from pero_ocr_api_spark.oracle import extract_spans
from pero_ocr_api_spark.plans.ingest import ALLOWED_IMAGE_EXTENSIONS, EXT_RE

_EXT = re.compile(EXT_RE)
_SCORE_TOL = 1e-9


def oracle_docs(docs: list[dict]) -> dict[str, tuple[list, float, str]]:
    """doc_id → (ordered spans [(order, kind, text, media_ref)], score,
    status) for generated documents."""
    return {
        d["doc_id"]: extract_spans(
            [(s["offset"], s["kind"], s["text"], s["media_ref"]) for s in d["spans"]]
        )
        for d in docs
    }


def _group_spans(span_rows: list[dict]) -> dict[str, list[tuple]]:
    by_doc = defaultdict(list)
    for r in span_rows:
        by_doc[r["doc_id"]].append(
            (r["order"], r["kind"], r["text"], r["media_ref"])
        )
    return {k: sorted(v) for k, v in by_doc.items()}


def check_docs(expected: dict, span_rows: list[dict] | None,
               doc_rows: list[dict], txt_rows: list[dict] | None = None) -> list[str]:
    """Compare extracted spans (order, kind, text, media_ref), per-doc
    score and status, and the TXT artifact with the oracle; ``None``
    skips the spans or TXT comparison."""
    bad = []
    got_spans = _group_spans(span_rows or [])
    got_docs = {r["doc_id"]: (r["score"], r["status"]) for r in doc_rows}
    if len(doc_rows) != len(got_docs):
        bad.append(f"{len(doc_rows) - len(got_docs)} duplicate doc rows")
    if set(got_docs) != set(expected):
        bad.append(
            f"doc set differs: {len(set(expected) - set(got_docs))} missing, "
            f"{len(set(got_docs) - set(expected))} unexpected"
        )
    stray = set(got_spans) - set(expected)
    if stray:
        bad.append(f"spans for {len(stray)} unknown docs")
    got_txt = None
    if txt_rows is not None:
        got_txt = {r["doc_id"]: r["txt"] for r in txt_rows}
        if len(got_txt) != len(txt_rows) or not set(got_txt) <= set(expected):
            bad.append("TXT artifacts duplicated or for unknown docs")
    for doc_id, (ordered, score, status) in expected.items():
        if span_rows is not None and got_spans.get(doc_id, []) != ordered:
            bad.append(f"{doc_id}: spans differ")
        got = got_docs.get(doc_id)
        if got is not None and (
            abs(got[0] - score) > _SCORE_TOL or got[1] != status
        ):
            bad.append(f"{doc_id}: (score, status) {got} != {(score, status)}")
        if got_txt is not None:
            want = "\n".join(t for (_, _, t, _) in ordered) if ordered else None
            if got_txt.get(doc_id) != want:
                bad.append(f"{doc_id}: TXT artifact differs")
    return bad[:20]


def page_id(request_id: str, name: str) -> str:
    """Python twin of ``plans.ingest._page_id``."""
    h = hashlib.sha256
    inner = h(request_id.encode()).hexdigest() + h(name.encode()).hexdigest()
    return h(inner.encode()).hexdigest()


def request_oracle(request_id: str, images: dict[str, str]) -> dict:
    """Expected docs, TXT artifacts and completion row of one request."""
    docs, pages = {}, []
    for name, url in images.items():
        m = _EXT.search(url)
        ext = m.group(1).lower() if m else ""
        if ext not in ALLOWED_IMAGE_EXTENSIONS:
            pages.append(("INVALID_FILE", None))
            continue
        ordered, score, status = extract_spans([(0, "media", None, url)])
        docs[page_id(request_id, name)] = (ordered, score, status)
        pages.append((status, score))
    processed = [s for st, s in pages if st == STATE_PROCESSED]
    terminal = [st for st, _ in pages if st == STATE_PROCESSED or st in ERROR_STATES]
    completion = {
        "n_total": len(pages),
        "n_terminal": len(terminal),
        "done": len(terminal) == len(pages),
        "avg_quality": round(sum(processed) / len(processed), 6) if processed else None,
        "finish_ts": PINNED_NOW if len(terminal) == len(pages) else None,
    }
    return {"docs": docs, "completion": completion}


def check_request(expected: dict, doc_rows: list[dict], txt_rows: list[dict],
                  completion_rows: list[dict]) -> list[str]:
    """Docs (score, status), TXT artifacts and the completion row of one
    request; the spans themselves are covered by the TXT comparison."""
    bad = check_docs(expected["docs"], None, doc_rows, txt_rows)
    if len(completion_rows) != 1:
        return bad + [f"{len(completion_rows)} completion rows"]
    want = expected["completion"]
    got = {k: completion_rows[0][k] for k in want}
    if (got["avg_quality"] is None) != (want["avg_quality"] is None) or (
        want["avg_quality"] is not None
        and abs(got["avg_quality"] - want["avg_quality"]) > _SCORE_TOL
    ):
        bad.append(f"avg_quality {got['avg_quality']} != {want['avg_quality']}")
    got["avg_quality"] = want["avg_quality"]
    if got != want:
        bad.append(f"completion {got} != {want}")
    return bad
