"""Media-branch "inference" stage — the Spark stand-in for the
reference's PageParser pipeline (layout → line crop → CTC OCR →
optional LM decode; /root/reference/processing_client/run_client.py:184-185,
config knobs /root/reference/app/db/model.py:167-194).

The real pipeline is GPU model inference; this sandbox has no models,
so the stage is a *deterministic pure function of media_ref* (md5-based,
constants.py) — but the Spark plumbing is the real thing:

- spans arrive as Arrow record batches (one Python crossing per
  batch, never per row), and the engine sees each distinct
  ``media_ref`` of a batch once (``_infer_distinct``); its result is
  expanded back to every span that names the page.  Two wrappers feed
  it: ``make_infer_fn`` (``mapInPandas`` over one row per media span,
  the salted plan) and ``make_infer_lines_fn`` (a scalar ``arrow_udf``
  over each document's list of media spans, the unsalted plan);
- the "engine" is a module-level lazy singleton initialised from a
  broadcast config, exactly how real weights would be shipped
  (reference analog: per-worker engine zip cache, run_client.py:44-67);
- row-level failures are caught into an ``error`` column, never thrown
  (run_client.py:150-202 error taxonomy); the pipeline counts them
  with ``DataFrame.observe`` on this stage's output;
- the engine double-buffers its emulated device: the task thread does
  the host work of the next device call while the lane's one device
  thread runs the current one, so a batch costs about max(host,
  device) plus one call rather than their sum.  The task thread waits
  until each call has started before it goes back to host work, so a
  call never waits for the GIL.  Device calls stay serial, one device
  per Python worker.

Output of one media span with L surviving lines is L rows
(doc_id, offset, line_idx, text, conf, error=NULL); a failed span is
one row with error set and text NULL.  The per-document wrapper
returns the same rows without doc_id, as each document's list.
"""

from __future__ import annotations

import hashlib
import threading
import time
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from itertools import accumulate
from typing import Optional

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from ..constants import (
    ARABIC_BASE_CP,
    ARABIC_MOD,
    CONF_MOD,
    ERROR_MOD,
    MAX_LINES,
    STATE_INVALID_FILE,
    STATE_NOT_FOUND,
    STATE_PROCESSING_FAILED,
)

INFER_SCHEMA = (
    "doc_id string, offset int, media_ref string, line_idx int, "
    "text string, conf double, error string"
)

# the per-document wrapper's output: one list of line rows per document
LINES_SCHEMA = (
    "array<struct<offset:int, media_ref:string, line_idx:int, "
    "text:string, conf:double, error:string>>"
)
_LINE_FIELDS = [
    pa.field("offset", pa.int32()), pa.field("media_ref", pa.string()),
    pa.field("line_idx", pa.int32()), pa.field("text", pa.string()),
    pa.field("conf", pa.float64()), pa.field("error", pa.string()),
]

_ERROR_BY_CODE = {0: STATE_NOT_FOUND, 1: STATE_INVALID_FILE, 2: STATE_PROCESSING_FAILED}


def _hexval(c: str) -> int:
    o = ord(c)
    return o - 87 if o >= 97 else o - 48


def stub_infer_one(
    media_ref: Optional[str],
) -> tuple[Optional[str], list[tuple[int, str, float]]]:
    """Deterministic per-media inference: (error, [(line_idx, stored_text,
    conf)]).  ``stored_text`` is the raw model output — Arabic lines come
    out in visual (reversed) order, like the reference's pre-normalization
    transcriptions (run_client.py:218-220).  A NULL ref names no page, so
    its fetch fails: NOT_FOUND (SURVEY X9).  Shared verbatim by the
    pure-Python oracle and mirrored by the DuckDB oracle SQL (whose
    synthesized spans never have a NULL ref)."""
    if media_ref is None:
        return STATE_NOT_FOUND, []
    h = hashlib.md5(media_ref.encode()).hexdigest()
    code = (ord(h[0]) * 16 + ord(h[1])) % ERROR_MOD
    if code in _ERROR_BY_CODE:
        return _ERROR_BY_CODE[code], []
    n_lines = 1 + ord(h[2]) % MAX_LINES
    lines = []
    for i in range(1, n_lines + 1):
        g = hashlib.md5(f"{media_ref}:{i}".encode()).hexdigest()
        conf = ((ord(g[0]) * 16 + ord(g[1])) % CONF_MOD) / 100.0
        if ord(g[2]) % ARABIC_MOD == 0:
            logical = "ar-" + "".join(chr(ARABIC_BASE_CP + _hexval(c)) for c in g[:4])
            stored = logical[::-1]
        else:
            stored = "line-" + g[:8]
        lines.append((i, stored, conf))
    return None, lines


# emulated page size range (megapixels): deterministic per media_ref,
# downsample-capped at MAX_MEGAPIXELS exactly like the reference's
# layout-inference cap (/root/reference/app/db/model.py:188-192)
MAX_MEGAPIXELS = 5.0
_MP_REF = 2.75  # midpoint of the emulated [0.5, 5.0] range


def page_megapixels(media_ref: str) -> float:
    """Deterministic emulated image size in megapixels ∈ [0.5, 5.0]
    (post-downsample: the reference rescales anything over
    MAX_MEGAPIXELS before inference, model.py:188-192)."""
    h = hashlib.md5((media_ref + ":mp").encode()).hexdigest()
    raw = 0.5 + (int(h[:4], 16) % 1000) / 1000.0 * 9.5  # [0.5, 10.0)
    return min(raw, MAX_MEGAPIXELS)


class _StubEngine:
    """Per-executor model singleton.  A real deployment loads broadcast
    weights here once and reuses them across every Arrow batch the
    executor sees (never re-pickled per batch).

    Emulated inference cost (bench/scaling only; NEVER affects output —
    results are a pure function of media_ref either way):
    - ``config['work_sleep_ms']`` — single-page device-call latency.
      Real pero-ocr inference is GPU-bound PyTorch (GPU_FRACTION=0.5,
      /root/reference/app/db/model.py:192): the executor CPU mostly
      waits on the accelerator, so latency is the honest model of the
      production bottleneck.
    - ``config['batch_pages']`` (default 1) — device micro-batching:
      pages within an Arrow batch are grouped onto emulated device
      calls of up to this many pages, additionally capped by
      ``config['batch_megapixels']`` (default 40.0) total image area —
      the reference's PageParser batches line crops onto the GPU the
      same way (run_client.py:184-185) under the MAX_MEGAPIXELS cap.
      A device call with pages totalling M megapixels sleeps
        work_sleep_ms × (1 − frac)            # fixed call overhead
        + work_sleep_ms × frac × (M / 2.75)   # area-proportional compute
      with ``frac = config['batch_marginal_frac']`` (default 0.2), so a
      single average page still costs exactly work_sleep_ms (the r4
      serial shape) while a full 16-page batch costs ~4ms/page — the
      overhead-amortization curve of a real accelerator.
    - ``config['work_iters']`` — per-page CPU md5 chains (the pre/post
      processing share; ~0.5 µs per chain).
    ``infer_batch`` walks the call plan in order: it does a call's host
    work on the task thread, then hands the call to a single device
    thread, so host work for call k+1 overlaps call k on the device.  A
    batch costs about max(host, device) plus one call; device calls
    never overlap each other.  The task thread resumes host work only
    once the device thread has started the call it handed over.  An
    engine with no device time starts no thread.
    The md5 stub alone is ~10 µs/page — any scaling measurement without
    these knobs measures scheduler overhead, not pipeline parallelism."""

    def __init__(self, config: dict):
        self.config = config
        self.work_iters = int(config.get("work_iters", 0))
        self.work_sleep_ms = float(config.get("work_sleep_ms", 0.0))
        self.batch_pages = max(1, int(config.get("batch_pages", 1)))
        self.batch_megapixels = float(config.get("batch_megapixels", 40.0))
        self.batch_marginal_frac = float(
            config.get("batch_marginal_frac", 0.2)
        )

    def _burn(self, seed: str) -> None:
        h = seed.encode()
        for _ in range(self.work_iters):
            h = hashlib.md5(h).digest()

    def plan_device_batches(self, refs: list[str]) -> list[list[str]]:
        """Greedy micro-batch assembly: close a device call at
        batch_pages pages OR when adding the next page would blow the
        megapixel budget (a single over-budget page still ships alone —
        it was already downsample-capped)."""
        if self.batch_pages <= 1:
            return [[r] for r in refs]
        calls: list[list[str]] = []
        cur: list[str] = []
        cur_mp = 0.0
        for r in refs:
            mp = page_megapixels(r)
            if cur and (
                len(cur) >= self.batch_pages
                or cur_mp + mp > self.batch_megapixels
            ):
                calls.append(cur)
                cur, cur_mp = [], 0.0
            cur.append(r)
            cur_mp += mp
        if cur:
            calls.append(cur)
        return calls

    def _device_call_ms(self, call: list[str]) -> float:
        if not self.work_sleep_ms:
            return 0.0
        if self.batch_pages <= 1:
            return self.work_sleep_ms * len(call)
        mp = sum(page_megapixels(r) for r in call)
        frac = self.batch_marginal_frac
        return self.work_sleep_ms * ((1.0 - frac) + frac * mp / _MP_REF)

    def _device_call(self, call: list[str]) -> None:
        time.sleep(self._device_call_ms(call) / 1000.0)

    def infer_batch(self, refs: pd.Series) -> list[tuple[Optional[str], list]]:
        out = [stub_infer_one(r) for r in refs]
        # a NULL ref fails before any page reaches the device
        pages = [r for r in refs if r is not None]
        if not self.work_sleep_ms:
            for r in pages:
                self._burn(r)
            return out
        # one device thread: calls stay serial, and none outlives the batch
        with ThreadPoolExecutor(max_workers=1) as device:
            running = None
            for call in self.plan_device_batches(pages):
                for r in call:
                    self._burn(r)
                if running is not None:
                    running.result()
                # wait until the call is on the device: the next call's
                # host work would otherwise hold the GIL for up to a
                # switch interval before the device thread could start
                started = threading.Event()
                running = device.submit(self._start_call, call, started)
                started.wait()
            if running is not None:
                running.result()
        return out

    def _start_call(self, call: list[str], started: threading.Event) -> None:
        started.set()
        self._device_call(call)


_ENGINE: Optional[_StubEngine] = None


def _get_engine(config: dict) -> _StubEngine:
    global _ENGINE
    if _ENGINE is None or _ENGINE.config != config:
        _ENGINE = _StubEngine(config)
    return _ENGINE


def _infer_distinct(engine: _StubEngine, refs: pd.Series) -> list:
    """The engine's (error, lines) for each ref of ``refs``, in order,
    from one ``infer_batch`` call over the distinct refs: drop_duplicates
    keeps each ref's first row in order of appearance, which is
    factorize's code order, and a NULL ref as None (factorize's own
    uniques would hold NaN)."""
    codes, _ = pd.factorize(refs, use_na_sentinel=False)
    distinct = engine.infer_batch(refs.drop_duplicates().reset_index(drop=True))
    return [distinct[c] for c in codes]


def make_infer_fn(broadcast_config):
    """Build the mapInPandas function.  ``broadcast_config`` is a
    ``Broadcast[dict]`` (engine id/version/thresholds)."""

    def infer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        engine = _get_engine(broadcast_config.value)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            refs = pdf["media_ref"]
            results = _infer_distinct(engine, refs)
            out_doc, out_off, out_ref, out_idx, out_text, out_conf, out_err = (
                [], [], [], [], [], [], [])
            for (doc_id, offset, ref), (err, lines) in zip(
                zip(pdf["doc_id"], pdf["offset"], refs), results
            ):
                if err is not None:
                    out_doc.append(doc_id); out_off.append(offset)
                    out_ref.append(ref); out_idx.append(0)
                    out_text.append(None); out_conf.append(None)
                    out_err.append(err)
                    continue
                for (idx, text, conf) in lines:
                    out_doc.append(doc_id); out_off.append(offset)
                    out_ref.append(ref); out_idx.append(idx)
                    out_text.append(text); out_conf.append(conf)
                    out_err.append(None)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="object"),
                    "offset": pd.Series(out_off, dtype="int32"),
                    "media_ref": pd.Series(out_ref, dtype="object"),
                    "line_idx": pd.Series(out_idx, dtype="int32"),
                    "text": pd.Series(out_text, dtype="object"),
                    "conf": pd.Series(out_conf, dtype="float64"),
                    "error": pd.Series(out_err, dtype="object"),
                }
            )

    return infer


def make_infer_lines_fn(broadcast_config):
    """Build the scalar ``arrow_udf`` function of the unsalted plan: one
    ``list<struct<offset, media_ref>>`` of media spans per document in,
    that document's ``LINES_SCHEMA`` rows out (a NULL or empty list
    gives an empty one).  The spans of the whole Arrow batch go to
    ``_infer_distinct`` together, so a page named by several documents
    of a batch is inferred once."""

    def infer_lines(media: pa.Array) -> pa.Array:
        engine = _get_engine(broadcast_config.value)
        spans = media.flatten()
        refs = spans.field("media_ref").to_pandas()
        results = _infer_distinct(engine, refs)
        rows, per_span = [], []
        for offset, ref, (err, lines) in zip(
            spans.field("offset").to_pylist(), refs, results
        ):
            if err is not None:
                rows.append((offset, ref, 0, None, None, err))
                per_span.append(1)
                continue
            rows.extend((offset, ref, idx, text, conf, None)
                        for idx, text, conf in lines)
            per_span.append(len(lines))
        cols = list(zip(*rows)) or [()] * len(_LINE_FIELDS)
        spans_per_doc = pc.fill_null(pc.list_value_length(media), 0).to_pylist()
        span_ends = list(accumulate(spans_per_doc, initial=0))
        row_ends = list(accumulate(per_span, initial=0))
        return pa.ListArray.from_arrays(
            pa.array([row_ends[e] for e in span_ends], pa.int32()),
            pa.StructArray.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, _LINE_FIELDS)],
                fields=_LINE_FIELDS,
            ),
        )

    return infer_lines
