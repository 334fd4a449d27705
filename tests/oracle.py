"""Pure-Python reference oracle for the doc-read extraction semantics.

Reimplements the reference decoder behavior verbatim (per-document, plain
Python — no Spark), used by every extraction test for exact span-sequence
comparison (kind, text, media_ref, order):

- sample validity gate                 ref src/chug/wds/tariterators.py:53
- annotation json decode + flatten     ref src/chug/doc/doc_processor.py:184-190
- get_next_valid_page_index            ref src/chug/doc/doc_processor.py:18-45
  (wraparound, ≤10 retries, KeyError on missing text key)
- page-sampling policies               ref src/chug/doc/doc_read_processor.py:52-68
  random / first / all_valid / all, incl. all_valid wraparound duplicates and
  the mid-loop ``except RuntimeError: pass``
- 'lines'-nested anno unwrap           ref doc_read_processor.py:82-111
- empty-page raise in text assembly    ref doc_read_processor.py:118-119
- line join with line_break            ref doc_read_processor.py:121
- media decode: first media member, index wrap p % num_pages
                                       ref doc_processor.py:199-217, wds/decode.py:65
- whole-sample skip on any error       ref wds/helpers.py:41-68

Deviations (engine contract, mirrored on both sides — SURVEY.md §7.2.7):
- stochastic choices keyed on (doc_id, seed) via chug_spark.determinism
  (schedule-independent) instead of worker-seeded RNG streams;
- raw input 'text' spans pass through (cleaned) interleaved at their input
  positions — the span-table analogue of sample members the tuple projection
  would otherwise drop.
"""

from __future__ import annotations

import json
import re

from chug_spark import media as media_mod
from chug_spark.config import VALID_PAGE_RETRIES
from chug_spark.determinism import doc_rand_below


def clean_text(s: str) -> str:
    s = re.sub(r"[\x00-\x08\x0b\x0c\x0e-\x1f]", "", s)
    s = re.sub(r"\s+", " ", s)
    return s.strip()


def _page_lines(page):
    """Effective text list: ``lines.text`` when a 'lines' branch exists, else
    top-level ``text`` — raises KeyError when the effective value is
    absent or null (ref doc_processor.py:40-43).

    Engine-contract note (mirrored by extract.py:_prepare): Spark's from_json
    conflates an absent key with an explicit JSON ``null``, so the engine
    defines null == missing on both branches.  The reference would treat an
    explicit ``"text": null`` as a falsy page to skip rather than a KeyError —
    a shape its corpora never produce; we document the deviation here and
    keep both sides of THIS engine exactly aligned."""
    if not isinstance(page, dict):
        raise KeyError("text")
    lines = page.get("lines")
    if lines is not None:
        if not isinstance(lines, dict):
            raise KeyError("text")
        v = lines.get("text")
    else:
        v = page.get("text")
    if v is None:
        raise KeyError("text")
    return v


def next_valid_page_index(cur: int, num_pages: int, pages: list) -> int:
    for _ in range(VALID_PAGE_RETRIES):
        cur = (cur + 1) % num_pages
        if _page_lines(pages[cur]):
            return cur
    raise RuntimeError("no non-empty page found")


def select_page_indices(doc_id: str, pages: list, page_sampling: str, seed: int) -> list[int]:
    n = len(pages)
    idx: list[int] = []
    try:
        if page_sampling == "random":
            start = doc_rand_below(doc_id, seed, n, tag="page") - 1
            idx = [next_valid_page_index(start, n, pages)]
        elif page_sampling == "first":
            idx = [next_valid_page_index(-1, n, pages)]
        elif page_sampling == "last":
            # literal last page (ref wds/decode.py:228-231 page_indices=[-1]):
            # no valid-page scan; missing text key still errors the doc
            _page_lines(pages[-1])
            idx = [n - 1]
        elif page_sampling == "all_valid":
            cur = -1
            for _ in range(n):
                cur = next_valid_page_index(cur, n, pages)
                idx.append(cur)
        elif page_sampling == "all":
            idx = list(range(n))
        else:
            raise ValueError(page_sampling)
    except RuntimeError:
        pass
    return idx


def extract_doc(
    doc_id: str,
    spans: list[dict],
    page_sampling: str = "all_valid",
    seed: int = 0,
    line_break: str = "\n",
    image_mode: str = "L",
    render_dpi: int = 150,
):
    """Extract one document → (output_spans, error).

    output_spans: list of (kind, text, media_ref, offset); None when skipped.
    error: (stage, message) or None.
    """
    if not spans:
        return None, None  # valid_sample gate: silently dropped

    ss = sorted(spans, key=lambda s: s["offset"])
    annos = [s for s in ss if s["kind"] == "anno"]
    medias = [s for s in ss if s["kind"] == "media"]
    texts = [s for s in ss if s["kind"] == "text"]

    if not annos:
        return None, ("anno", "no_annotation")
    anchor = annos[0]["offset"]
    try:
        parsed = json.loads(annos[0]["text"])
    except Exception:
        return None, ("anno", "anno_parse")
    pages = parsed.get("pages") if isinstance(parsed, dict) else None
    if not isinstance(pages, list):
        return None, ("anno", "anno_parse")
    if len(pages) == 0:
        return None, ("anno", "empty_annotation")

    try:
        indices = select_page_indices(doc_id, pages, page_sampling, seed)
    except KeyError:
        return None, ("anno", "missing_text_key")

    if page_sampling == "all":
        # text assembly raises on the first empty/missing page
        # (doc_read_processor.py:118-119) → whole-sample skip
        for p in pages:
            try:
                lines = _page_lines(p)
            except KeyError:
                return None, ("anno", "missing_text_key")
            if not lines:
                return None, ("anno", "empty_page_in_all")

    if not indices:
        return None, ("anno", "no_valid_pages")
    if not medias:
        return None, ("anno", "no_page_images")

    # media pages: first media member wins (doc_processor.py:216-217 break);
    # synthetic payload decodes, otherwise ordered media spans are the pages
    first_media = medias[0]["media_ref"]
    if media_mod.is_payload_ref(first_media):
        try:
            refs, _ = media_mod.decode_media_pages(
                first_media, image_mode=image_mode,
                page_indices=indices, render_dpi=render_dpi,
            )
        except Exception as exn:
            return None, ("media", f"media_decode:{type(exn).__name__}")
    else:
        n_media = len(medias)
        refs = [medias[p % n_media]["media_ref"] for p in indices]

    out = []  # (anchor, sub, kind, text, media_ref)
    for k, page_idx in enumerate(indices):
        lines = _page_lines(pages[page_idx])
        out.append((anchor, 2 * k, "text", line_break.join(lines), None))
        out.append((anchor, 2 * k + 1, "media", None, refs[k]))
    for t in texts:
        out.append((t["offset"], 0, "text", clean_text(t["text"]), None))

    out.sort(key=lambda r: (r[0], r[1]))
    return [
        (kind, text, media_ref, i)
        for i, (_, _, kind, text, media_ref) in enumerate(out)
    ], None


def extract_corpus(doc_rows, **kw):
    """Extract a list of (doc_id, spans) rows → (dict doc_id → spans, errors).

    ``spans`` values are lists of (kind, text, media_ref, offset).
    errors: list of (doc_id, stage, message).
    """
    out, errors = {}, []
    for doc_id, spans in doc_rows:
        span_dicts = [dict(s) if not isinstance(s, dict) else s for s in spans or []]
        result, err = extract_doc(doc_id, span_dicts, **kw)
        if err is not None:
            errors.append((doc_id, err[0], err[1]))
        elif result is not None:
            out[doc_id] = result
    return out, errors
