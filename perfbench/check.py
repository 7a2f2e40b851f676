"""Output checks: an independent pure-Python extraction, and a doc-by-doc
comparison of a finished job's outputs against it.

The expected spans come from the generated input tables alone, through the
pure-Python cores the tests use (``tests/oracle.py`` normalisation and PII
helpers, ``extract_main_content_py``, ``extract_docx_py`` /
``extract_pptx_py``); no Spark code runs here.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

from tests.oracle import anonymize, norm, strip_md
from text_extract_api_spark.extractors.html import extract_main_content_py
from text_extract_api_spark.extractors.office import extract_docx_py, extract_pptx_py
from text_extract_api_spark.pipeline import PAGE_SEP
from text_extract_api_spark.schema import MEDIA_KINDS


def page_is_valid(payload: bytes | None) -> bool:
    """The media verdict for the generated (non-image) page payloads: an
    empty payload or the md5 bit-rot stub (hex digest starting with 'f')
    is quarantined."""
    return bool(payload) and not hashlib.md5(payload).hexdigest().startswith("f")


def expected_spans(spans, pdf_text: dict[str, str], office: dict[str, bytes]):
    """Input spans of one doc → the extracted (kind, text, media_ref, offset)
    tuples in offset order."""
    out = []
    for kind, text, ref, offset in sorted(spans, key=lambda s: s[3]):
        if kind in ("text", "pii_text"):
            t = norm(text)
        elif kind == "markdown":
            t = strip_md(text)
        elif kind == "html":
            t = norm(extract_main_content_py(text))
        elif kind == "pdf":
            t = pdf_text.get(ref, "")
        elif kind == "docx":
            t = norm(extract_docx_py(office.get(ref, b"")))
        elif kind == "pptx":
            t = norm(extract_pptx_py(office.get(ref, b"")))
        else:
            t = ""
        out.append((kind, anonymize(t), ref if kind in MEDIA_KINDS else "", offset))
    return out


def pdf_texts(media_rows) -> dict[str, str]:
    """(media_ref, page_no, page_text, payload) rows → surviving pages of
    each media_ref joined in page order."""
    pages: dict[str, list] = {}
    for ref, page_no, text, payload in media_rows:
        if page_is_valid(payload):
            pages.setdefault(ref, []).append((page_no, text))
    return {ref: PAGE_SEP.join(t for _, t in sorted(p)) for ref, p in pages.items()}


def digest(spans) -> str:
    return hashlib.md5(repr([tuple(s) for s in spans]).encode()).hexdigest()


def check_job(out_dir: str, expected: dict[str, str], quarantined: int, summary: dict) -> dict:
    """Compare one job's written outputs with the expected digests.

    Counts as failed every doc that is missing, duplicated, or whose span
    sequence differs; a wrong quarantine count fails the run as a whole."""
    import pyarrow.dataset as ds

    res = ds.dataset(os.path.join(out_dir, "results"), format="parquet",
                     partitioning="hive").to_table(columns=["doc_id", "spans"])
    seen = Counter()
    bad = set()
    for doc_id, spans in zip(res.column("doc_id").to_pylist(),
                             res.column("spans").to_pylist()):
        seen[doc_id] += 1
        got = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
        if expected.get(doc_id) != digest(got):
            bad.add(doc_id)
    bad |= {d for d, n in seen.items() if n != 1}
    bad |= set(expected) - set(seen)
    n_quarantine = ds.dataset(os.path.join(out_dir, "quarantine"),
                              format="parquet").count_rows()
    for sub in ("cache", "progress"):
        if not os.path.isdir(os.path.join(out_dir, sub)):
            raise RuntimeError(f"job wrote no {sub} table")
    return {
        "attempted": len(expected),
        "failed": len(bad),
        "quarantine_ok": n_quarantine == quarantined == summary.get("quarantined"),
    }
