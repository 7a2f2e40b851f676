"""Seeded input generator — pure Python, runs before any timed job.

    python3 perfbench/gen.py --out DIR --seed N --docs N [--recrawl-frac F]

Writes under DIR the flagship job's input tables, in the shape
``synth.synthesize_interleaved_office`` produces (span rules from the
``tests/oracle.py`` mirror of it), from seeded word-salad documents:

- ``docs/``: (doc_id, spans array<struct<kind, text, media_ref, offset>>),
  text / html / markdown / pdf / image / pii_text spans, one docx or pptx
  span on a tenth of the docs, 5% exact duplicate payloads, 1% oversized;
- ``media/``: the pdf page store (media_ref, page_no, page_text, payload);
- ``office/``: OOXML blobs (media_ref, payload);
- ``snapshot/``: with ``--recrawl-frac``, the extraction cache a previous
  crawl of a seeded fraction of the docs left behind (content_hash, spans,
  run_id) — restored before each ``recrawl`` job;
- ``expected.json``: per-doc digest of the expected output spans, the
  expected quarantine count and the table sizes.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import check  # noqa: E402

from tests.oracle import synth_doc  # noqa: E402
from text_extract_api_spark.extractors.office import make_docx, make_pptx  # noqa: E402
from text_extract_api_spark.pipeline import RS, US  # noqa: E402
from text_extract_api_spark.synth import CHUNK, DUP_MOD, DUP_REM, MAX_SPANS  # noqa: E402

WORDS = (
    "a the data spark batch part line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream merge "
    "join vector customer"
).split()
FILES = 8  # files per table, so the scan is split like a real table's


def content_hash(spans) -> str:
    """Python twin of ``pipeline.content_hash_col``."""
    import hashlib

    payload = RS.join(US.join((k, t, m)) for k, t, m, _ in sorted(spans, key=lambda s: s[3]))
    return hashlib.md5(payload.encode()).hexdigest()


def build(seed: int, n_docs: int):
    rng = random.Random(seed)
    texts = [" ".join(rng.choices(WORDS, k=rng.randint(3, 110))) for _ in range(n_docs)]
    by_id = {i: (t, len(t)) for i, t in enumerate(texts)}
    docs, media, office = [], {}, {}
    for i, text in enumerate(texts):
        spans = synth_doc(i, text, len(text), by_id)
        eff = i - DUP_REM if i % DUP_MOD == DUP_REM and i >= DUP_REM else i
        src = texts[eff]
        for kind, _, ref, k in spans:
            if kind == "pdf":
                chunk = src[k * CHUNK:(k + 1) * CHUNK]
                for page_no, half in ((1, chunk[:CHUNK // 2]), (2, chunk[CHUNK // 2:])):
                    if half:
                        media[(ref, page_no)] = half
        if eff % 10 == 4:  # synth.synth_office_flat: docx on %20==4, else pptx
            ref = f"office://{eff}"
            kind = "docx" if eff % 20 == 4 else "pptx"
            spans.append((kind, "", ref, MAX_SPANS))
            if ref not in office:
                head = src[:CHUNK]
                office[ref] = make_docx([head]) if kind == "docx" else make_pptx([[head]])
        docs.append((str(i), spans))
    media_rows = [(r, p, t, t.encode()) for (r, p), t in sorted(media.items())]
    return docs, media_rows, sorted(office.items())


_SIDE: tuple = ({}, {})  # (pdf text by ref, office blob by ref), shared by fork


def _expect(spans):
    return check.expected_spans(spans, *_SIDE)


def write_parquet(rows: dict, schema, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(rows, schema=schema)
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // FILES)
    for f in range(FILES):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f:02d}.parquet"))


def main() -> None:
    import pyarrow as pa

    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--recrawl-frac", type=float, default=0.0)
    args = ap.parse_args()

    docs, media_rows, office = build(args.seed, args.docs)
    span_t = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                 ("media_ref", pa.string()), ("offset", pa.int32())]))

    def span_dicts(spans):
        return [dict(zip(("kind", "text", "media_ref", "offset"), s)) for s in spans]

    write_parquet(
        {"doc_id": [d for d, _ in docs], "spans": [span_dicts(s) for _, s in docs]},
        pa.schema([("doc_id", pa.string()), ("spans", span_t)]),
        os.path.join(args.out, "docs"),
    )
    write_parquet(
        dict(zip(("media_ref", "page_no", "page_text", "payload"), map(list, zip(*media_rows)))),
        pa.schema([("media_ref", pa.string()), ("page_no", pa.int32()),
                   ("page_text", pa.string()), ("payload", pa.binary())]),
        os.path.join(args.out, "media"),
    )
    write_parquet(
        {"media_ref": [r for r, _ in office], "payload": [b for _, b in office]},
        pa.schema([("media_ref", pa.string()), ("payload", pa.binary())]),
        os.path.join(args.out, "office"),
    )

    global _SIDE
    _SIDE = (check.pdf_texts(media_rows), dict(office))
    with multiprocessing.get_context("fork").Pool(common.CORES) as pool:
        expected = dict(zip((d for d, _ in docs),
                            pool.map(_expect, (s for _, s in docs), chunksize=500)))
    meta = {
        "docs": len(docs),
        "spans": sum(len(s) for _, s in docs),
        "media_pages": len(media_rows),
        "office_blobs": len(office),
        "quarantined": sum(not check.page_is_valid(p) for *_, p in media_rows),
        "digests": {d: check.digest(e) for d, e in expected.items()},
    }
    if args.recrawl_frac > 0:
        # the crawl that filled the cache saw a seeded subset of the docs;
        # its cache holds one row per distinct payload it extracted
        pick = random.Random(f"recrawl-{args.seed}")
        cache = {}
        for d, s in docs:
            if pick.random() < args.recrawl_frac:
                cache.setdefault(content_hash(s), expected[d])
        write_parquet(
            {"content_hash": list(cache), "spans": [span_dicts(s) for s in cache.values()],
             "run_id": ["crawl-0"] * len(cache)},
            pa.schema([("content_hash", pa.string()), ("spans", span_t), ("run_id", pa.string())]),
            os.path.join(args.out, "snapshot"),
        )
        meta["snapshot_rows"] = len(cache)
    with open(os.path.join(args.out, "expected.json"), "w") as f:
        json.dump(meta, f)


if __name__ == "__main__":
    main()
