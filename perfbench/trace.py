"""Traced layer run — each layer of the flagship job, timed on its own.

    python3 perfbench/trace.py --data DIR --job-out DIR --out DIR --result FILE [--snapshot DIR]

Runs in a fresh driver process, on the same session and tables as
``job.py``. It first runs the job itself, untraced, into ``--job-out`` as
``job.py`` does: the warm-up pass, then one timed pass, whose wall is the
end-to-end figure the layers are reconciled against. The host's speed is
calibrated before and after that pass and after the last layer
(``calib.py``). Then, in the same
warm JVM, it walks the job's layers one at a time through their
public functions. Each layer's input is materialised (persisted) before
its span starts, so a span covers that layer's work only. Spans (name,
start, end, process-tree CPU at both ends, counts) are kept in memory and
written once, at the end, to ``--result``. The layers' outputs land in
``--out`` exactly as the job writes them, so they pass the same output
check as the job's.

Layers, by module:

- ``io.read``: ``read_table`` + ``partitioning.repartition_by_size``.
- ``extractors.media``: ``validate_media_pages`` and the quarantine write.
- ``pipeline.hash``: ``with_content_hash``.
- ``pipeline.cache``: the cache probe, representative pick and span
  reattach of ``run_extract_pipeline``.
- ``extractors.text`` / ``html`` / ``pdf`` / ``office``: ``extract_spans_flat``
  over the representatives' spans of those kinds, with a registry holding
  only that leg's strategies (``text`` is the JVM when-chain: text,
  pii_text and markdown; kinds no strategy claims also land there).
- ``extractors.pii``: ``anonymize_col`` over all extracted text. It runs
  fused inside every leg in the job, so it is a child of the legs.
- ``pipeline.reassemble``: probe ``no_cache_pipeline`` (``run_extract_pipeline``
  without a cache) minus probe ``flat_no_cache`` (``extract_flat_no_cache``),
  both over the cache misses and both persisted; the first one's output,
  with the cache hits, is the results frame the write layer writes.
- ``io.write``: the results write with its in-flight observation.
- ``checkpoint``: cache append + ``write_progress``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import calib  # noqa: E402
import common  # noqa: E402

LEGS = {  # layer → strategies in its one-leg registry
    "extractors.html": ("html",),
    "extractors.pdf": ("pdf",),
    "extractors.office": ("docx", "pptx"),
    "extractors.text": ("text", "markdown"),
}
N_BUCKETS = 64  # jobs/spans_extract.py --n-buckets default
RUN_TS = "2026-01-01 00:00:00"


def run(args, cal) -> dict:
    """The untraced passes, then the traced layers; returns the passes, the
    spans and the quarantine count the layers wrote."""
    from pyspark.sql import functions as F

    from text_extract_api_spark.checkpoint import bucket_col, observe_extraction, write_progress
    from text_extract_api_spark.extractors.media import validate_media_pages
    from text_extract_api_spark.extractors.pii import anonymize_col
    from text_extract_api_spark.io import read_table, write_table
    from text_extract_api_spark.partitioning import repartition_by_size
    from text_extract_api_spark.pipeline import (
        extract_flat_no_cache,
        extract_spans_flat,
        run_extract_pipeline,
        with_content_hash,
    )
    from text_extract_api_spark.registry import StrategyRegistry, default_registry

    from job import run_passes, setup

    spark = setup(args.data)
    passes = run_passes(spark, cal, args.data, args.job_out, args.snapshot, 0)
    common.settle(spark)
    me = os.getpid()
    spans: list[dict] = []

    @contextmanager
    def span(name, parent=None):
        rec = {"name": name, "parent": parent, "t0": time.time(),
               "cpu0": common.tree_cpu_s(me)}
        yield rec
        rec["t1"] = time.time()
        rec["cpu1"] = common.tree_cpu_s(me)
        spans.append(rec)

    data = {t: os.path.join(args.data, t) for t in ("docs", "media", "office")}
    out = {t: os.path.join(args.out, t) for t in ("results", "cache", "progress", "quarantine")}
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    kind = F.col("kind")

    with span("io.read") as s:
        docs = repartition_by_size(
            read_table(spark, data["docs"]).withColumn(
                "bucket", bucket_col(F.col("doc_id"), N_BUCKETS)),
            shuffle_n,
        ).persist()
        n_docs = docs.count()
        office = read_table(spark, data["office"]).persist()
        office.count()
        media = read_table(spark, data["media"])
        s.update(rows_in=n_docs, rows_out=n_docs)

    with span("extractors.media") as s:
        validated = validate_media_pages(media).persist()
        write_table(
            validated.filter(~F.col("valid")).select("media_ref", "page_no", "reason")
            .coalesce(4), out["quarantine"], mode="overwrite",
        )
        pages = validated.count()
        quarantined = read_table(spark, out["quarantine"]).count()
        media_ok = validated.filter(F.col("valid")).select("media_ref", "page_no", "page_text")
        s.update(rows_in=pages, rows_out=pages - quarantined, pages=pages,
                 quarantined=quarantined)

    with span("pipeline.hash") as s:
        hashed = with_content_hash(docs).select("doc_id", "content_hash").persist()
        s.update(rows_in=n_docs, rows_out=hashed.count())

    cache = read_table(spark, out["cache"]) if os.path.isdir(out["cache"]) else None
    with span("pipeline.cache") as s:
        miss = hashed
        n_hits = 0
        if cache is not None:
            keys = cache.select("content_hash").dropDuplicates()
            n_hits = hashed.join(keys, "content_hash").count()
            miss = hashed.join(keys, "content_hash", "left_anti")
        reps = (
            miss.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
            .join(docs.select("doc_id", "spans"), "doc_id").persist()
        )
        n_reps = reps.count()
        rep_flat = reps.select(
            F.col("content_hash").alias("key"), F.explode("spans").alias("s")
        ).select("key", "s.kind", "s.text", "s.media_ref", "s.offset").persist()
        n_rep_spans = rep_flat.count()
        s.update(rows_in=n_docs, rows_out=n_reps, hit_frac=n_hits / n_docs,
                 rep_frac=n_reps / n_docs)

    registry = default_registry()
    claimed = [k for name, ss in LEGS.items() if name != "extractors.text"
               for st in ss for k in registry.get(st).kinds]
    sizes = {  # input MB per leg: inline text, pdf page text, office blob bytes
        "extractors.text": rep_flat.filter(~kind.isin(*claimed))
        .agg(F.sum(F.length("text"))).first()[0],
        "extractors.html": rep_flat.filter(kind == "html").agg(F.sum(F.length("text"))).first()[0],
        "extractors.pdf": rep_flat.filter(kind == "pdf").join(media_ok, "media_ref")
        .agg(F.sum(F.length("page_text"))).first()[0],
        "extractors.office": rep_flat.join(office, "media_ref")
        .agg(F.sum(F.length("payload"))).first()[0],
    }
    extracted = []
    for name, strategies in LEGS.items():
        one = StrategyRegistry()
        for st in strategies:
            one.register(registry.get(st))
        kinds = [k for st in strategies for k in registry.get(st).kinds]
        part = rep_flat.filter(~kind.isin(*claimed) if name == "extractors.text"
                               else kind.isin(*kinds))
        n_in = part.count()
        with span(name) as s:
            leg = extract_spans_flat(part, media_ok, office, one).persist()
            s.update(rows_in=n_in, rows_out=leg.count(), in_mb=(sizes[name] or 0) / 1e6)
        extracted.append(leg)

    union = extracted[0]
    for leg in extracted[1:]:
        union = union.unionByName(leg)
    with span("extractors.pii", parent="extractors") as s:
        union.select(anonymize_col(F.col("text")).alias("text")).write.format("noop") \
            .mode("overwrite").save()
        s.update(rows_in=n_rep_spans, rows_out=n_rep_spans)

    # the docs the job extracts from: every cache miss
    miss_docs = miss.join(docs, "doc_id").select("doc_id", "spans", "bucket")
    with span("probe.no_cache_pipeline", parent="probe") as s:
        computed = run_extract_pipeline(spark, miss_docs, media_ok, None, common.RUN_ID,
                                        office_blobs=office)[0].persist()
        s.update(rows_in=n_docs - n_hits, rows_out=computed.count())
    with span("probe.flat_no_cache", parent="probe") as s:
        flat = extract_flat_no_cache(spark, miss_docs, media_ok, office).persist()
        s.update(rows_in=n_docs - n_hits, rows_out=flat.count())
    flat.unpersist()

    # the job's results frame: fresh extractions plus cache hits
    results = computed
    if cache is not None:
        hits = hashed.join(
            cache.select("content_hash", "spans").dropDuplicates(["content_hash"]),
            "content_hash",
        ).select("doc_id", "content_hash", "spans", F.lit(common.RUN_ID).alias("run_id"),
                 F.lit(True).alias("from_cache"))
        results = results.unionByName(hits)
    results = results.withColumn(
        "bucket", bucket_col(F.col("doc_id"), N_BUCKETS)
    ).withColumn("wave", F.lit(0)).persist()
    results.count()

    with span("io.write") as s:
        observed, obs = observe_extraction(results, "wave_0")
        write_table(observed, out["results"], mode="overwrite", partition_by=["run_id", "wave"])
        s.update(rows_in=n_docs, rows_out=int(obs.get.get("docs") or 0))

    with span("checkpoint") as s:
        written = read_table(spark, out["results"]).filter(
            (F.col("run_id") == common.RUN_ID) & (F.col("wave") == 0))
        new_cache = (
            written.filter(~F.col("from_cache")).dropDuplicates(["content_hash"])
            .select("content_hash", "spans", F.lit(common.RUN_ID).alias("run_id"))
        )
        if cache is not None:
            new_cache = new_cache.join(cache.select("content_hash"), "content_hash", "left_anti")
        write_table(new_cache.coalesce(8), out["cache"], mode="append")
        write_progress(written, out["progress"], common.RUN_ID, RUN_TS,
                       milestone=("wave_0_extracted", obs.get))
        s.update(rows_in=n_docs)

    appended = read_table(spark, out["cache"]).filter(F.col("run_id") == common.RUN_ID).count()
    for rec in spans:
        if rec["name"] == "checkpoint":
            rec["rows_out"] = appended
        elif rec["name"] == "pipeline.cache":
            rec["append_rows"] = appended
    spark.stop()
    return {"passes": passes, "spans": spans, "summary": {"quarantined": quarantined}}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--job-out", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--snapshot")
    args = ap.parse_args()

    cal = calib.Calibrator(common.CORES)
    try:
        result = run(args, cal)
        result["end_cal"] = cal.measure()
    finally:
        cal.close()
    with open(args.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
