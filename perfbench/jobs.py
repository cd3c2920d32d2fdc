"""One operation of each benchmarked job.

Each function makes the same sequence of public calls that
``pipeline.main --job <name>`` makes, inside the caller's long-lived
session, and wraps every call in ``span(name)`` so a traced run can
attribute time and Spark jobs to it. ``SPANS`` lists every span of each
job with its two flags; the caller looks the flags up there, so a span
missing from the table fails the run instead of dropping out of the
per-layer metrics.

Each returns the written output directories by oracle name, plus the
counts the traced run reports.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_ocr_comparison_tool_spark import synth
from pdf_ocr_comparison_tool_spark.operators import dedup, textstats
from pdf_ocr_comparison_tool_spark.plans import skew
from pdf_ocr_comparison_tool_spark.sources import checkpoint

EXTRACT_PARTS = 64

# job -> span name -> (action, executes). ``action`` marks the writes
# and read-backs (the job's final actions); every other call is query
# construction, including the jobs an eager checkpoint or an iterative
# loop fires before the call returns. Every span reports call_s and
# jobs; spans that run the executors (``executes``) also report exec_s,
# shuffle_mb and spill_mb.
SPANS = {
    "extract": {
        "synth.spans_df": (False, False),
        "skew.salted_repartition": (False, False),
        "checkpoint.run_extraction_job": (True, True),
        "checkpoint.committed_parts": (False, False),
        "extract.lineage_stats": (True, True),
    },
    "dedup": {
        "synth.load_table": (False, False),
        "dedup.with_minhash": (False, False),
        "dedup.lsh_candidate_pairs": (False, False),
        "dedup.verified_near_dups": (False, False),
        "dedup.connected_components": (False, True),
        "textstats.quality_score": (False, False),
        "dedup.keep_best_in_cluster": (False, False),
        "dedup.write_keep": (True, True),
        "dedup.cluster_size_stats": (False, False),
        "dedup.write_cluster_stats": (True, True),
        "dedup.minhash_calibration": (False, False),
        "dedup.write_calibration": (True, True),
        "dedup.read_back": (True, True),
    },
}


def _shuffle_partitions(spark) -> int:
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def extract(spark, sf_dir: str, out: str, run_id: str, span) -> dict:
    with span("synth.spans_df"):
        docs = synth.spans_df(spark, sf_dir)
    with span("skew.salted_repartition"):
        docs = skew.salted_repartition(docs, _shuffle_partitions(spark))
    with span("checkpoint.run_extraction_job"):
        done = checkpoint.run_extraction_job(
            spark, docs, out, run_id=run_id, n_parts=EXTRACT_PARTS
        )
    with span("checkpoint.committed_parts"):
        lineage = checkpoint.committed_parts(spark, out)
    with span("extract.lineage_stats"):
        lineage.agg(
            F.sum("n_docs").alias("docs"), F.sum("n_spans").alias("spans")
        ).collect()
    return {
        "outputs": {"extract_spans": f"{out}/data"},
        "counts": {
            "checkpoint.parts_committed": done,
            "checkpoint.parts_total": EXTRACT_PARTS,
        },
    }


def dedup_job(spark, sf_dir: str, out: str, run_id: str, span) -> dict:
    with span("synth.load_table"):
        docs = synth.load_table(spark, sf_dir, "documents").repartition(
            _shuffle_partitions(spark)
        )
    with span("dedup.with_minhash"):
        withsig = dedup.with_minhash(docs).cache()
    with span("dedup.lsh_candidate_pairs"):
        pairs = dedup.lsh_candidate_pairs(withsig)
    with span("dedup.verified_near_dups"):
        verified = dedup.verified_near_dups(withsig, pairs)
    with span("dedup.connected_components"):
        clusters = dedup.connected_components(verified.select("a", "b"))
    with span("textstats.quality_score"):
        scores = textstats.quality_score(docs, textstats.quality_model_dim(spark))
    with span("dedup.keep_best_in_cluster"):
        keep = dedup.keep_best_in_cluster(clusters, scores)
    with span("dedup.write_keep"):
        keep.write.mode("overwrite").parquet(f"{out}/dedup_keep")
    with span("dedup.cluster_size_stats"):
        stats = dedup.cluster_size_stats(clusters)
    with span("dedup.write_cluster_stats"):
        stats.write.mode("overwrite").parquet(f"{out}/cluster_stats")
    with span("dedup.minhash_calibration"):
        calib = dedup.minhash_calibration(docs, withsig=withsig)
    with span("dedup.write_calibration"):
        calib.write.mode("overwrite").parquet(f"{out}/calibration")
        withsig.unpersist()
    with span("dedup.read_back"):
        written = spark.read.parquet(f"{out}/dedup_keep")
        clustered = written.count()
        kept = written.filter(F.col("keep_best")).count()
    return {
        "outputs": {
            "dedup_keep_best": f"{out}/dedup_keep",
            "dup_cluster_stats": f"{out}/cluster_stats",
            "minhash_calibration": f"{out}/calibration",
        },
        "counts": {
            "dedup.keep_frac": kept / clustered if clustered else 0.0,
            "dedup.clustered_docs": clustered,
        },
    }


JOBS = {"extract": extract, "dedup": dedup_job}
