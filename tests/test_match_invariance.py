"""Partition invariance of the full matching pipeline: identical best
matches regardless of input partitioning (the determinism requirement
extended beyond extraction)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_ocr_comparison_tool_spark import queries as Q
from pdf_ocr_comparison_tool_spark.operators import matching
from tests.conftest import SF_DIR


def _best_map(best):
    return {
        (r["doc_id"], r["page_num"]): (r["t_doc"], r["t_page"], r["sim"], r["status"])
        for r in best.collect()
    }


def test_match_best_partition_invariant(spark):
    v, r = Q._featured_roles(spark, SF_DIR)
    a = _best_map(matching.best_matches(v, matching.match_pages(v, r)))

    v2 = v.repartition(3)
    r2 = r.repartition(11, "doc_id")
    b = _best_map(matching.best_matches(v2, matching.match_pages(v2, r2)))
    assert a == b


def test_exact_dup_probe_gets_sim_one(spark):
    v, r = Q._featured_roles(spark, SF_DIR)
    best = matching.best_matches(v, matching.match_pages(v, r))
    # every voucher page whose hash exists in refs must match at 1.0
    hashes = {row["text_hash"] for row in r.select("text_hash").collect()}
    exact_probes = {
        (row["doc_id"], row["page_num"])
        for row in v.collect()
        if row["text_hash"] in hashes
    }
    got = {
        (row["doc_id"], row["page_num"]): row["sim"]
        for row in best.collect()
    }
    assert exact_probes, "fixture must contain exact duplicates"
    for k in exact_probes:
        assert got[k] == 1.0, k


def test_null_dates_still_block_on_amounts(spark):
    """A page whose dates array is NULL keeps its amount blocking keys
    (on both the voucher and the reference side): with no fallback, the
    only way to a candidate is the shared ``a:`` key."""
    schema = (
        "doc_id long, page_num int, text string, text_hash string, "
        "dates array<string>, amounts array<string>"
    )
    text = "invoice 4471 total due 1,250.00 net thirty days"
    v = spark.createDataFrame([(1, 1, text, "hv", None, ["1,250.00"])], schema)
    r = spark.createDataFrame(
        [
            (10, 1, text, "hr10", ["2021-03-04"], ["1250.00"]),
            (11, 1, text, "hr11", None, ["1 250.00"]),
        ],
        schema,
    )
    got = {
        (row["t_doc"], row["t_page"])
        for row in matching.match_pages(v, r, fallback_cap=0).collect()
    }
    assert got == {(10, 1), (11, 1)}
