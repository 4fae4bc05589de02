"""Pluggable-similarity kernel engine: rank-identity vs the
declarative DataFrame path for all six similarities, and plan
assertions that the kernel path never scans the full docvec postings
(term-pruned blocks scan only — the round-1 scale defect)."""

import pytest

from anserini_spark.search import searcher
from anserini_spark.search.bm25 import BM25Params
from anserini_spark.search.qld import search_qld, search_qljm
from anserini_spark.search.searcher import InvertedIndex, search_kernel
from anserini_spark.search.similarities import (
    search_f2exp,
    search_f2log,
    search_inl2,
    search_spl,
)

QUERIES = {1: "spark merge join", 2: "customer value", 3: "the scan"}


def _rows(df):
    return [
        (r["qid"], r["docid"], r["rank"], round(float(r["score"]), 6))
        for r in df.collect()
    ]


@pytest.mark.parametrize("fn,kw", [
    (search_qld, {"mu": 1000.0}),
    (search_qld, {"mu": 250.0}),
    (search_qljm, {"lam": 0.1}),
    (search_inl2, {"c": 1.0}),
    (search_spl, {"c": 1.0}),
    (search_f2exp, {"s": 0.5}),
    (search_f2log, {"s": 0.5}),
])
def test_kernel_matches_dataframe(spark, tiny_index, fn, kw):
    idx = InvertedIndex(spark, tiny_index)
    kern = _rows(fn(idx, QUERIES, k=25, engine="kernel", **kw))
    dfrm = _rows(fn(idx, QUERIES, k=25, engine="dataframe", **kw))
    assert kern == dfrm


def test_kernel_plan_is_term_pruned(spark, tiny_index, monkeypatch):
    """The kernel similarity plan must read blocks.parquet with the
    query terms pushed into the scan, and must NOT explode docvec
    postings (no full-corpus scan). The ranked run of a single query
    is a driver-side local relation, so the scan is asserted on the
    shared helper's kernel-hits DataFrame, captured on its way into
    the finalize."""
    captured = {}
    finalize = searcher._finalize_local

    def spy(index, hits, k):
        captured["hits"] = hits
        return finalize(index, hits, k)

    monkeypatch.setattr(searcher, "_finalize_local", spy)
    idx = InvertedIndex(spark, tiny_index)
    search_qld(idx, {1: "spark merge"}, k=10, engine="kernel")
    plan = captured["hits"]._jdf.queryExecution().executedPlan().toString()
    assert "blocks" in plan
    assert "PushedFilters: [In(term" in plan
    assert "Generate explode" not in plan and "arrays_zip" not in plan
    # the dataframe oracle path, by contrast, explodes every posting
    plan_df = (
        search_qld(idx, {1: "spark merge"}, k=10, engine="dataframe")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "explode" in plan_df


def test_kernel_query_runs_at_most_four_jobs(spark, tiny_index):
    """One search_kernel query runs the segment kernel (shuffle map +
    result) and one url lookup (broadcast + docmap join), all inside
    the call; collecting the returned local relation runs none. The
    first query on a fresh handle also pays the index-open jobs
    (parquet schema reads, docmap cache), so a second one is counted."""
    sc = spark.sparkContext
    idx = InvertedIndex(spark, tiny_index)
    search_kernel(idx, {1: "customer value"}, BM25Params(k=10))
    group = "test-kernel-query-jobs"
    sc.setJobGroup(group, "one search_kernel query")
    try:
        rows = search_kernel(idx, {1: "spark merge join"},
                             BM25Params(k=10)).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4


@pytest.mark.parametrize("k", [5, 1000])
def test_driver_and_executor_finalize_agree(spark, tiny_index, monkeypatch,
                                            k):
    """Small batches finish on the driver, large ones on the executors;
    both must emit the same run lines, bit for bit (BM25 and QLD, whose
    clamped zero scores tie, cut inside the candidates and not)."""
    idx = InvertedIndex(spark, tiny_index)

    def runs():
        bm25 = search_kernel(idx, QUERIES, BM25Params(k=k))
        qld = search_qld(idx, QUERIES, k=k, engine="kernel")
        plans = [df._jdf.queryExecution().analyzed().toString()
                 for df in (bm25, qld)]
        return [df.collect() for df in (bm25, qld)], plans

    local, local_plans = runs()
    monkeypatch.setattr(searcher, "DRIVER_FINALIZE_MAX_PAIRS", 0)
    executor, executor_plans = runs()
    assert all("LocalRelation" in p and "FlatMapGroupsInPandas" not in p
               for p in local_plans)
    assert all("FlatMapGroupsInPandas" in p for p in executor_plans)
    assert all(rows for rows in local)
    assert local == executor
