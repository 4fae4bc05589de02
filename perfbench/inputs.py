"""Benchmark inputs: the fixed gate tables and the seeded search corpus
and queries.

The gate tables are a copy of the repository's sf0.01 synthetic
testdata (``documents``, ``events``, ``embeddings``), the scale its
DuckDB-oracle correctness tier uses; they live under
``perfbench/testdata`` so that a run reads nothing outside the
checkout. The search corpus and queries are pure functions of their
seed: the same seed gives the same documents and query lists.
"""

from __future__ import annotations

import os

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
GATE_DIR = os.path.join(HERE, "testdata", "sf0.01")


def write_natural_documents(spark, out_dir: str, n_docs: int, vocab: int,
                            seed: int, files: int) -> str:
    """Write ``corpus.synth.natural_corpus`` text (Zipf(1) over
    ``vocab`` terms ``t<rank>``, lognormal lengths around 60 tokens) as
    ``out_dir/documents.parquet`` in the testdata ``documents`` schema
    that ``web_corpus`` reads, in ``files`` files; returns ``out_dir``."""
    from pyspark.sql import functions as F

    from anserini_spark.corpus.synth import natural_corpus

    (natural_corpus(spark, n_docs, vocab=vocab, seed=seed)
     .select(F.substring_index("url", "/", -1).cast("long").alias("doc_id"),
             "text", "lang", F.lit("nat").alias("source"))
     .coalesce(files)
     .write.parquet(os.path.join(out_dir, "documents.parquet")))
    return out_dir


def natural_queries(n: int, seed: int, max_rank: int) -> list[str]:
    """MS MARCO-style queries over ``natural_corpus`` terms: 2-5 terms
    ``t<i>`` with ``i`` log-uniform in [20, max_rank] (``t0`` is the
    most frequent term)."""
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n):
        m = int(rng.integers(2, 6))
        ranks = np.exp(rng.uniform(np.log(20), np.log(max_rank), m)).astype(int)
        out.append(" ".join(f"t{r}" for r in np.unique(ranks)))
    return out
