"""The numpy rank + tie-adjust helper (driver finalize, LocalSearcher)
must emit the same ranks and score bits as the Spark window version,
including Spark's HALF_UP rounding of half-way decimals."""

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from anserini_spark.search.tieadjust import (adjust_score_ties,
                                             rank_and_adjust,
                                             round_half_up4)

HALF_WAY = [0.12345, 1.00005, 0.00005, 2.00015, 3.99995, 12.34565,
            1.23455, 0.1234500001, 0.12344999999]


def _scores(rng):
    tied_runs = [3.00001, 3.00002, 3.00003, 3.00004,      # all -> 3.0
                 0.50004, 0.49996, 0.5, 0.50001]          # all -> 0.5
    f32 = [float(np.float32(x)) for x in HALF_WAY]
    rand = list(rng.uniform(0, 20, 60))
    rand_half = [(i + 0.5) / 1e4 for i in rng.integers(0, 200000, 40)]
    return HALF_WAY + f32 + tied_runs + rand + rand_half


def test_round_half_up4_matches_spark_round(spark):
    rng = np.random.default_rng(7)
    vals = _scores(rng) + [-0.12345, -1e-5, 0.0]
    vals += [float(np.float32((i + 0.5) / 1e4))
             for i in rng.integers(0, 300000, 2000)]
    pdf = pd.DataFrame({"i": np.arange(len(vals)), "x": vals})
    want = (spark.createDataFrame(pdf)
            .select("i", F.round("x", 4).alias("r")).toPandas()
            .sort_values("i")["r"].to_numpy())
    got = round_half_up4(np.asarray(vals))
    assert got.tolist() == want.tolist()
    # Python's round works on the binary value: it differs here
    assert vals[5] == 12.34565 and got[5] == 12.3457
    assert round(12.34565, 4) == 12.3456


def test_rank_and_adjust_matches_window(spark):
    rng = np.random.default_rng(11)
    rows = []
    for qid in (1, 2, 3):
        scores = _scores(rng)
        if qid == 2:  # exact ties broken by url
            scores = scores + scores[:10]
        urls = [f"doc{qid}-{j:04d}" for j in rng.permutation(len(scores))]
        rows += [(qid, u, s) for u, s in zip(urls, scores)]
    k = 100
    pdf = pd.DataFrame(rows, columns=["qid", "docid", "score"])
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
    ranked = (spark.createDataFrame(pdf, "qid int, docid string, "
                                         "score double")
              .withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= k))
    want = [(r["qid"], r["docid"], r["rank"], r["score"])
            for r in adjust_score_ties(ranked).orderBy("qid", "rank")
            .collect()]
    idx, rank, adjusted = rank_and_adjust(
        pdf["qid"].to_numpy(), pdf["score"].to_numpy(),
        pdf["docid"].to_numpy(dtype=object), k)
    got = list(zip(pdf["qid"].to_numpy()[idx].tolist(),
                   pdf["docid"].to_numpy()[idx].tolist(),
                   rank.tolist(), adjusted.tolist()))
    assert got == want
    # the crafted runs really exercise the adjuster
    assert any(abs(s - round(s, 4)) > 1e-9 for *_x, s in want)
