"""Score-ties adjustment — the always-on final reranker stage.

Reference: `rerank/lib/ScoreTiesAdjusterReranker.java:36-73`: walk hits
in rank order; round each score to 4 decimals; within a run of equal
rounded scores subtract ``dup * 1e-6`` where ``dup`` counts prior
duplicates in the run, so emitted scores strictly decrease and
trec_eval re-sorting cannot permute ties.

Two implementations of the same rule:

* ``adjust_score_ties`` — declarative window ops (no UDF) for Spark
  DataFrames: ranks are already assigned, ties are consecutive, so
  ``dup = row_number within (qid, rounded) - 1``.
* ``rank_and_adjust`` — numpy, for hits already on the driver (the
  kernel engines' finalize and ``LocalSearcher``). It rounds exactly
  like Spark's ``F.round(double, 4)`` (``round_half_up4``), so both
  emit the same bits.
"""

from __future__ import annotations

from typing import Tuple

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def adjust_score_ties(hits: DataFrame, qid_col: str = "qid",
                      rank_col: str = "rank",
                      score_col: str = "score") -> DataFrame:
    rounded = F.round(F.col(score_col).cast("double"), 4)
    w = Window.partitionBy(qid_col, rounded).orderBy(F.col(rank_col))
    dup = F.row_number().over(w) - F.lit(1)
    return hits.withColumn(
        score_col, rounded - dup.cast("double") * F.lit(1e-6)
    )


def round_half_up4(x: np.ndarray) -> np.ndarray:
    """Spark's ``F.round(double, 4)``: HALF_UP on the double's shortest
    decimal form (``BigDecimal.valueOf(d).setScale(4, HALF_UP)``), so
    12.34565 -> 12.3457 where Python's ``round`` gives 12.3456 (it
    rounds the binary value, which lies just below the half-way point).

    For |x| well below 1e6 two doubles never share a 5-decimal
    neighbourhood, so the shortest form of x is >= the half-way decimal
    m exactly when x >= the double nearest m, and that double is
    ``(n + 0.5) / 1e4`` (an exact numerator, one correctly rounded
    division). ``rint(|x| * 1e4)`` is within one of the answer; the two
    half-way comparisons settle it."""
    x = np.asarray(x, dtype=np.float64)
    a = np.abs(x)
    n = np.rint(a * 1e4)
    n = np.where(a < (n - 0.5) / 1e4, n - 1.0, n)
    n = np.where(a >= (n + 0.5) / 1e4, n + 1.0, n)
    m = n / 1e4
    # BigDecimal has no negative zero: -0.00001 rounds to +0.0
    return np.where(x < 0, -m, m) + 0.0


def rank_and_adjust(qid: np.ndarray, score: np.ndarray, key: np.ndarray,
                    k: int) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Rank hits per qid by (score desc, key asc), cut at ``k`` and
    tie-adjust the scores. ``key`` is the url. Returns (row index into
    the inputs, rank, adjusted score), rows ordered by (qid, rank)."""
    qid = np.asarray(qid)
    score = np.asarray(score, dtype=np.float64)
    order = np.lexsort((key, -score, qid))
    q = qid[order]
    n = len(order)
    pos = np.arange(n)
    new_q = np.ones(n, dtype=bool)
    new_q[1:] = q[1:] != q[:-1]
    rank = pos - np.maximum.accumulate(np.where(new_q, pos, 0)) + 1
    cut = rank <= k
    order, q, rank = order[cut], q[cut], rank[cut]
    rounded = round_half_up4(score[order])
    pos = np.arange(len(order))
    new_run = np.ones(len(order), dtype=bool)
    new_run[1:] = (q[1:] != q[:-1]) | (rounded[1:] != rounded[:-1])
    dup = pos - np.maximum.accumulate(np.where(new_run, pos, 0))
    return order, rank.astype(np.int32), rounded - dup * 1e-6
