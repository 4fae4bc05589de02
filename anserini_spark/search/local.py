"""LocalSearcher — low-latency serving over the SAME index files,
no Spark session required.

The reference's `SimpleSearcher` answers single queries in ~60 ms
(`docs/experiments-msmarco-passage.md:65`) against an OS-page-cached
mmap'd Lucene index; a Spark job can't (fixed scheduling floor).
Because the index is open parquet, a driver-side searcher reads the
term-pruned slices directly via pyarrow and scores with the same
numpy kernels — result-identical to the distributed engine (pinned by
tests).

Serving mode (``preload=True``, the latency-bench configuration and
the honest analogue of Lucene's warm mmap): at init the posting-block
table is loaded once and sorted by term, so a query's block rows are
O(log n) searchsorted slices instead of a parquet filter scan, and
the (doc_id -> url) map is held as two sorted arrays. With
``preload=False`` everything stays on-disk pyarrow with row-group
pruning (cold-start mode).

Scoring is one dense float64 accumulator over the whole index
(segments are dense id ranges: global slot = seg_offset[segment] +
row), one vectorized update per query term — no per-segment Python
loop. Top-k selects every candidate tied at the kth score, then
applies the (score desc, url asc) order and the ScoreTiesAdjuster
rounding, exactly like the distributed engines.
"""

from __future__ import annotations

import json
import os
from typing import Dict, List, Optional, Tuple

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from ..analysis.analyzer import analyze, stem_mode
from ..index.blocks import decode_block_run
from ..index.build import SEG_SHIFT
from .bm25 import BM25Params, idf
from .tieadjust import rank_and_adjust


class LocalSearcher:
    def __init__(self, index_dir: str, k1: float = 0.9, b: float = 0.4,
                 lossy: bool = False, preload: bool = False):
        self.dir = index_dir
        self._lossy = lossy
        with open(os.path.join(index_dir, "stats.json")) as f:
            self.stats = json.load(f)
        with open(os.path.join(index_dir, "manifest.json")) as f:
            man = json.load(f)
        self.analyzer = man["docvec"]["lineage"]["analyzer"]
        # same compatibility gates as InvertedIndex — the serving path
        # must not silently query an index whose id layout or analyzer
        # chain has drifted (index/versioning.py)
        from ..index.versioning import (check_analysis_version,
                                        check_seg_shift)

        check_seg_shift(man, index_dir, SEG_SHIFT)
        check_analysis_version(man, index_dir)
        self.params = BM25Params(k1=k1, b=b, lossy=lossy)
        self.seg_counts = {int(s): int(c)
                           for s, c in self.stats["segments"].items()}
        # dense global slots: segment -> offset into one accumulator
        segs = sorted(self.seg_counts)
        self._seg_offset = {}
        off = 0
        for s in segs:
            self._seg_offset[s] = off
            off += self.seg_counts[s]
        self._n_slots = off
        self._offsets_arr = np.zeros(max(segs) + 1 if segs else 1,
                                     dtype=np.int64)
        for s, o in self._seg_offset.items():
            self._offsets_arr[s] = o
        self._blocks = ds.dataset(os.path.join(index_dir, "blocks.parquet"),
                                  format="parquet")
        self._dict = ds.dataset(os.path.join(index_dir, "dictionary.parquet"),
                                format="parquet")
        self._docvec = ds.dataset(os.path.join(index_dir, "docvec.parquet"),
                                  format="parquet")
        self._pre: Optional[pd.DataFrame] = None
        self._pre_terms: Optional[np.ndarray] = None
        self._docmap: Optional[Tuple[np.ndarray, np.ndarray]] = None
        # liveDocs (tombstones): sorted dead accumulator slots, masked
        # after full accumulation (this engine never prunes, so the
        # post-accumulation mask is exact)
        self._dead_slots = np.empty(0, dtype=np.int64)
        tomb = os.path.join(index_dir, "tombstones.parquet")
        if os.path.isdir(tomb):
            urls = ds.dataset(tomb, format="parquet").to_table(
                columns=["url"])["url"].to_pylist()
            if urls:
                t = self._docvec.to_table(
                    filter=ds.field("url").isin(sorted(set(urls))),
                    columns=["doc_id"],
                )
                self._dead_slots = np.sort(self._slots(
                    np.asarray(t["doc_id"].to_pylist(), dtype=np.int64)))
        if preload:
            self._preload()

    _BLOCK_COLS = ["term", "segment", "first_doc", "last_doc", "n",
                   "max_tf", "min_dl", "sum_tf", "docs_bin", "tfs_bin",
                   "dls_bin"]

    def _preload(self) -> None:
        # column-pruned: pos_bin (positional indexes) is never read here
        tbl = self._blocks.to_table(columns=self._BLOCK_COLS).to_pandas()
        tbl = tbl.sort_values(["term", "segment", "first_doc"],
                              kind="mergesort").reset_index(drop=True)
        self._pre = tbl
        self._pre_terms = tbl["term"].to_numpy()
        dm = self._docvec.to_table(columns=["doc_id", "url"]).to_pandas()
        dm = dm.sort_values("doc_id", kind="mergesort")
        self._docmap = (dm["doc_id"].to_numpy(),
                        dm["url"].to_numpy())

    def set_bm25(self, k1: float, b: float) -> None:
        self.params = BM25Params(k1=k1, b=b, k=self.params.k,
                                 lossy=self._lossy)

    def _analyze(self, text: str) -> List[str]:
        from ..analysis.analyzer import analyze_for

        return analyze_for(self.analyzer)(text or "")

    def _dfs(self, terms: List[str]) -> Dict[str, int]:
        if not terms:
            return {}
        t = self._dict.to_table(filter=ds.field("term").isin(terms),
                                columns=["term", "df"])
        return dict(zip(t["term"].to_pylist(), t["df"].to_pylist()))

    def _block_rows(self, terms: List[str]) -> pd.DataFrame:
        if self._pre is not None:
            parts = []
            for t in terms:
                lo = np.searchsorted(self._pre_terms, t, side="left")
                hi = np.searchsorted(self._pre_terms, t, side="right")
                if hi > lo:
                    parts.append(self._pre.iloc[lo:hi])
            if not parts:
                return self._pre.iloc[:0]
            return pd.concat(parts)
        return self._blocks.to_table(
            filter=ds.field("term").isin(terms), columns=self._BLOCK_COLS
        ).to_pandas().sort_values(["term", "segment", "first_doc"],
                                  kind="mergesort")

    def _urls_for(self, doc_ids: np.ndarray) -> Dict[int, str]:
        if doc_ids.size == 0:
            return {}
        if self._docmap is not None:
            ids, urls = self._docmap
            pos = np.searchsorted(ids, doc_ids)
            pos = np.minimum(pos, len(ids) - 1)
            return {int(d): str(urls[p])
                    for d, p in zip(doc_ids, pos) if ids[p] == d}
        t = self._docvec.to_table(
            filter=ds.field("doc_id").isin(doc_ids.tolist()),
            columns=["doc_id", "url"],
        )
        return dict(zip(t["doc_id"].to_pylist(), t["url"].to_pylist()))

    def _slots(self, docs: np.ndarray) -> np.ndarray:
        """global doc_id (segment<<40|row) -> dense accumulator slot."""
        seg = (docs >> SEG_SHIFT).astype(np.int64)
        row = (docs & ((1 << SEG_SHIFT) - 1)).astype(np.int64)
        return self._offsets_arr[seg] + row

    def _unslot(self, slots: np.ndarray) -> np.ndarray:
        """dense slot -> global doc_id (inverse of _slots)."""
        segs = sorted(self._seg_offset)
        bounds = np.array([self._seg_offset[s] for s in segs], dtype=np.int64)
        idx = np.searchsorted(bounds, slots, side="right") - 1
        seg_arr = np.array(segs, dtype=np.int64)[idx]
        return (seg_arr << SEG_SHIFT) + (slots - bounds[idx])

    def search(self, query: str, k: int = 10) -> List[Tuple[str, int, float]]:
        """Returns [(url, rank, tie-adjusted score)] — same semantics
        as the distributed engines (float32 BM25, url tie-break,
        ScoreTiesAdjuster rounding)."""
        p = self.params
        toks = self._analyze(query)
        dfs = self._dfs(sorted(set(toks)))
        doc_count = self.stats["doc_count"]
        avgdl = self.stats["avgdl"]
        cache1 = np.float32(p.k1) * (np.float32(1.0) - np.float32(p.b))
        cache2 = np.float32(p.k1) * np.float32(p.b) / np.float32(avgdl)
        wmap: Dict[str, np.float32] = {}
        for t in toks:
            if t not in dfs:
                continue
            w = np.float32(idf(dfs[t], doc_count))
            wmap[t] = np.float32(wmap.get(t, np.float32(0.0)) + w)
        if not wmap:
            return []
        tbl = self._block_rows(sorted(wmap))
        if len(tbl) == 0:
            return []

        acc = np.zeros(self._n_slots, dtype=np.float64)
        touched: List[np.ndarray] = []
        for t, g in tbl.groupby("term", sort=True):
            docs, tfs, dls = decode_block_run(
                list(g["docs_bin"]), list(g["tfs_bin"]),
                list(g["dls_bin"]), g["n"].to_numpy(),
                g["first_doc"].to_numpy(), g["last_doc"].to_numpy(),
            )
            slots = self._slots(docs)
            tf32 = tfs.astype(np.float32)
            if p.lossy:
                from .smallfloat import quantize_length

                dl32 = quantize_length(dls).astype(np.float32)
            else:
                dl32 = dls.astype(np.float32)
            contrib = (wmap[t] * (tf32 / (tf32 + cache1 + cache2 * dl32))
                       ).astype(np.float32)
            acc[slots] += contrib.astype(np.float64)
            touched.append(slots)
        cand = np.unique(np.concatenate(touched))
        if len(self._dead_slots):
            from ..index.tombstones import drop_dead

            keep = drop_dead(cand, self._dead_slots)
            if keep is not None:
                cand = cand[keep]
        scores = acc[cand].astype(np.float32)
        if len(cand) > k:
            # keep everything tied at the kth score, then url-order
            kth = np.partition(scores, len(scores) - k)[len(scores) - k]
            keep = scores >= kth
            cand, scores = cand[keep], scores[keep]
        doc_ids = self._unslot(cand)
        urls = self._urls_for(doc_ids)
        url = np.array([urls[int(d)] for d in doc_ids], dtype=object)
        rows, rank, adjusted = rank_and_adjust(
            np.zeros(len(url), dtype=np.int32), scores, url, k)
        return list(zip(url[rows].tolist(), rank.tolist(),
                        adjusted.tolist()))

    def batch_search(self, queries: Dict[int, str], k: int = 10):
        return {qid: self.search(q, k) for qid, q in queries.items()}
