"""The benchmark's workloads. Each drives the public API of
``anserini_spark`` from outside, as a closed loop with one client: the
next call starts only after the previous one returned.

A workload has five steps, called by ``run.py``:

* ``prepare()`` makes the seeded inputs, once per run (not timed).
* ``setup(rep)`` brings it from its inputs to ready: indexes, searchers
  and a warm-up. ``run.py`` sets up three times and reports the median
  as ``setup_s``.
* ``call(i)`` is one timed call; it returns the call's output.
* ``record(i, out)`` keeps the output for the check (not timed).
* ``check()`` compares the outputs with an oracle and returns the list
  of mismatches.

``layer_metrics`` reads the per-layer numbers out of the trace.
"""

from __future__ import annotations

import math
import os
import statistics
import time

from inputs import GATE_DIR, natural_queries, write_natural_documents

# Spark task slots, shuffle partitions and index segments. The host has 4
# cores; the fourth is left to the driver JVM and the Python driver. With
# all four given to tasks, a neighbour taking one core slowed a query by
# about 40%; with three, by about 10%.
CPUS = 3
K = 1000
STOP_QUERY = "the of and"  # every term a stopword: no hit
MISS_QUERY = "zzqxj"       # not in the vocabulary: no hit
# The engines compute weight * (tf / norm) in float32; oracle_topk (and
# the reference formula) computes (weight * tf) / norm. The two differ by
# up to one float32 ulp, which can carry a score across the tie
# adjuster's 4-decimal rounding and shift the 1e-6 tie offsets after it.
# Engine against engine is compared exactly.
SCORE_TOL = 2e-4
WARM_CALLS = 2  # single-query warm-up calls per spark_search set-up


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _run_lines(rows) -> list:
    """Run lines at the tests' rounding: (docid, rank, 6-decimal score),
    in rank order."""
    return [(r[0], int(r[1]), round(float(r[2]), 6))
            for r in sorted(rows, key=lambda r: int(r[1]))]


def _spark_lines(df) -> dict:
    out: dict = {}
    for r in df.collect():
        out.setdefault(int(r["qid"]), []).append(
            (r["docid"], r["rank"], r["score"]))
    return {q: _run_lines(v) for q, v in out.items()}


def _stage_sum(spans, key):
    return sum(s.counts.get(key, 0) for s in spans)


def _core_util(spans):
    wall = sum(s.dur for s in spans)
    return _stage_sum(spans, "run_s") / (wall * CPUS) if wall else 0.0


class Workload:
    name = ""
    min_calls = 1  # the timed loop makes at least this many calls

    def __init__(self, spark, tracer, work: str, seed: int, scale: dict):
        self.spark = spark
        self.tr = tracer
        self.work = work
        self.seed = seed
        self.sc = scale

    def dir(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def prepare(self) -> None:
        pass


# ---------------------------------------------------------------------------
# spark_search: web pages -> index in set-up; single-query search_kernel
# calls on the long-tail index in the timed loop
# ---------------------------------------------------------------------------


class SparkSearch(Workload):
    """The input is seeded ``natural_corpus`` text rendered as web pages
    by ``corpus.synth.web_corpus``. Set-up indexes the pages from the
    HTML with ``build_index`` (extraction, porter analysis, block
    encoding), opens the index with ``InvertedIndex`` and a preloaded
    ``LocalSearcher``, and warms up with WARM_CALLS single queries. Each
    timed call is one ``search_kernel`` query at k=1000, collected."""

    name = "spark_search"
    # query costs differ by a fifth either way, so a median over a few
    # queries depends on which ones the seed drew
    min_calls = 8

    def prepare(self) -> None:
        from anserini_spark.corpus.synth import web_corpus

        src, self.corpus_dir = self.dir("src"), self.dir("corpus")
        with self.tr.span("corpus.synth", request="prepare", spark=True):
            write_natural_documents(self.spark, src, self.sc["docs"],
                                    self.sc["vocab"], self.seed, CPUS)
            web_corpus(self.spark, src).write.parquet(self.corpus_dir)
        self.manifests: list[dict] = []
        self.queries = natural_queries(self.sc["queries"], self.seed,
                                       self.sc["max_rank"])

    def setup(self, rep: int) -> None:
        from anserini_spark.index.build import IndexConfig, build_index
        from anserini_spark.search.bm25 import BM25Params
        from anserini_spark.search.local import LocalSearcher
        from anserini_spark.search.searcher import InvertedIndex

        idx_dir = self.idx_dir = self.dir(f"idx{rep}")
        with self.tr.span("index.build", spark=True):
            man = build_index(
                self.spark, self.spark.read.parquet(self.corpus_dir),
                IndexConfig(out_dir=idx_dir, source_col="html",
                            doc_partitions=CPUS, block_partitions=CPUS))
        self.manifests.append(man)
        self.idx = InvertedIndex(self.spark, idx_dir)
        with self.tr.span("local.preload"):
            self.local = LocalSearcher(idx_dir, preload=True)
        self.params = BM25Params(k=K)
        # single-query calls keep getting faster over their first few in a
        # JVM; warm that path on queries the loop does not reach
        for j in range(1, WARM_CALLS + 1):
            self.call(-j)
        self.results: list = []

    def query(self, i: int) -> str:
        return self.queries[i % len(self.queries)]

    def call(self, i: int):
        from anserini_spark.search.searcher import search_kernel

        with self.tr.span("search.call", spark=True):
            with self.tr.span("search.plan"):
                df = search_kernel(self.idx, {1: self.query(i)}, self.params)
            with self.tr.span("search.action"):
                return df.collect()

    def record(self, i: int, rows) -> None:
        self.results.append((self.query(i), _run_lines(
            [(r["docid"], r["rank"], r["score"]) for r in rows])))

    def run_batch(self) -> None:
        """One ``search_kernel`` batch of the first queries plus a
        stopword-only and a zero-hit query, after the loop; its run
        lines are checked with the loop's."""
        from anserini_spark.search.searcher import search_kernel

        batch = dict(enumerate(
            [*self.queries[:self.sc["batch"]], STOP_QUERY, MISS_QUERY],
            start=1))
        t0 = time.perf_counter()
        with self.tr.span("search.batch", spark=True):
            lines = _spark_lines(search_kernel(self.idx, batch, self.params))
        self.batch_qps = len(batch) / (time.perf_counter() - t0)
        self.batch = [(q, lines.get(i, [])) for i, q in batch.items()]

    def check(self) -> list[str]:
        """The run lines of every timed call and of a batch equal
        ``LocalSearcher``'s for the same query, and ``LocalSearcher``'s
        equal ``oracle_topk``'s."""
        self.run_batch()
        local = {q: _run_lines(self.local.search(q, k=K))
                 for q in (STOP_QUERY, MISS_QUERY)}
        # the loop and the batch use the first queries; a traced run
        # searches all of them for the local.* layers
        n = (len(self.queries) if self.tr.enabled
             else max(len(self.results), self.sc["batch"]))
        for j, q in enumerate(self.queries[:n]):
            with self.tr.span("local.search", request=f"local-{j}"):
                local[q] = _run_lines(self.local.search(q, k=K))
        errs = {f"spark_search: search_kernel != LocalSearcher for {q!r}"
                for q, lines in self.results + self.batch
                if lines != local[q]}
        sample = list(dict.fromkeys(q for q, _ in self.results))
        with self.tr.span("check.oracle"):
            errs.update(self.oracle_errors(
                sample[:self.sc["oracle_queries"]]))
        return sorted(errs)

    def corpus_docs(self) -> dict:
        """url -> text of the documents the index should hold: the
        corpus's deduplicated English non-empty ``text``."""
        import pyarrow.parquet as pq

        t = pq.read_table(self.corpus_dir, columns=["url", "text", "lang"])
        return {u: x for u, x, lang in zip(*(t[c].to_pylist() for c in
                                             ("url", "text", "lang")))
                if lang == "en" and x}

    def oracle_errors(self, queries) -> list[str]:
        """Write-path oracle: ``search/oracle.py:oracle_topk`` over the
        corpus text and ``LocalSearcher`` over the built index return
        the same documents, with scores within SCORE_TOL, for
        ``queries`` plus a stopword-only and a zero-hit query. Both
        take every hit, so no cut at k can differ."""
        from anserini_spark.analysis.analyzer import analyze_for
        from anserini_spark.search.bm25 import BM25Params
        from anserini_spark.search.oracle import oracle_topk

        docs = self.corpus_docs()
        self.text_bytes = sum(len(x.encode()) for x in docs.values())
        qs = dict(enumerate([*queries, STOP_QUERY, MISS_QUERY], start=1))
        want = oracle_topk(docs, qs, analyze_for("porter"),
                           BM25Params(k=len(docs)))
        errs = []
        for i, q in qs.items():
            got = {u: s for u, _r, s in self.local.search(q, k=len(docs))}
            exp = {u: s for u, _r, s in want.get(i, [])}
            if got.keys() != exp.keys() or any(
                    abs(got[u] - exp[u]) > SCORE_TOL for u in got):
                errs.append(f"spark_search: LocalSearcher != oracle_topk "
                            f"for {q!r}")
        return errs

    def probe(self) -> None:
        """Traced mode only: time the driver-side steps of each query
        on their own, and count its postings (the query terms' df) and
        block rows (via pyarrow)."""
        import pyarrow.dataset as ds

        blocks = ds.dataset(os.path.join(self.idx_dir, "blocks.parquet"),
                            format="parquet")
        self.postings, self.term_blocks = {}, {}
        for q in self.queries:
            with self.tr.span("search.analyze"):
                terms = self.idx.analyze_query(q)
            with self.tr.span("search.term_stats"):
                st = self.idx.term_stats(terms)
            self.postings[q] = sum(df for df, _cf in st.values())
            self.term_blocks[q] = blocks.count_rows(
                filter=ds.field("term").isin(sorted(set(terms))))


# ---------------------------------------------------------------------------
# gates: the library's gate functions at small scale, DuckDB-oracled
# ---------------------------------------------------------------------------

# bm25_index_topk and eval_metrics are left out: they cache their index
# under a fixed /tmp path, outside the checkout a run may write to.
# cosine_topk and top_terms (a sort over term_dictionary) are left out to
# keep a run within its time budget.
GATES = ["bm25_topk", "term_dictionary", "minhash_lsh_pairs", "events_hourly",
         "pii_scrub", "contamination_check"]


# The normalisation of scripts/selfcheck.py, which is not imported: it is a
# script that edits sys.path when imported.
def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    return str(v)


def _norm_rows(cols, rows):
    """Columns sorted by name, rows order-insensitive, floats at ``.6g``."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows))


class Gates(Workload):
    """The gates read the fixed sf0.01 tables (``inputs.GATE_DIR``). A
    set-up is one warm-up pass: a pass falls from 17-30 s in a fresh JVM
    to about 5 s by the third and then only slowly, so the timed passes
    start after the three set-ups. Each timed call is one pass over
    GATES, every result collected."""

    name = "gates"
    sf = GATE_DIR
    # passes still get faster, by about a tenth each: three or more make
    # the median a middle pass, not the mean of the first two
    min_calls = 3

    def setup(self, rep: int) -> None:
        import __spark_entry__ as entry

        self.fns = entry.queries()
        if not rep:
            self.results: list = []
        self.record(-1, self.call(-1))  # the warm-up pass is checked too

    def call(self, i: int):
        out = []
        for g in GATES:
            with self.tr.span(f"ops.{g}", spark=True):
                df = self.fns[g](self.spark, self.sf)
                out.append((g, df.columns, df.collect()))
        return out

    def record(self, i: int, out) -> None:
        self.results.extend(out)

    def oracle(self) -> dict:
        """Each gate's ``oracle_sql()`` answer on DuckDB."""
        import duckdb

        import __spark_entry__ as entry

        sqls = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "events"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf}/{t}.parquet')")
            want = {}
            for g in GATES:
                rel = con.execute(sqls[g])
                want[g] = _norm_rows([d[0] for d in rel.description],
                                     rel.fetchall())
            return want
        finally:
            con.close()

    def check(self) -> list[str]:
        with self.tr.span("check.oracle"):
            want = self.oracle()
        errs = set()
        for g, cols, rows in self.results:
            got = _norm_rows(cols, [tuple(r) for r in rows])
            if got != want[g]:
                errs.add(f"gates: {g} != oracle_sql "
                         f"({len(got[1])} vs {len(want[g][1])} rows)")
        return sorted(errs)


WORKLOADS = {w.name: w for w in (SparkSearch, Gates)}


# ---------------------------------------------------------------------------
# per-layer metrics (traced runs): every workload reports every name; a
# layer the workload does not use reads 0
# ---------------------------------------------------------------------------

_LOW, _HIGH = "lower", "higher"
PER_LAYER = {  # name -> (unit, which direction is better)
    "session.start_s": ("s", _LOW), "corpus.synth_s": ("s", _LOW),
    "extraction.pages_per_s": ("1/s", _HIGH),
    "analysis.tokens_per_s": ("1/s", _HIGH),
    "index.build_s": ("s", _LOW), "index.docs_per_s": ("1/s", _HIGH),
    "index.docvec_s": ("s", _LOW), "index.blocks_s": ("s", _LOW),
    "index.dictionary_s": ("s", _LOW), "index.stats_s": ("s", _LOW),
    "index.postings": ("count", _LOW), "index.blocks": ("count", _LOW),
    "index.docvec_bytes": ("bytes", _LOW),
    "index.blocks_bytes": ("bytes", _LOW),
    "index.dictionary_bytes": ("bytes", _LOW),
    "index.bytes_per_text_byte": ("ratio", _LOW),
    "index.tasks": ("count", _LOW), "index.executor_cpu_s": ("s", _LOW),
    "index.shuffle_write_bytes": ("bytes", _LOW), "index.gc_s": ("s", _LOW),
    "index.core_util": ("ratio", _HIGH),
    "search.analyze_s": ("s", _LOW), "search.term_stats_s": ("s", _LOW),
    "search.plan_s": ("s", _LOW), "search.action_s": ("s", _LOW),
    "search.jobs_per_query": ("count", _LOW),
    "search.stages_per_query": ("count", _LOW),
    "search.tasks_per_query": ("count", _LOW),
    "search.executor_cpu_s": ("s", _LOW),
    "search.shuffle_read_bytes": ("bytes", _LOW),
    "search.core_util": ("ratio", _HIGH),
    "search.input_records": ("count", _LOW),
    "search.term_blocks": ("count", _LOW),
    "search.scan_useful_ratio": ("ratio", _HIGH),
    "search.hits": ("count", _HIGH),
    "search.batch_qps": ("1/s", _HIGH),
    "local.preload_s": ("s", _LOW), "local.preload_mb": ("MB", _LOW),
    "local.search_p50_ms": ("ms", _LOW), "local.search_p90_ms": ("ms", _LOW),
    "local.postings_per_query": ("count", _LOW),
    "local.ns_per_posting": ("ns", _LOW),
    **{f"ops.{g}{m}": ub for g in GATES for m, ub in (
        ("_s", ("s", _LOW)), (".tasks", ("count", _LOW)),
        (".shuffle_bytes", ("bytes", _LOW)),
        (".executor_cpu_s", ("s", _LOW)), (".core_util", ("ratio", _HIGH)))},
    "trace.setup_s": ("s", _LOW), "trace.call_p50_s": ("s", _LOW),
    "trace.self_coverage": ("ratio", _HIGH),
}


def _in_loop(spans):
    return [s for s in spans if s.request.startswith("call-")]


def _call_index(span) -> int:
    return int(span.request.split("-", 1)[1])


def _index_layers(wl, spans) -> dict:
    mans = wl.manifests
    n = max(1, len(spans))
    out = {
        "index.build_s": _median(s.dur for s in spans),
        "index.docs_per_s": _median(
            m["docvec"]["docs"] / s.dur for m, s in zip(mans, spans)),
        "index.tasks": _stage_sum(spans, "tasks") / n,
        "index.executor_cpu_s": _stage_sum(spans, "cpu_s") / n,
        "index.shuffle_write_bytes": _stage_sum(
            spans, "shuffle_write_bytes") / n,
        "index.gc_s": _stage_sum(spans, "gc_s") / n,
        "index.core_util": _core_util(spans),
    }
    for st in ("docvec", "blocks", "dictionary", "stats"):
        out[f"index.{st}_s"] = _median(m[st]["wall_s"] for m in mans)
    for key in ("postings", "blocks"):
        out[f"index.{key}"] = mans[-1]["blocks"][key]
    stores = ("docvec", "blocks", "dictionary")
    for st in stores:
        out[f"index.{st}_bytes"] = mans[-1][st]["bytes"]
    out["index.bytes_per_text_byte"] = sum(
        out[f"index.{st}_bytes"] for st in stores) / wl.text_bytes
    return out


def _search_layers(wl) -> dict:
    tr = wl.tr
    calls = _in_loop(tr.named("search.call"))
    n = len(calls)
    if not n:
        return {}
    recs = _stage_sum(calls, "input_records")
    term_blocks = sum(wl.term_blocks[wl.query(_call_index(s))]
                      for s in calls)
    return {
        "search.analyze_s": _median(s.dur for s in tr.named("search.analyze")),
        "search.term_stats_s": _median(
            s.dur for s in tr.named("search.term_stats")),
        "search.plan_s": _median(s.dur for s in _in_loop(
            tr.named("search.plan"))),
        "search.action_s": _median(s.dur for s in _in_loop(
            tr.named("search.action"))),
        "search.jobs_per_query": sum(len(s.jobs) for s in calls) / n,
        "search.stages_per_query": sum(s.stages for s in calls) / n,
        "search.tasks_per_query": _stage_sum(calls, "tasks") / n,
        "search.executor_cpu_s": _stage_sum(calls, "cpu_s") / n,
        "search.shuffle_read_bytes": _stage_sum(
            calls, "shuffle_read_bytes") / n,
        "search.core_util": _core_util(calls),
        "search.input_records": recs / n,
        "search.term_blocks": term_blocks / n,
        "search.scan_useful_ratio": term_blocks / recs if recs else 0.0,
        "search.hits": sum(len(lines) for _q, lines in wl.results) / n,
        "search.batch_qps": wl.batch_qps,
    }


def _local_layers(wl) -> dict:
    """The check's ``LocalSearcher.search`` calls, one per query."""
    searches = wl.tr.named("local.search")
    ms = sorted(1e3 * s.dur for s in searches)
    postings = [wl.postings[wl.query(_call_index(s))] for s in searches]
    return {
        "local.search_p50_ms": _median(ms),
        "local.search_p90_ms": ms[int(0.9 * len(ms))],
        "local.postings_per_query": sum(postings) / len(postings),
        "local.ns_per_posting": (1e9 * sum(s.dur for s in searches)
                                 / sum(postings) if sum(postings) else 0.0),
    }


def _ops_layers(tr) -> dict:
    out = {}
    for g in GATES:
        spans = _in_loop(tr.named(f"ops.{g}"))
        if not spans:
            continue
        n = len(spans)
        out[f"ops.{g}_s"] = _median(s.dur for s in spans)
        out[f"ops.{g}.tasks"] = _stage_sum(spans, "tasks") / n
        out[f"ops.{g}.shuffle_bytes"] = (
            _stage_sum(spans, "shuffle_read_bytes")
            + _stage_sum(spans, "shuffle_write_bytes")) / n
        out[f"ops.{g}.executor_cpu_s"] = _stage_sum(spans, "cpu_s") / n
        out[f"ops.{g}.core_util"] = _core_util(spans)
    return out


def _text_rates(wl) -> dict:
    """Extraction and porter-analysis rates on a fixed sample of the
    corpus's pages (the 200 smallest urls), best of three passes."""
    import pyarrow.parquet as pq

    from anserini_spark.analysis.analyzer import analyze_for
    from anserini_spark.extraction.html2text import extract_text

    t = pq.read_table(wl.corpus_dir, columns=["url", "html"])
    pages = [p for _u, p in sorted(zip(t["url"].to_pylist(),
                                       t["html"].to_pylist()))[:200]]
    analyze = analyze_for("porter")
    ext, ana = [], []
    for _ in range(3):
        with wl.tr.span("extraction.sample"):
            t0 = time.perf_counter()
            texts = [extract_text(p) for p in pages]
            ext.append(time.perf_counter() - t0)
        with wl.tr.span("analysis.sample"):
            t0 = time.perf_counter()
            n_tok = sum(len(analyze(x)) for x in texts)
            ana.append(time.perf_counter() - t0)
    return {"extraction.pages_per_s": len(pages) / min(ext),
            "analysis.tokens_per_s": n_tok / min(ana)}


def _preload_mb(idx_dir: str) -> float:
    """Memory a freshly preloaded LocalSearcher holds: Python and NumPy
    allocations (tracemalloc) plus Arrow's memory pool."""
    import gc
    import tracemalloc

    import pyarrow as pa

    from anserini_spark.search.local import LocalSearcher

    gc.collect()
    a0 = pa.total_allocated_bytes()
    tracemalloc.start()
    try:
        ls = LocalSearcher(idx_dir, preload=True)
        held, _peak = tracemalloc.get_traced_memory()
        held += pa.total_allocated_bytes() - a0
    finally:
        tracemalloc.stop()
    del ls
    return held / 2**20


def layer_metrics(wl, e2e: dict) -> dict:
    """Per-layer metrics of a traced run (before the session stops)."""
    tr = wl.tr
    out = {k: 0.0 for k in PER_LAYER}
    if isinstance(wl, SparkSearch):
        with tr.span("trace.probe", request="probe"):
            wl.probe()
            out.update(_text_rates(wl))
            out["local.preload_mb"] = _preload_mb(wl.idx_dir)
    tr.attach_stage_metrics()
    out["session.start_s"] = _median(
        s.dur for s in tr.named("session.start"))
    out["corpus.synth_s"] = _median(s.dur for s in tr.named("corpus.synth"))
    if isinstance(wl, SparkSearch):
        out.update(_index_layers(wl, tr.named("index.build")))
        out.update(_search_layers(wl))
        out.update(_local_layers(wl))
        out["local.preload_s"] = _median(
            s.dur for s in tr.named("local.preload"))
    out.update(_ops_layers(tr))
    out["trace.setup_s"] = e2e["setup_s"]
    out["trace.call_p50_s"] = e2e["call_p50_s"]
    return out
