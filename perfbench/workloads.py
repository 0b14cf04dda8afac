"""The benchmark workloads, driven through the engine's public entry
points only: ``IndexBuilder.build``, ``SearchEngine(...)`` with
``.search(...).collect()`` and ``.search_many(...)``,
``incremental_append``, ``compact_index`` and
``operators.relational.find_all`` with ``operators.filters`` predicates.

One process acts as a single closed-loop client: each operation starts
when the previous one (and its output check) has finished.  The session
keeps the program's analytics defaults, under which its build, ingest and
compact commands run; the read ops (engine open, searches, batches and
pages) switch to ``config.SERVING_CONF`` for their duration, as the
program's search commands do.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict

import pandas as pd

from emailindexer_spark.config import SERVING_CONF
from emailindexer_spark.operators import filters, relational
from emailindexer_spark.plans.builder import IndexBuilder
from emailindexer_spark.plans.planner import SearchEngine
from emailindexer_spark.streaming.compact import compact_index
from emailindexer_spark.streaming.ingest import incremental_append

from perfbench import checks
from perfbench.inputs import PAGE_SIZE, ROUNDS, SHAPES, Inputs, Page, Query, QueryGen, expected_page

#: build knobs scaled from bench.py's 600k-turn settings (32 parts,
#: heavy split above df 100k into 50k-doc splits) to this corpus size
NUM_PARTS = 8
#: warm-up bursts in set-up.  serve's driver-local searches need three
#: before their times settle (after one, the next bursts ran up to 2x
#: slower); every measured search of ingest-serve runs on the distributed
#: tier of a freshly opened engine, so one is enough there
WARM_BURSTS = {"serve": 3, "ingest-serve": 1}


def _builder(spark, out_dir: str, n_turns: int) -> IndexBuilder:
    return IndexBuilder(
        spark,
        out_dir,
        num_parts=NUM_PARTS,
        heavy_df_threshold=max(1, n_turns // 6),
        split_target=max(1, n_turns // 12),
    )


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, visible parquet files) under ``path``."""
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            n_bytes += os.path.getsize(os.path.join(root, fn))
            n_files += fn.endswith(".parquet") and not fn.startswith(".")
    return n_bytes, n_files


class Client:
    """Runs operations, times them, checks their outputs and keeps the
    samples every metric is computed from."""

    def __init__(self, spark, inputs: Inputs, files: dict[str, str], tracer):
        self.spark = spark
        self.inputs = inputs
        self.files = files
        self.tr = tracer
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.layer: dict[str, float] = {}
        self.manifest = None
        self.warming = False
        self.attempted = 0
        self.failed = 0
        self.answers: list[tuple[str, list[tuple]]] = []
        self._analytics = {k: spark.conf.get(k) for k in SERVING_CONF}

    # ------------------------------------------------------------ plumbing

    def _run(self, name: str, fn, tag: str = "", serving: bool = False):
        """One operation: counted, traced, and failed on any exception or
        failed check (the traceback goes to stderr).  A ``serving`` op runs
        under the serving profile."""
        self.attempted += 1
        try:
            with self.tr.op(f"warm:{name}" if self.warming else name, tag):
                if not serving:
                    return fn()
                self._profile(SERVING_CONF)
                try:
                    return fn()
                finally:
                    self._profile(self._analytics)
        except Exception:
            self.failed += 1
            print(f"perfbench: {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None

    def _profile(self, conf: dict[str, str]) -> None:
        for k, v in conf.items():
            self.spark.conf.set(k, v)

    def _timed(self, name: str, layer: str, fn):
        with self.tr.span(name, layer):
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0

    # ---------------------------------------------------------- operations

    def build(self, out_dir: str):
        """``IndexBuilder.build`` of the base corpus."""
        n_turns = len(self.inputs.base)

        def go():
            df = self.spark.read.parquet(self.files["base"])
            man, dt = self._timed(
                "builder.build", "builder", lambda: _builder(self.spark, out_dir, n_turns).build(df)
            )
            checks.need(int(man.stats["n_rows"]) == n_turns, "build n_rows != input turns")
            self.samples["build_s"].append(dt)
            self.manifest = man
            for table in ("postings", "doc_index", "term_dict"):
                n_bytes, n_files = dir_stats(os.path.join(out_dir, table))
                self.layer[f"builder.{table}_bytes"] = n_bytes
                self.layer[f"builder.{table}_files"] = n_files
            self.layer["builder.index_bytes"] = dir_stats(out_dir)[0]
            return man

        return self._run("build", go)

    def open(self, index_dir: str) -> SearchEngine | None:
        def go():
            eng, dt = self._timed("planner.open", "planner", lambda: SearchEngine(self.spark, index_dir))
            self.samples["open_ms"].append(dt * 1e3)
            return eng

        return self._run("open", go, serving=True)

    def search(self, eng: SearchEngine, q: Query):
        def go():
            df, t_call = self._timed(
                "planner.search", "planner", lambda: eng.search(q.text, k=q.k, mode=q.mode)
            )
            rows, t_coll = self._timed("planner.collect", "planner", df.collect)
            res = checks.result_rows(rows)
            checks.check_result(res, q.k, q.mode, eng.n_rows)
            self.samples["search_ms"].append((t_call + t_coll) * 1e3)
            self.samples[f"search_call_ms.{q.shape}"].append(t_call * 1e3)
            self.samples["collect_ms"].append(t_coll * 1e3)
            return res

        return self._run("search", go, q.shape, serving=True)

    def batch(self, eng: SearchEngine, qs: list[Query], singles: dict[str, list]):
        """``search_many`` over ``qs``; every member must equal the
        single-query answer already in ``singles``."""

        def go():
            spec = {q.qid: (q.text, q.k, q.mode) for q in qs}
            df, t_call = self._timed("planner.search_many", "planner", lambda: eng.search_many(spec))
            rows, t_coll = self._timed("planner.batch_collect", "planner", df.collect)
            by_q: dict[str, list] = defaultdict(list)
            for r in rows:
                by_q[r["query_id"]].append(r)
            for q in qs:
                res = sorted(checks.result_rows(by_q.get(q.qid, [])))
                checks.check_result(res, q.k, q.mode, eng.n_rows)
                if singles.get(q.qid) is not None:
                    checks.check_same(res, singles[q.qid], f"search_many {q.qid} vs search")
            self.samples["batch_ms"].append((t_call + t_coll) * 1e3)
            self.samples["batch_call_ms"].append(t_call * 1e3)
            self.samples["batch_queries"].append(len(qs))
            return rows

        return self._run("search_many", go, serving=True)

    def page(self, eng: SearchEngine, pg: Page, corpus: pd.DataFrame):
        def go():
            if pg.kind == "root":
                pred = filters.root_filter(True)
            else:
                pred = filters.date_filter(pg.start.to_pydatetime(), pg.end.to_pydatetime())
            sp, t_find = self._timed(
                "relational.find_all",
                "relational",
                lambda: relational.find_all(eng.doc_index, page=pg.page, size=PAGE_SIZE, predicate=pred),
            )
            rows, t_coll = self._timed("relational.page_collect", "relational", sp.rows.collect)
            want_total, want_rows = expected_page(corpus, pg)
            checks.check_page(sp.total, [(r["conv_id"], r["turn_idx"]) for r in rows], want_total, want_rows)
            self.samples["browse_ms"].append((t_find + t_coll) * 1e3)
            self.samples["find_all_ms"].append(t_find * 1e3)
            self.samples["page_collect_ms"].append(t_coll * 1e3)
            return rows

        return self._run("find_all", go, serving=True)

    def append(self, index_dir: str, r: int, n_before: int):
        b = self.inputs.batches[r]

        def go():
            df = self.spark.read.parquet(self.files[f"batch{r}"])
            _, dt = self._timed(
                "ingest.append", "ingest", lambda: incremental_append(self.spark, index_dir, df)
            )
            self.samples["append_s"].append(dt)
            self.samples["append_turns"].append(len(b.rows))
            self.samples["ingest_postings_files"].append(dir_stats(os.path.join(index_dir, "postings"))[1])

        self._run("append", go)
        eng = self.open(index_dir)
        if eng is None:
            return None

        def check():
            checks.need(eng.n_rows == n_before + len(b.rows), "n_rows did not grow by the batch size")
            res = checks.result_rows(eng.search(b.marker, k=100).collect())
            checks.check_marker(res, b.marker_keys, b.marker)

        self._run("marker_check", check, serving=True)
        return eng

    def compact(self, index_dir: str):
        def go():
            _, dt = self._timed("compact.compact", "compact", lambda: compact_index(self.spark, index_dir))
            n_bytes, n_files = dir_stats(os.path.join(index_dir, "postings"))
            self.samples["compact_s"].append(dt)
            self.samples["compact_files"].append(n_files)
            self.samples["compact_bytes"].append(n_bytes)

        return self._run("compact", go)

    # ------------------------------------------------------------ sequences

    def burst(self, eng, qs: list[Query], corpus: pd.DataFrame, qgen: QueryGen, batch: bool, pages: int):
        """Searches, optionally one search_many over the same queries,
        and ``pages`` find_all pages (date ranges and root turns in turn)."""
        singles = {q.qid: self.search(eng, q) for q in qs}
        if batch:
            self.batch(eng, qs, singles)
        for i in range(pages):
            self.page(eng, qgen.page(corpus, ("date", "root")[i % 2]), corpus)
        return singles

    def setup(self, work: str, warm_bursts: int) -> SearchEngine | None:
        """Build the base index, open the engine and warm it up.

        The warm-up runs ``warm_bursts`` bursts from a separate query
        stream, the first with its batch and four pages, so later timings
        are steady-state: the Python workers are up, the plans are
        compiled, the index's files are listed and the JVM has compiled
        the result hand-off.  Its samples are dropped."""
        inp = self.inputs
        self.build(os.path.join(work, "ix"))
        eng = self.open(os.path.join(work, "ix"))
        if eng is not None:
            with self._warming():
                for i in range(warm_bursts):
                    qs = inp.warm_queries.burst()
                    self.burst(eng, qs, inp.base, inp.warm_queries, batch=i == 0, pages=4 if i == 0 else 0)
        return eng

    @contextlib.contextmanager
    def _warming(self):
        """Ops inside are warm-up: their samples are dropped and their
        spans are named ``warm:<op>``."""
        kept, self.samples, self.warming = self.samples, defaultdict(list), True
        try:
            yield
        finally:
            self.samples, self.warming = kept, False


def serve(c: Client, eng: SearchEngine, ix: str, seconds: float) -> None:
    """Bursts against the freshly built index until ``seconds`` have passed."""
    inp = c.inputs
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end:
        qs = inp.queries.burst()
        singles = c.burst(eng, qs, inp.base, inp.queries, batch=True, pages=2)
        if not c.answers:
            c.answers = [(q.text, singles[q.qid]) for q in qs if singles[q.qid] is not None]


def ingest_serve(c: Client, eng: SearchEngine, ix: str, seconds: float) -> None:
    """Appends beside reads: ``ROUNDS`` rounds of append → fresh engine →
    marker check → one burst, then compaction, a fresh engine and the last
    burst's queries again, which must answer the same.  The work is fixed,
    not timed, so a faster program runs the same appends and bursts;
    ``seconds`` is not used."""
    inp = c.inputs
    corpus = inp.base
    for r in range(ROUNDS):
        eng = c.append(ix, r, len(corpus)) or eng
        corpus = pd.concat([corpus, inp.batches[r].rows], ignore_index=True)
        qs = inp.queries.burst()
        before = c.burst(eng, qs, corpus, inp.queries, batch=False, pages=4)
    c.compact(ix)
    eng = c.open(ix)
    after = c.burst(eng, qs, corpus, inp.queries, batch=False, pages=4)

    def same():
        for q in qs:
            if before[q.qid] is not None and after[q.qid] is not None:
                checks.check_same(after[q.qid], before[q.qid], f"{q.qid} after compact_index")

    c._run("compact_check", same)
    c.answers = [(q.text, after[q.qid]) for q in qs if after[q.qid] is not None]


WORKLOADS = {"serve": serve, "ingest-serve": ingest_serve}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(c: Client, setup_s: float, rss_mb: float, input_bytes: int) -> dict[str, tuple[float, str]]:
    s = c.samples
    return {
        "setup_s": (setup_s, "s"),
        "search_p50_ms": (_median(s["search_ms"]), "ms"),
        # a mean, not a median: date and root pages cost differently, and a
        # median over a few of each lands on the boundary between them
        "browse_mean_ms": (_mean(s["browse_ms"]), "ms"),
        "index_bytes_per_input_byte": (c.layer.get("builder.index_bytes", 0) / input_bytes, "ratio"),
        "driver_peak_rss_mb": (rss_mb, "MB"),
    }


#: span layers, named after the modules the benchmark calls into
LAYERS = ("session", "builder", "parser", "planner", "ingest", "compact", "relational", "bench")
#: metrics that only a workload with search_many batches produces
BATCH = ("planner.batch_ms", "planner.batch_call_ms", "planner.batch_spark_jobs")
#: metrics that only a workload with appends and compaction produces
WRITE_PATH = (
    "ingest.append_s", "ingest.append_turns_per_s", "ingest.append_spark_jobs",
    "ingest.postings_files", "compact.compact_s", "compact.postings_files_after",
    "compact.bytes_rewritten", "self_s.ingest", "self_s.compact",
)


def per_layer(c: Client, session_s: float) -> tuple[dict[str, tuple[float, str]], dict[str, str]]:
    """Per-layer metrics of a traced run, and why any is absent."""
    s, tr = c.samples, c.tr
    stages = c.manifest.stages if c.manifest else {}
    searches, batches = tr.ops("search"), tr.ops("search_many")
    builds, appends = tr.ops("build"), tr.ops("append")
    stage = lambda name: float(stages.get(name, {}).get("seconds") or 0.0)  # noqa: E731
    self_s = tr.self_times()
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_s, "s"),
        "session.jvm_peak_rss_mb": (c.layer["jvm_peak_rss_mb"], "MB"),
        "builder.build_s": (_median(s["build_s"]), "s"),
        "builder.turns_per_s": (len(c.inputs.base) / _median(s["build_s"]) if s["build_s"] else 0.0, "turns/s"),
        "builder.doc_index_s": (stage("doc_index"), "s"),
        "builder.doc_stats_s": (stage("doc_stats"), "s"),
        "builder.postings_s": (stage("postings"), "s"),
        "builder.term_dict_s": (stage("term_dict"), "s"),
        "builder.spark_jobs": (_mean(o.jobs for o in builds), "count"),
        "builder.spark_tasks": (_mean(o.tasks for o in builds), "count"),
        "builder.postings_bytes": (c.layer.get("builder.postings_bytes", 0), "bytes"),
        "builder.doc_index_bytes": (c.layer.get("builder.doc_index_bytes", 0), "bytes"),
        "builder.term_dict_bytes": (c.layer.get("builder.term_dict_bytes", 0), "bytes"),
        "builder.postings_files": (c.layer.get("builder.postings_files", 0), "count"),
        "parser.parse_us": (_median(tr.durations("parser.parse")) * 1e6, "us"),
        "planner.open_ms": (_median(s["open_ms"]), "ms"),
        **{f"planner.search_call_ms.{sh}": (_median(s[f"search_call_ms.{sh}"]), "ms") for sh in SHAPES},
        "planner.collect_ms": (_median(s["collect_ms"]), "ms"),
        "planner.spark_jobs_per_search": (_mean(o.jobs for o in searches), "count"),
        "planner.spark_tasks_per_search": (_mean(o.tasks for o in searches), "count"),
        "planner.zero_job_share": (_mean(o.jobs == 0 for o in searches), "share"),
        **{
            f"planner.spark_jobs_per_search.{sh}": (_mean(o.jobs for o in searches if o.tag == sh), "count")
            for sh in SHAPES
        },
        "planner.batch_ms": (_median(s["batch_ms"]), "ms"),
        "planner.batch_call_ms": (_median(s["batch_call_ms"]), "ms"),
        "planner.batch_spark_jobs": (_mean(o.jobs for o in batches), "count"),
        "ingest.append_s": (_median(s["append_s"]), "s"),
        "ingest.append_turns_per_s": (
            sum(s["append_turns"]) / sum(s["append_s"]) if s["append_s"] else 0.0, "turns/s"
        ),
        "ingest.append_spark_jobs": (_mean(o.jobs for o in appends), "count"),
        "ingest.postings_files": (s["ingest_postings_files"][-1] if appends else 0, "count"),
        "compact.compact_s": (_median(s["compact_s"]), "s"),
        "compact.postings_files_after": (_median(s["compact_files"]), "count"),
        "compact.bytes_rewritten": (_median(s["compact_bytes"]), "bytes"),
        "relational.find_all_ms": (_median(s["find_all_ms"]), "ms"),
        "relational.page_collect_ms": (_median(s["page_collect_ms"]), "ms"),
        **{f"self_s.{ly}": (self_s.get(ly, 0.0), "s") for ly in LAYERS},
        "trace.bookkeeping_ms_per_op": (tr.bookkeeping_s * 1e3 / max(1, c.attempted), "ms"),
        "trace.search_p50_ms": (_median(s["search_ms"]), "ms"),
    }
    absent = {}
    if not appends:
        absent.update({n: "this workload runs no append or compaction" for n in WRITE_PATH})
    if not batches:
        absent.update({n: "this workload runs no search_many batch" for n in BATCH})
    return m, absent
