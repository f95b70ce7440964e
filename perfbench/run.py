#!/usr/bin/env python3
"""The repository benchmark: named workloads against openmatch_spark's
public API on local[4], every answer checked, one JSON result line.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. --trace 0 prints the end-to-end metrics;
--trace 1 runs the workload traced (Spark event log + one job group per
module) and prints the per-module metrics plus the tracing overhead against
untraced runs. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import measure  # noqa: E402

WORKLOADS = ("bulk_build", "batch_retrieval", "interactive", "churn")

MASTER = "local[4]"
VOCAB = 30000
N_DOCS = 2000  # corpus size of every workload
BUILD = dict(num_shards=8, num_term_buckets=16, block_size=128)
BATCH_QUERIES = 5120  # > 2,048 (executor-side tokenize) and x k > 500k hits
BATCH_K = 100
INTERACTIVE_K = 10
CHURN_UPSERT = 200  # per cycle: half new urls, half new versions
CHURN_DELETE = 50
CHURN_QUERIES = 256
CHURN_K = 100
MAX_CYCLES = 3  # churn batches materialised in set-up
MAX_BATCHES = 6
ORACLE_SAMPLE = 16  # queries per workload checked against BM25Oracle
SCORE_TOL = 1e-9  # engine vs oracle, as tests/test_e2e_bm25.py
TREC_TOL = 5e-7  # TREC files carry scores rounded to 6 decimals
MIN_OPS = {"bulk_build": 1, "batch_retrieval": 1, "interactive": 20, "churn": 1}

# end-to-end metric -> unit (every workload reports all of them)
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
    "index_bytes_per_doc": "B/doc",
    "peak_rss_mb": "MB",
}


class Failed(Exception):
    """A workload operation returned a wrong answer."""


# ------------------------------------------------------------------ inputs


def term_of(rank: int) -> str:
    return "term%06d" % rank


def gen_queries(seed: int, n: int, prefix: str) -> list[tuple[str, str]]:
    """1-5 terms per query, log-uniform ranks over the corpus vocabulary
    (the same skew synth_pages_spark draws document terms with)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    lens = rng.integers(1, 6, size=n)
    ranks = np.floor(np.exp(rng.random(int(lens.sum())) * math.log(VOCAB))).astype(int)
    out, pos = [], 0
    for i, ln in enumerate(lens):
        out.append((f"{prefix}{i:05d}", " ".join(term_of(r) for r in ranks[pos:pos + ln])))
        pos += ln
    return out


def url_of(i: int) -> str:
    """The url synth_pages_spark gives document i."""
    return f"https://site{i % 997}.example/{i}"


# ---------------------------------------------------------------- tracing


class Tracer:
    """Spans around public calls. When on, each span also names the Spark
    job group its jobs are recorded under in the event log."""

    def __init__(self, sc, on: bool):
        self.sc, self.on = sc, on
        self.spans: list[tuple[str, str, float]] = []
        self._groups = [""]

    @contextmanager
    def span(self, module: str, name: str):
        if self.on:
            self._groups.append(module)
            self.sc.setJobGroup(module, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self.on:
                self.spans.append((module, name, time.perf_counter() - t0))
                self._groups.pop()
                self.sc.setJobGroup(self._groups[-1], "")

    def count(self, module: str, name: str) -> int:
        return sum(1 for m, n, _ in self.spans if (m, n) == (module, name))

    def mean(self, module: str, name: str) -> float:
        xs = [d for m, n, d in self.spans if (m, n) == (module, name)]
        return statistics.fmean(xs) if xs else 0.0


# ----------------------------------------------------------------- engine


class Bench:
    """One workload run: owns the session, its work directory and the
    counters that end up in the result line."""

    def __init__(self, args, work: Path):
        self.args, self.work = args, work
        self.attempted = self.failed = 0
        self.named: dict[str, tuple[float, str]] = {}
        self.timings_build: list[dict] = []
        self.timings_compact: list[dict] = []
        self.oracle = None
        self.setup_parts: dict[str, float] = {}

    # -- session
    def start(self) -> None:
        from openmatch_spark import get_spark

        (self.work / "tmp").mkdir(parents=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "3g",
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            # the heap is committed and touched up front, so peak_rss_mb does
            # not swing with how far GC happened to grow it in this run
            "spark.driver.extraJavaOptions": (
                "-Dio.netty.tryReflectionSetAccessible=true -XX:-UsePerfData "
                f"-Xms3g -XX:+AlwaysPreTouch -Djava.io.tmpdir={self.work / 'tmp'}"
            ),
        }
        if self.args.trace:
            (self.work / "eventlog").mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.work / "eventlog"),
                # zstd is the default codec and the zstandard module is
                # absent, so the log is written plain
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=MASTER, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark.sparkContext, bool(self.args.trace))

    def stop(self) -> None:
        """Stop Spark, end the JVM and wait for every process under this one."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        wait_for_children()

    # -- inputs
    def corpus(self, n: int, seed: int):
        from openmatch_spark.fixtures import synth_pages_spark

        return synth_pages_spark(self.spark, n, vocab=VOCAB, seed=seed, partitions=4)

    def write_corpus(self, upserts=None) -> None:
        """The corpus (cycle -1) and any churn pages (cycle >= 0) in one
        parquet table, written by one job."""
        import pyspark.sql.functions as F

        df = self.corpus(N_DOCS, self.args.seed).withColumn("cycle", F.lit(-1))
        if upserts is not None:
            df = df.unionByName(upserts)
        path = str(self.work / "corpus")
        df.write.partitionBy("cycle").parquet(path)
        table = self.spark.read.parquet(path)
        self.pages = table.where(F.col("cycle") == -1).drop("cycle")
        self.upserts = table.where(F.col("cycle") >= 0)

    def queries(self, rows):
        return self.spark.createDataFrame(rows, "query_id string, text string")

    # -- engine calls
    def build(self, index_dir: Path) -> dict:
        from openmatch_spark.index import build_index

        tm: dict = {}
        with self.tracer.span("index.build", "build"):
            stats = build_index(self.spark, self.pages, str(index_dir), timings=tm, **BUILD)
        self.timings_build.append(tm)
        return stats

    def load(self, index_dir: Path):
        from openmatch_spark.index import load_index

        with self.tracer.span("index.load", "load"):
            return load_index(self.spark, str(index_dir))

    def search(self, idx, qdf, k: int, texts=(), trec_path: Path | None = None,
               trace: bool = True):
        """search(...) then collect, or save_as_trec when trec_path is given.
        Traced, the same work is split into its public parts (query_terms,
        search_terms, the action) so each gets its own span; trace=False
        keeps checking searches out of the per-module figures."""
        from openmatch_spark.operators.runio import save_as_trec
        from openmatch_spark.query import search

        if not (self.tracer.on and trace):
            run = search(idx, qdf, k=k)
            if trec_path is None:
                return run.collect()
            save_as_trec(run, str(trec_path))
            return None
        from openmatch_spark.analysis import tokenize_py
        from openmatch_spark.query.bm25_search import query_terms, search_terms

        terms = sorted({t for text in texts for t in tokenize_py(text, idx.stats["analyzer"])})
        with self.tracer.span("index.load", "term_lookup"):
            idx.term_buckets(terms)
        with self.tracer.span("query.bm25_search", "query_terms"):
            matched = query_terms(idx, qdf)
        with self.tracer.span("query.bm25_search", "plan"):
            run = search_terms(idx, matched, k=k)
        with self.tracer.span("query.bm25_search", "exec"):
            if trec_path is None:
                return run.collect()
            t0 = time.perf_counter()
            save_as_trec(run, str(trec_path))
            self.tracer.spans.append(
                ("operators.runio", "save_as_trec", time.perf_counter() - t0)
            )
            return None

    # -- checks
    def op(self, fn):
        """Count and time one operation; returns (seconds, result)."""
        self.attempted += 1
        t0 = time.perf_counter()
        out = fn()
        return time.perf_counter() - t0, out

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            raise Failed(what)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED: {what}", file=sys.stderr)

    def build_oracle(self) -> None:
        from openmatch_spark.oracle import BM25Oracle

        self.oracle = BM25Oracle(
            {r["url"]: r["text"] for r in self.pages.select("url", "text").collect()})

    def check_hits(self, qid: str, text: str, hits: list[tuple[str, float]], k: int,
                   tol: float) -> None:
        """hits: [(doc_id, score)] in rank order; must be rank-identical to
        the oracle's top k with scores within tol."""
        want = self.oracle.search(text, k)
        got_ids = [d for d, _ in hits]
        want_ids = [d for d, _, _ in want]
        self.check(got_ids == want_ids, f"{qid}: doc ids differ from oracle")
        for (d, s), (_, ws, _) in zip(hits, want):
            self.check(abs(s - ws) <= tol, f"{qid}/{d}: score {s} vs oracle {ws}")

    def check_oracle_sample(self, rows, sample) -> None:
        """Search rows (full-precision scores, k=100) of the oracle sample."""
        by = self.rows_by_query(rows)
        self.attempted += 1
        try:
            for qid, text in sample:
                self.check_hits(qid, text, by.get(qid, []), BATCH_K, SCORE_TOL)
        except Failed as e:
            self.fail(str(e))

    def rows_by_query(self, rows) -> dict[str, list[tuple[str, float]]]:
        by: dict[str, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            by.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        return by


def wait_for_children(timeout_s: float = 30.0) -> None:
    """Wait until no process under this one remains; kill stragglers."""
    import signal

    deadline = time.monotonic() + timeout_s
    while True:
        kids = descendants(os.getpid())
        if not kids:
            return
        if time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.1)
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass


def descendants(root: int) -> list[int]:
    kids = measure._children_map()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def read_trec(path: Path) -> dict[str, list[tuple[str, int, float]]]:
    by: dict[str, list] = {}
    for f in sorted(path.glob("part-*")):
        for line in f.read_text().splitlines():
            qid, _q0, doc, rank, score, _run = line.split()
            by.setdefault(qid, []).append((doc, int(rank), float(score)))
    return by


# -------------------------------------------------------------- workloads


def timed_loop(b: Bench, min_ops: int, max_ops: int, step) -> list[float]:
    """Closed loop, one client: run step(i) back to back until --seconds
    have passed and at least min_ops ran. Returns per-op seconds."""
    times: list[float] = []
    t_end = time.perf_counter() + b.args.seconds
    i = 0
    while i < max_ops and (i < min_ops or time.perf_counter() < t_end):
        try:
            times.append(step(i))
        except Failed as e:
            b.fail(str(e))
        except Exception as e:  # an engine error fails the op and ends the loop
            traceback.print_exc()
            b.fail(f"op {i}: {type(e).__name__}: {e}")
            break
        i += 1
    return times


@contextmanager
def setup_phase(b: Bench, name: str):
    """Time one set-up step; setup_s is session start plus all of them."""
    t0 = time.perf_counter()
    yield
    b.setup_parts[name] = b.setup_parts.get(name, 0.0) + time.perf_counter() - t0


def setup_common(b: Bench, upserts=None) -> None:
    with setup_phase(b, "corpus"):
        b.write_corpus(upserts)


def run_bulk_build(b: Bench) -> dict:
    setup_common(b)
    # the first build in a session is the cold one (Python workers, JIT)
    with setup_phase(b, "warmup"), b.tracer.span("session", "warmup"):
        b.build(b.work / "warm")
    shutil.rmtree(b.work / "warm")
    b.timings_build.clear()
    b.build_oracle()
    sizes = []

    def step(i):
        d = b.work / f"idx{i}"
        dt, stats = b.op(lambda: b.build(d))
        b.check(int(stats["n_docs"]) == N_DOCS, f"build {i}: n_docs {stats['n_docs']}")
        sizes.append(dir_bytes(d))
        if i:
            shutil.rmtree(b.work / f"idx{i - 1}")
        b.last_index = d
        return dt

    times = timed_loop(b, MIN_OPS["bulk_build"], 50, step)
    sample = oracle_sample(b)
    b.check_oracle_sample(
        b.search(b.load(b.last_index), b.queries(sample), BATCH_K, trace=False), sample)
    b.named["build_docs_per_s"] = (N_DOCS * len(times) / sum(times), "docs/s")
    return {"times": times, "items": N_DOCS * len(times),
            "index_bytes": statistics.median(sizes), "live_docs": N_DOCS}


def oracle_sample(b: Bench) -> list[tuple[str, str]]:
    """The fixed per-seed query sample checked against BM25Oracle."""
    return gen_queries(b.args.seed * 100 + 99, ORACLE_SAMPLE, "o")


def setup_indexed(b: Bench, warm, upserts=None) -> list:
    """Corpus and base index, then one search of `warm` at k=100 so the
    query path is warm before anything is timed. Returns its rows."""
    setup_common(b, upserts)
    b.base = b.work / "base"
    with setup_phase(b, "base_build"):
        b.build(b.base)
    with setup_phase(b, "warmup"), b.tracer.span("session", "warmup"):
        b.idx = b.load(b.base)
        return b.search(b.idx, b.queries(warm), BATCH_K, trace=False)


def run_batch_retrieval(b: Bench) -> dict:
    batches = [gen_queries(b.args.seed * 100 + i, BATCH_QUERIES, f"b{i}-")
               for i in range(MAX_BATCHES)]
    sample = oracle_sample(b)
    rows = setup_indexed(b, sample)
    b.build_oracle()
    b.check_oracle_sample(rows, sample)
    trec_bytes: list[int] = []

    def step(i):
        out = b.work / "runs" / f"b{i}"
        texts = [t for _, t in batches[i]] if b.tracer.on else ()
        dt, _ = b.op(lambda: b.search(b.idx, b.queries(batches[i]), BATCH_K, texts, out))
        got = read_trec(out)
        for qid, hits in got.items():
            ranks = [r for _, r, _ in hits]
            scores = [s for _, _, s in hits]
            b.check(ranks == list(range(1, len(hits) + 1)) and len(hits) <= BATCH_K,
                    f"batch {i} {qid}: bad ranks")
            b.check(scores == sorted(scores, reverse=True), f"batch {i} {qid}: unsorted")
        for qid, text in batches[i][:ORACLE_SAMPLE]:
            b.check_hits(qid, text, [(d, s) for d, _, s in got.get(qid, [])],
                         BATCH_K, TREC_TOL)
        trec_bytes.append(dir_bytes(out))
        shutil.rmtree(out)
        return dt

    times = timed_loop(b, MIN_OPS["batch_retrieval"], MAX_BATCHES, step)
    b.named["batch_queries_per_s"] = (BATCH_QUERIES * len(times) / sum(times), "queries/s")
    return {"times": times, "items": BATCH_QUERIES * len(times),
            "trec_bytes": statistics.fmean(trec_bytes),
            "index_bytes": dir_bytes(b.base), "live_docs": N_DOCS}


def run_interactive(b: Bench) -> dict:
    requests = gen_queries(b.args.seed * 100 + 7, 10000, "i")
    sample = oracle_sample(b)
    rows = setup_indexed(b, sample)
    b.build_oracle()
    b.check_oracle_sample(rows, sample)
    answers = []

    def step(i):
        qid, text = requests[i]

        def call():
            return b.search(b.idx, b.queries([(qid, text)]), INTERACTIVE_K, [text])

        dt, rows = b.op(call)
        answers.append((qid, text, rows))
        return dt

    times = timed_loop(b, MIN_OPS["interactive"], len(requests), step)
    for qid, text, rows in answers[:ORACLE_SAMPLE]:
        try:
            b.check_hits(qid, text, b.rows_by_query(rows).get(qid, []),
                         INTERACTIVE_K, SCORE_TOL)
        except Failed as e:
            b.fail(str(e))
    summ = measure.timing_summary(times)
    b.named["query_p50_ms"] = (summ["p50"] * 1e3, "ms")
    if "tail" in summ:
        b.named[f"query_p{summ['tail_p']:g}_ms"] = (summ["tail"] * 1e3, "ms")
    return {"times": times, "items": len(times),
            "index_bytes": dir_bytes(b.base), "live_docs": N_DOCS}


def churn_inputs(b: Bench):
    """Per cycle: the urls upserted (half new, half existing), the urls
    deleted (existing, never upserted) and a query batch."""
    import numpy as np

    perm = np.random.default_rng(b.args.seed * 100 + 3).permutation(N_DOCS)
    half = CHURN_UPSERT // 2
    per = half + CHURN_DELETE
    cycles = []
    for c in range(MAX_CYCLES):
        taken = perm[c * per:(c + 1) * per]
        new = [url_of(N_DOCS + c * half + j) for j in range(half)]
        cycles.append({
            "upsert": new + [url_of(int(i)) for i in taken[:half]],
            "delete": [url_of(int(i)) for i in taken[half:]],
        })
    return cycles


def churn_pages(b: Bench, cycles):
    """Every cycle's pages, tagged with their cycle. Page j of cycle c ends
    with the token churnmark<c>x<j>, found in no other page, so searching
    it tells the new version of a url from the old one."""
    import pyspark.sql.functions as F

    urls = b.spark.createDataFrame(
        [(c * CHURN_UPSERT + j, c, j, u) for c, cyc in enumerate(cycles)
         for j, u in enumerate(cyc["upsert"])],
        "g int, cycle int, j int, new_url string")
    pages = b.corpus(len(cycles) * CHURN_UPSERT, b.args.seed * 1000 + 1).withColumn(
        "g", F.element_at(F.split("url", "/"), -1).cast("int"))
    text = F.concat_ws(" ", "text", F.concat(F.lit("churnmark"), "cycle", F.lit("x"), "j"))
    return pages.join(urls, "g").select(
        F.col("new_url").alias("url"), "warc_ts", F.encode(text, "utf-8").alias("html"),
        text.alias("text"), "lang", "cycle")


def marker_queries(c: int, cyc) -> list[tuple[str, str, str]]:
    return [(f"m{c}x{j}", f"churnmark{c}x{j}", u) for j, u in enumerate(cyc["upsert"])]


def compact_all(b: Bench) -> int:
    """compact_auto's plan-and-merge loop over public calls, keeping each
    merge's timings."""
    from openmatch_spark.index import compact_index, load_index, plan_compaction

    merges = 0
    with b.tracer.span("index.compact", "compact"):
        while True:
            plan = plan_compaction(load_index(b.spark, str(b.base)).manifest.collect())
            if not plan:
                return merges
            for group in plan:
                tm: dict = {}
                compact_index(b.spark, str(b.base), shards=group, timings=tm)
                b.timings_compact.append(tm)
                merges += 1


def run_churn(b: Bench) -> dict:
    import pyspark.sql.functions as F
    from openmatch_spark.index import delete_docs, upsert_docs

    cycles = churn_inputs(b)
    batches = [gen_queries(b.args.seed * 100 + 50 + c, CHURN_QUERIES, f"c{c}-")
               for c in range(MAX_CYCLES)]
    setup_indexed(b, gen_queries(1, 1, "warm"), churn_pages(b, cycles))
    deleted: set[str] = set()
    up_t, del_t, q_t = [], [], []

    def churn_query(rows, marks) -> dict:
        """Search `rows` plus one query per marker; no deleted doc may come
        back and each marker must return exactly its url."""
        rows = rows + [m[:2] for m in marks]
        by = b.rows_by_query(b.search(b.load(b.base), b.queries(rows), CHURN_K,
                                      [t for _, t in rows]))
        for qid, hits in by.items():
            ids = [d for d, _ in hits]
            b.check(len(ids) == len(set(ids)), f"{qid}: doc returned twice")
            b.check(not deleted.intersection(ids), f"{qid}: deleted doc returned")
        for qid, _, url in marks:
            b.check([d for d, _ in by.get(qid, [])] == [url],
                    f"{qid}: {url} not served at its new version")
        return by

    last = {}

    def step(c):
        cyc = cycles[c]

        def cycle():
            t0 = time.perf_counter()
            with b.tracer.span("index.deletes", "upsert"):
                upsert_docs(b.spark, b.upserts.where(F.col("cycle") == c).drop("cycle"),
                            str(b.base))
            t1 = time.perf_counter()
            with b.tracer.span("index.deletes", "delete"):
                res = delete_docs(b.spark, str(b.base), cyc["delete"])
            t2 = time.perf_counter()
            b.check(res["n_new"] == CHURN_DELETE, f"cycle {c}: deleted {res['n_new']}")
            deleted.update(cyc["delete"])
            last["marks"] = marker_queries(c, cyc)
            last["by"] = churn_query(batches[c], last["marks"])
            up_t.append(t1 - t0)
            del_t.append(t2 - t1)
            q_t.append(time.perf_counter() - t2)

        dt, _ = b.op(cycle)
        return dt

    times = timed_loop(b, MIN_OPS["churn"], MAX_CYCLES, step)
    n_cycles = len(up_t)
    # compaction, then the last cycle's batch again: results must not change
    b.attempted += 1
    t0 = time.perf_counter()
    merges = compact_all(b)
    compact_s = time.perf_counter() - t0
    try:
        after = churn_query(batches[n_cycles - 1], last["marks"])
        b.check(merges > 0, "compaction merged nothing")
        before = last["by"]
        for qid in set(before) | set(after):
            x, y = before.get(qid, []), after.get(qid, [])
            b.check([d for d, _ in x] == [d for d, _ in y]
                    and all(abs(s - t) <= SCORE_TOL for (_, s), (_, t) in zip(x, y)),
                    f"{qid}: results changed by compaction")
    except Failed as e:
        b.fail(str(e))
    tail_s = time.perf_counter() - t0
    live = N_DOCS + n_cycles * (CHURN_UPSERT // 2) - n_cycles * CHURN_DELETE
    b.named["upsert_docs_per_s"] = (CHURN_UPSERT * n_cycles / sum(up_t), "docs/s")
    b.named["delete_p50_s"] = (statistics.median(del_t), "s")
    b.named["churn_query_p50_s"] = (statistics.median(q_t), "s")
    b.named["compact_s"] = (compact_s, "s")
    b.merges = merges
    return {"times": times, "items": (CHURN_UPSERT + CHURN_DELETE) * n_cycles,
            "extra_s": tail_s, "index_bytes": dir_bytes(b.base), "live_docs": live}


RUNNERS = {
    "bulk_build": run_bulk_build,
    "batch_retrieval": run_batch_retrieval,
    "interactive": run_interactive,
    "churn": run_churn,
}


# ---------------------------------------------------------------- results


def end_to_end(b: Bench, res: dict, peak_mb: float) -> dict:
    times = res["times"]
    return {
        "setup_s": b.start_s + sum(b.setup_parts.values()),
        "op_p50_ms": statistics.median(times) * 1e3,
        "items_per_s": res["items"] / (sum(times) + res.get("extra_s", 0.0)),
        "index_bytes_per_doc": res["index_bytes"] / res["live_docs"],
        "peak_rss_mb": peak_mb,
    }


def per_layer(b: Bench, res: dict, groups: dict, untraced_p50_ms: float) -> dict:
    """Per-module metrics from spans and the event log, per call."""
    tr = b.tracer
    z = dict.fromkeys(measure._COUNTERS, 0)

    def g(module: str) -> dict:
        return groups.get(module, z)

    def per_call(module: str, key: str, calls: int) -> float:
        return g(module)[key] / calls if calls else 0.0

    n_build = len(b.timings_build)
    n_search = tr.count("query.bm25_search", "plan")
    n_del = tr.count("index.deletes", "upsert") + tr.count("index.deletes", "delete")
    n_compact = len(b.timings_compact)

    def build_phase(k):
        return statistics.fmean(t.get(k, 0.0) for t in b.timings_build) if n_build else 0.0

    def compact_phase(k):
        return statistics.fmean(t.get(k, 0.0) for t in b.timings_compact) if n_compact else 0.0

    m = {
        "session.start_s": b.start_s,
        "session.warmup_s": tr.mean("session", "warmup"),
        "analysis.tokenize_docs_per_s": b.tokenize_docs_per_s,
    }
    for k in ("stats_phase", "docmap_write", "postings_write", "manifest_commit", "dict_extend"):
        m[f"index.build.{k}_s"] = build_phase(k)
    for k in ("tasks", "shuffle_write_bytes", "spill_bytes", "gc_s"):
        m[f"index.build.{k}"] = per_call("index.build", k, n_build)
    m["index.load.load_s"] = tr.mean("index.load", "load")
    m["index.load.term_lookup_s"] = tr.mean("index.load", "term_lookup")
    m["index.load.jobs"] = per_call("index.load", "jobs", n_search)
    m["query.bm25_search.query_terms_s"] = tr.mean("query.bm25_search", "query_terms")
    m["query.bm25_search.plan_s"] = tr.mean("query.bm25_search", "plan")
    m["query.bm25_search.exec_s"] = tr.mean("query.bm25_search", "exec")
    for k, src in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                   ("postings_rows_read", "input_rows"), ("shuffle_bytes", "shuffle_read_bytes"),
                   ("sched_wait_s", "sched_wait_s"), ("cpu_s", "cpu_s")):
        m[f"query.bm25_search.{k}"] = per_call("query.bm25_search", src, n_search)
    m["operators.runio.save_as_trec_s"] = tr.mean("operators.runio", "save_as_trec")
    m["operators.runio.bytes_written"] = res.get("trec_bytes", 0.0)
    m["index.deletes.delete_s"] = tr.mean("index.deletes", "delete")
    m["index.deletes.upsert_s"] = tr.mean("index.deletes", "upsert")
    m["index.deletes.jobs"] = per_call("index.deletes", "jobs", n_del)
    m["index.compact.docmap_s"] = compact_phase("docmap_sec")
    m["index.compact.postings_s"] = compact_phase("postings_sec")
    m["index.compact.commit_s"] = compact_phase("commit_sec")
    m["index.compact.merges"] = getattr(b, "merges", 0)
    m["index.compact.bytes_rewritten"] = g("index.compact")["bytes_written"]
    for module in MODULES:
        m[f"{module}.failed_tasks"] = g(module)["failed_tasks"]
        m[f"{module}.retried_stages"] = g(module)["retried_stages"]
    traced_p50_ms = statistics.median(res["times"]) * 1e3
    m["trace.overhead_frac"] = traced_p50_ms / untraced_p50_ms - 1.0
    return m


MODULES = ("session", "analysis", "index.build", "index.load", "query.bm25_search",
           "operators.runio", "index.deletes", "index.compact")


def tokenize_pass(b: Bench) -> None:
    """Standalone analysis pass over the workload corpus (traced run only)."""
    import pyspark.sql.functions as F
    from openmatch_spark.analysis import tokenize_col

    t0 = time.perf_counter()
    with b.tracer.span("analysis", "tokenize"):
        b.pages.select(F.sum(F.size(tokenize_col(F.col("text"))))).collect()
    b.tokenize_docs_per_s = N_DOCS / (time.perf_counter() - t0)


RESULTS = ROOT / ".perfbench_results"


def result_path(args) -> Path:
    return RESULTS / f"{args.workload}-{args.seed}-{args.seconds:g}.json"


def untraced_baseline(args) -> tuple[float, dict | None]:
    """(op_p50_ms of untraced runs, child result). The baseline is the
    median over the results earlier untraced runs of this workload and
    length saved in this checkout; with none saved, the same workload and
    seed run untraced in a child process first, and its result is returned
    too so its operations count in this run's totals."""
    saved = sorted(RESULTS.glob(f"{args.workload}-*-{args.seconds:g}.json"))
    child = None
    if not saved:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", f"{args.seconds:g}", "--trace", "0"]
        out = subprocess.run(cmd, stdout=subprocess.DEVNULL, timeout=600)
        if out.returncode != 0:
            raise RuntimeError(f"untraced run exited {out.returncode}")
        saved = [result_path(args)]
        child = json.loads(saved[0].read_text())
    p50s = [json.loads(f.read_text())["metrics"]["op_p50_ms"]["value"] for f in saved]
    return statistics.median(p50s), child


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # numpy generators take non-negative seeds and derived seeds (seed * 1000
    # + c) must fit Spark's 64-bit literals
    args.seed %= 2**31

    if not (ROOT / "openmatch_spark" / "__init__.py").is_file():
        print(f"perfbench: no openmatch_spark package under {ROOT}", file=sys.stderr)
        return 2

    baseline_ms, untraced = untraced_baseline(args) if args.trace else (None, None)

    # Python workers import the package from the checkout; every temporary
    # file stays inside the checkout's own work directory
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    sys.path.insert(0, str(ROOT))

    b = Bench(args, work)
    try:
        with measure.PeakRssSampler() as rss:
            b.start()
            try:
                res = RUNNERS[args.workload](b)
                if args.trace:
                    tokenize_pass(b)
            finally:
                b.stop()
        if args.trace:
            groups = measure.aggregate_event_log(measure.read_event_logs(str(work / "eventlog")))
            metrics = per_layer(b, res, groups, baseline_ms)
            units = PER_LAYER_UNITS
        else:
            metrics = end_to_end(b, res, rss.peak_mb)
            units = END_TO_END
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = b.attempted + (untraced["attempted"] if untraced else 0)
    failed = b.failed + (untraced["failed"] if untraced else 0)
    b.named["fail_frac"] = (failed / attempted, "ratio")
    for name, value in metrics.items():
        print(f"{name:40s} {value:16.6f} {units[name]}")
    for name, value in b.setup_parts.items():
        b.named[f"setup.{name}_s"] = (value, "s")
    for name, (value, unit) in b.named.items():
        print(f"{args.workload}.{name:31s} {value:16.6f} {unit}")
    result = json.dumps({
        "correct": failed == 0 and (untraced is None or untraced["correct"]),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    })
    if not args.trace:
        result_path(args).parent.mkdir(exist_ok=True)
        result_path(args).write_text(result)
    print(result)
    return 0


def _per_layer_units() -> dict:
    units = {"session.start_s": "s", "session.warmup_s": "s",
             "analysis.tokenize_docs_per_s": "docs/s"}
    for k in ("stats_phase", "docmap_write", "postings_write", "manifest_commit", "dict_extend"):
        units[f"index.build.{k}_s"] = "s"
    units.update({"index.build.tasks": "count", "index.build.shuffle_write_bytes": "B",
                  "index.build.spill_bytes": "B", "index.build.gc_s": "s",
                  "index.load.load_s": "s", "index.load.term_lookup_s": "s",
                  "index.load.jobs": "count",
                  "query.bm25_search.query_terms_s": "s", "query.bm25_search.plan_s": "s",
                  "query.bm25_search.exec_s": "s", "query.bm25_search.jobs": "count",
                  "query.bm25_search.stages": "count", "query.bm25_search.tasks": "count",
                  "query.bm25_search.postings_rows_read": "count",
                  "query.bm25_search.shuffle_bytes": "B",
                  "query.bm25_search.sched_wait_s": "s", "query.bm25_search.cpu_s": "s",
                  "operators.runio.save_as_trec_s": "s", "operators.runio.bytes_written": "B",
                  "index.deletes.delete_s": "s", "index.deletes.upsert_s": "s",
                  "index.deletes.jobs": "count",
                  "index.compact.docmap_s": "s", "index.compact.postings_s": "s",
                  "index.compact.commit_s": "s", "index.compact.merges": "count",
                  "index.compact.bytes_rewritten": "B"})
    for module in MODULES:
        units[f"{module}.failed_tasks"] = "count"
        units[f"{module}.retried_stages"] = "count"
    units["trace.overhead_frac"] = "ratio"
    return units


PER_LAYER_UNITS = _per_layer_units()

if __name__ == "__main__":
    sys.exit(main())
