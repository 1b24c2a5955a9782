"""The benchmark's workloads: ``search`` and ``ingest``.

Both are closed loops with one client. Each drives the engine's public
entry points (``build_index``, ``merge_index``, ``IndexSearcher``,
``search_batch``) from this driver process and checks every answer
against the NumPy BM25 oracle after the timed windows.
"""

from __future__ import annotations

import functools
import os
import time
from collections import Counter

import numpy as np
import pandas as pd

from checks import batch_rows_to_hits, count_wrong
from gen import KOALA_DOC, QUERY_MIX, Corpus, Generator
from tracing import median, request_stats

K = 10
# search_batch input: this many queries per timed call and timed calls
# per run, after BATCH_WARM_CALLS untimed calls of BATCH_WARM_QUERIES (one
# task per core each). Spark hands tasks to its idle Python workers in
# turn (first in, first out) and a build leaves about twice as many idle
# workers as cores, so the warm calls must reach every pooled worker; with
# fewer, a timed call that lands on a worker without a searcher pays the
# open and the timed calls alternate fast and slow.
BATCH_QUERIES = 100
BATCH_CALLS = 5
BATCH_WARM_CALLS = 4
BATCH_WARM_QUERIES = 16

# The timed work is a fixed function of --seconds, not of how fast a run
# goes: search times round(seconds * query_rate) queries and ingest makes
# round(seconds / merge_seconds) merges (rates near those of a 4-core
# host), so every run of a seed measures the same queries in the same
# cache states. Every timed query list is replayed on `rounds` fresh
# searchers (see _rounds). min_queries and probes x min_merges keep at
# least ten samples beyond query_p90_ms.
# The ingest base index is not timed (it is set-up), so its documents
# carry only base_ident_rate identifiers: a bigger base at the same set-up
# cost, whose probes do more work per query. Every merge batch, the timed
# write, has the full F1 identifier share.
SIZES = {
    "full": {"docs": 500, "query_rate": 15, "min_queries": 150,
             "rounds": 3, "opens": 20, "base_docs": 900,
             "base_ident_rate": 0.003, "warm_batch": (20, 5, 5),
             "batch": (120, 40, 20), "merge_seconds": 5, "min_merges": 2,
             "reopens": 5, "probes": 80, "overhead_queries": 100},
    # smoke size for the self-test
    "tiny": {"docs": 200, "query_rate": 40, "min_queries": 40,
             "rounds": 2, "opens": 3, "base_docs": 150,
             "base_ident_rate": 0.003, "warm_batch": (5, 2, 2),
             "batch": (10, 5, 3), "merge_seconds": 4, "min_merges": 2,
             "reopens": 1, "probes": 20, "overhead_queries": 10},
}


class Run:
    """What one benchmark run accumulates: end-to-end metrics, per-layer
    metrics, operation counts and check failures."""

    def __init__(self, bench):
        self.b = bench
        self.size = SIZES[bench.args.size]
        self.e2e: dict = {}
        self.layer: dict = {}
        self.attempted = 0
        self.failed = 0
        self.notes: list = []
        self.inputs: dict = {}
        # seconds since process start at the end of each phase
        self.phases: dict = {}

    def mark(self, phase: str):
        self.phases[phase] = round(self.b.elapsed(), 2)

    def checked(self, n_ops: int, n_wrong: int, what: str):
        """Count ``n_ops`` checked operations, ``n_wrong`` of them wrong."""
        self.attempted += n_ops
        if n_wrong:
            self.failed += n_wrong
            self.notes.append(f"{n_wrong} {what}")


# ------------------------------------------------------------------ helpers

def _file_sizes(path: str) -> dict:
    """file path -> size for every file under ``path``."""
    return {os.path.join(r, f): os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path) for f in fs}


def _index_bytes(path: str) -> int:
    return sum(_file_sizes(path).values())


def _write_input(run: Run, corpus: Corpus, name: str):
    path = os.path.join(run.b.work, name)
    corpus.to_pandas().to_parquet(path)
    return run.b.spark.read.parquet(path)


def _timed_queries(run: Run, searcher, queries, label: str):
    """Run ``queries`` [(cls, q)] on ``searcher``; return
    [(cls, q, seconds, hits or None)]. A query that raises has no hits,
    which its check counts as a failed operation."""
    out = []
    tr = run.b.tracer
    for cls, q in queries:
        if tr:
            tr.request = len(tr.spans)
        t0 = time.perf_counter()
        try:
            if tr:
                with tr.span(label, cls=cls):
                    hits = searcher.search(q, K)
            else:
                hits = searcher.search(q, K)
        except Exception as e:
            run.notes.append(f"{cls} query raised {type(e).__name__}: {q}")
            hits = None
        out.append((cls, q, time.perf_counter() - t0, hits))
    if tr:
        tr.request = None
    return out


def _rounds(run: Run, index_dir: str, open_qs, queries):
    """The timed reads, in ``rounds`` identical rounds. A round opens a
    fresh searcher for each of ``open_qs`` and times it with its first
    query, then opens one searcher that serves all of ``queries``. A
    fresh searcher starts with empty caches, so every round does the same
    work in the same cache states, and an operation's fastest round is
    its latency with the host's passing interference left out (on a
    shared 4-core VM one round of queries can run 1.5x slower than the
    next). Returns (open milliseconds per open query,
    [(cls, q, fastest seconds, hits)] per query, every round's answers
    [(q, hits)])."""
    from lucille_spark.query.searcher import IndexSearcher

    opens = [float("inf")] * len(open_qs)
    rounds, answers = [], []
    for _ in range(run.size["rounds"]):
        for i, q in enumerate(open_qs):
            dt, hits, _ = _open_first_query(run, index_dir, q)
            opens[i] = min(opens[i], dt * 1e3)
            answers.append((q, hits))
        rounds.append(_timed_queries(run, IndexSearcher(index_dir),
                                     queries, "bench.query"))
        answers += [(q, h) for _, q, _, h in rounds[-1]]
    best = [(cls, q, min(r[i][2] for r in rounds), rounds[0][i][3])
            for i, (cls, q) in enumerate(queries)]
    return opens, best, answers


def _background_cpu() -> float:
    """CPU seconds used so far by the Spark JVM and its Python workers."""
    from pyspark import SparkContext

    from tracing import cpu_seconds, descendants

    jvm = SparkContext._gateway.proc.pid
    return cpu_seconds([jvm] + descendants(jvm))


def _latency_metrics(run: Run, samples):
    ms = np.array([s[2] * 1e3 for s in samples])
    run.e2e["query_p50_ms"] = float(np.percentile(ms, 50))
    run.e2e["query_p90_ms"] = float(np.percentile(ms, 90))
    run.inputs["query_samples"] = int(ms.size)


def _open_first_query(run: Run, index_dir: str, query: str):
    """Fresh IndexSearcher plus its first query:
    (seconds, hits, searcher)."""
    from lucille_spark.query.searcher import IndexSearcher

    t0 = time.perf_counter()
    s = IndexSearcher(index_dir)
    hits = s.search(query, K)
    return time.perf_counter() - t0, hits, s


def _batch(run: Run, index_dir: str, queries, oracle_check):
    """Traced runs only: search_batch over BATCH_CALLS calls of
    BATCH_QUERIES distinct queries each, so no call reuses answers a
    worker cached in an earlier one. Untimed calls before them start the
    Python workers and their searchers. Every answer of a timed call goes
    through ``oracle_check`` as one operation."""
    from lucille_spark.query import executor_df

    b = run.b
    warm, calls, stages, answers = [], [], [], []
    sizes = ([BATCH_WARM_QUERIES] * BATCH_WARM_CALLS
             + [BATCH_QUERIES] * BATCH_CALLS)
    start = 0
    for i, n in enumerate(sizes):
        part, start = queries[start:start + n], start + n
        qs = [(str(j), q) for j, (_, q) in enumerate(part)]
        with b.stage_group("batch") as rec:
            t0 = time.perf_counter()
            rows = executor_df.search_batch(b.spark, index_dir, qs, k=K) \
                .collect()
            dt = time.perf_counter() - t0
        stages.append(b.stages.read(rec))
        if i < BATCH_WARM_CALLS:
            warm.append(dt)
            continue
        calls.append(dt)
        by_id = batch_rows_to_hits(rows)
        answers += [(q, by_id.get(qid, [])) for qid, q in qs]
    run.inputs["batch_call_s"] = [round(t, 3) for t in warm + calls]
    timed = stages[BATCH_WARM_CALLS:]
    run.layer.update({
        "batch.qps": BATCH_QUERIES / median(calls),
        "batch.call_s": median(calls),
        "batch.first_call_s": warm[0],
        "batch.tasks": median(s["tasks"] for s in timed),
        "batch.executor_run_s": median(s["executor_run_s"] for s in timed),
        "batch.driver_gap_s": median(s["driver_gap_s"] for s in timed),
    })
    run.checked(len(answers), oracle_check(answers),
                "search_batch answers differ from the oracle")


def _builder_layer(run: Run, stage: dict, index_dir: str, content_bytes):
    out = {f"builder.{k}": v for k, v in stage.items()
           if k not in ("job_s", "job_list")}
    run.b.tracer.jobs += stage["job_list"]
    for kind in ("doc_stats", "postings", "lexicon", "other"):
        out[f"builder.job_s.{kind}"] = stage["job_s"].get(kind, 0.0)
    unsplit = [k for k in ("doc_stats", "postings", "lexicon")
               if not out[f"builder.job_s.{k}"]]
    if unsplit:
        # the plan text no longer names the tables: fail, do not report 0
        raise RuntimeError(f"no builder job attributed to {unsplit}; "
                           f"jobs: {stage['job_list']}")
    for table in ("postings", "lexicon", "doc_stats"):
        out[f"builder.output_bytes.{table}"] = _index_bytes(
            os.path.join(index_dir, table))
    out["builder.shuffle_bytes_per_content_byte"] = (
        stage["shuffle_write_bytes"] / content_bytes)
    run.layer.update(out)


def _build(run: Run, corpus_df, index_dir: str, content_bytes: int):
    """One full build_index, job-grouped and traced in traced runs."""
    from lucille_spark.index import builder

    b = run.b
    with b.stage_group("builder") as rec:
        stats = builder.build_index(corpus_df, index_dir,
                                    fields=("content",),
                                    store_positions=True)
    if b.tracer:
        _builder_layer(run, b.stages.read(rec, b.builder_jobs), index_dir,
                       content_bytes)
    return stats


def _check_corpus_stats(run: Run, stats: dict, expected: dict):
    """build_index's corpus stats against the generator's own counts (the
    build is one operation)."""
    want_avgdl = expected["total_terms"] / expected["docs"]
    ok = (stats["n_docs"] == expected["docs"]
          and abs(stats["avgdl"]["content"] - want_avgdl) <= 1e-9 * want_avgdl)
    run.checked(1, 0 if ok else 1, f"corpus stats {stats} != {expected}")


def _reader_layer(run: Run, root: str):
    """Per-query means of every reader/parser span under ``root`` spans,
    plus per-class p50 search time and the searcher's own time."""
    tr = run.b.tracer
    per = request_stats(tr, root)
    n = max(1, len(per))
    times = tr.self_times()

    def mean(name, i):
        return sum(d.get(name, (0.0, 0))[i] for d in per.values()) / n

    out = {
        "reader.term_info_ms": mean("reader.term_info", 0),
        "reader.term_info_calls": mean("reader.term_info", 1),
        "reader.decode_ms": mean("reader.decode", 0),
        "reader.decode_calls": mean("reader.decode", 1),
        "reader.blocks_ms": mean("reader.blocks", 0),
        "reader.blocks_calls": mean("reader.blocks", 1),
        "reader.doc_ids_ms": mean("reader.doc_ids", 0),
        "parser.parse_ms": mean("parser.parse", 0),
        "parser.expand_ms": mean("parser.expand", 0),
    }
    spans = tr.finished()
    roots = {s["id"] for s in spans if s["name"] == root}
    in_req = [s for s in spans if s["request"] in roots]
    out["reader.blocks_rows"] = sum(s.get("rows", 0) for s in in_req
                                    if s["name"] == "reader.blocks") / n
    dec = sum(d.get("reader.decode", (0, 0))[1] for d in per.values())
    blk = sum(d.get("reader.blocks", (0, 0))[1] for d in per.values())
    out["reader.decode_hit_ratio"] = 1.0 - blk / dec if dec else 0.0
    expanded = 0
    for kind in ("fuzzy", "prefix", "range"):
        ex = [s for s in in_req if s["name"] == f"reader.expand.{kind}"]
        out[f"reader.expand_ms.{kind}"] = median(
            (s["end"] - s["start"]) * 1e3 for s in ex)
        out[f"reader.expand_terms.{kind}"] = median(s["terms"] for s in ex)
        expanded += sum(s["terms"] for s in ex)
    out["parser.expanded_terms"] = expanded / n
    by_id = {s["id"]: s for s in spans}
    by_cls, self_ms = {}, []
    for s in spans:
        parent = by_id.get(s["parent"], {})
        if s["name"] == "searcher.search" and parent.get("name") == root:
            by_cls.setdefault(parent["cls"], []).append(
                times[s["id"]][0] * 1e3)
            self_ms.append(times[s["id"]][1] * 1e3)
    for cls, _ in QUERY_MIX:
        out[f"searcher.search_ms.{cls}"] = median(by_cls.get(cls, []))
    out["searcher.self_ms"] = median(self_ms)
    opens = [s for s in spans if s["name"] == "reader.open"]
    out["reader.open_ms"] = median((s["end"] - s["start"]) * 1e3
                                   for s in opens)
    out["reader.postings_files"] = opens[-1]["postings_files"] if opens else 0
    out["reader.cursors"] = sum(1 for s in spans
                                if s["name"] == "reader.cursor")
    run.layer.update(out)


def _trace_overhead(run: Run, searcher, queries):
    """Replay ``queries`` untraced, then traced; the relative difference
    of the two totals is the tracing overhead."""
    tr = run.b.tracer
    tr.unwrap_all()
    run.b.tracer = None
    t0 = time.perf_counter()
    _timed_queries(run, searcher, queries, "bench.query")
    plain = time.perf_counter() - t0
    run.b.tracer = tr
    run.b.install_wrappers()
    t0 = time.perf_counter()
    _timed_queries(run, searcher, queries, "bench.replay")
    traced = time.perf_counter() - t0
    run.layer["trace.overhead_pct"] = (traced - plain) / plain * 100.0


# ------------------------------------------------------------------ search

def search(run: Run):
    """Reads only: a built index, one long-lived searcher, a query mix."""
    from lucille_spark.query.oracle import OracleIndex

    b, size = run.b, run.size
    gen = Generator(b.args.seed)
    corpus = gen.corpus(size["docs"])
    expected = gen.stats(corpus)
    run.inputs.update(expected)
    corpus_df = _write_input(run, corpus, "corpus.parquet")
    n_timed = max(size["min_queries"],
                  round(b.args.seconds * size["query_rate"]))
    queries = gen.queries(corpus, n_timed)
    batch_qs = gen.queries(corpus, BATCH_WARM_QUERIES * BATCH_WARM_CALLS
                           + BATCH_QUERIES * BATCH_CALLS)
    warm = gen.queries(corpus, 30)
    open_qs = [("term", gen.query("term", corpus))
               for _ in range(size["opens"])]
    run.e2e["setup_s"] = b.elapsed()
    run.mark("setup")

    # write -> visible: full build, then a fresh searcher finds koala
    index_dir = os.path.join(b.work, "index")
    ids = corpus.ids()
    t0 = time.perf_counter()
    stats = _build(run, corpus_df, index_dir, corpus.content_bytes())
    _, hits, searcher = _open_first_query(run, index_dir, "content:koala")
    run.e2e["write_visible_s"] = time.perf_counter() - t0
    run.checked(1, 0 if ids[KOALA_DOC] in [d for d, _ in hits] else 1,
                "marker doc not visible after build")
    run.e2e["index_bytes_per_content_byte"] = (
        _index_bytes(index_dir) / corpus.content_bytes())

    # timed: fresh-searcher opens and the query mix on a long-lived
    # searcher, in rounds; the build's searcher first warms this
    # process's code paths
    _timed_queries(run, searcher, warm, "bench.warmup")
    bg0 = _background_cpu()
    t0 = time.perf_counter()
    opens, samples, answers = _rounds(run, index_dir,
                                      [q for _, q in open_qs], queries)
    run.inputs["read_phase"] = {"s": time.perf_counter() - t0,
                                "background_cpu_s": _background_cpu() - bg0}
    _latency_metrics(run, samples)
    run.e2e["open_first_query_ms"] = median(opens)

    oracle = OracleIndex(({"id": d, "content": c}
                          for d, c in zip(ids, corpus.content)),
                         fields=("content",))

    def oracle_check(answers):
        wrong, ex = count_wrong(answers, oracle, K, exact=True)
        if wrong:
            run.notes.append(f"e.g. {ex}")
        return wrong

    run.mark("queries")
    if b.tracer:
        _batch(run, index_dir, batch_qs, oracle_check)
        run.mark("batch")
        _reader_layer(run, "bench.query")
        _trace_overhead(run, searcher, queries[:size["overhead_queries"]])
        # merge is idle on this workload
        run.layer.update({f"merge.{k}": 0.0 for k in MERGE_KEYS})

    # checks (untimed): corpus stats and every answer
    _check_corpus_stats(run, stats, expected)
    if b.corrupt:
        _corrupt(answers)
    run.checked(len(answers), oracle_check(answers),
                "query answers differ from the oracle")
    run.mark("checks")
    run.inputs["distinct_queries"] = len({q for q, _ in answers})


# ------------------------------------------------------------------ ingest

class LiveOracle:
    """The oracle over the live corpus with the engine's merge statistics
    (``lucille_spark.index.merge``): like Lucene, document frequencies
    keep counting the postings of deleted and superseded versions until
    compaction, and their terms stay in the dictionary, while N and avgdl
    count live documents only."""

    def __init__(self, live: dict, dead_contents: list):
        from lucille_spark.analysis import tokenize_py
        from lucille_spark.query.oracle import OracleIndex

        class _Oracle(OracleIndex):
            def df(self, field, term):
                return super().df(field, term) + dead_df.get(term, 0)

        dead_df = Counter()
        for text in dead_contents:
            dead_df.update(set(tokenize_py(text)))
        self.oracle = _Oracle(({"id": d, "content": row[4]}
                               for d, row in live.items()),
                              fields=("content",))
        terms = self.oracle.postings.setdefault("content", {})
        for t in dead_df:
            terms.setdefault(t, {})

    def check(self, answers) -> tuple:
        return count_wrong(answers, self.oracle, K, exact=False)


MERGE_KEYS = ("call_s", "jobs", "tasks", "executor_run_s", "driver_gap_s",
              "shuffle_write_bytes", "bytes_written", "files_added",
              "write_amp")


def ingest(run: Run):
    """Writes beside reads: merge micro-batches into a live index; after
    each, a fresh searcher must find the batch's marker doc, then serves
    a probe stream."""
    b, size = run.b, run.size
    gen = Generator(b.args.seed)
    base = gen.corpus(size["base_docs"], size["base_ident_rate"])
    expected = gen.stats(base)
    run.inputs.update(expected)
    live = {d: row for d, row in zip(base.ids(), base.rows())}
    dead: list = []
    index_dir = os.path.join(b.work, "index")
    stats = _build(run, _write_input(run, base, "base.parquet"), index_dir,
                   base.content_bytes())
    _check_corpus_stats(run, stats, expected)

    def prepare(n: int, shape: tuple) -> dict:
        """Generate micro-batch ``n`` of ``shape`` (new, updated, deleted
        docs) and write its input files."""
        marker = f"zqmark{n}x{b.args.seed}"
        ups, deletes = gen.merge_batch(live, *shape, marker)
        del_path = os.path.join(b.work, f"deletes{n}.parquet")
        pd.DataFrame({"doc_id": deletes}).to_parquet(del_path)
        ids = ups.ids()
        return {"n": n, "ups": ups, "ids": ids, "deletes": deletes,
                "marker": marker, "marker_id": ids[shape[0]],
                "ups_df": _write_input(run, ups, f"batch{n}.parquet"),
                "del_df": b.spark.read.parquet(del_path)}

    def merge(batch: dict):
        """merge_index; in traced runs, returns the merge layer's numbers."""
        from lucille_spark.index import merge as merge_mod

        before = _file_sizes(index_dir) if b.tracer else None
        with b.stage_group("merge") as rec:
            merge_mod.merge_index(batch["ups_df"], index_dir,
                                  fields=("content",),
                                  deletes=batch["del_df"],
                                  run_id=f"merge-{batch['n']}")
        if not b.tracer:
            return None
        after = _file_sizes(index_dir)
        written = sum(sz for p, sz in after.items() if before.get(p) != sz)
        st = b.stages.read(rec)
        return {**{k: st[k] for k in MERGE_KEYS if k in st},
                "bytes_written": written,
                "files_added": len(set(after) - set(before)),
                "write_amp": written / batch["ups"].content_bytes()}

    def commit(batch: dict):
        """The live corpus after a merge: upserts replace, deletes go."""
        for d in batch["ids"] + batch["deletes"]:
            if d in live:
                dead.append(live.pop(d)[4])
        live.update(zip(batch["ids"], batch["ups"].rows()))

    # untimed warm-up merge
    batch = prepare(0, size["warm_batch"])
    merge(batch)
    commit(batch)
    run.e2e["setup_s"] = b.elapsed()
    run.mark("setup")

    n_merges = max(size["min_merges"],
                   round(b.args.seconds / size["merge_seconds"]))
    probes = gen.queries(base, size["probes"] * n_merges)
    batch_qs = gen.queries(base, BATCH_WARM_QUERIES * BATCH_WARM_CALLS
                           + BATCH_QUERIES * BATCH_CALLS)
    open_qs = [gen.query("term", base)
               for _ in range(size["reopens"] * n_merges)]
    # per merge: the live and dead versions after it and the answers
    # served then, checked against that state after the timed loop
    states = []
    visible, opens, samples, merges, read_cpu = [], [], [], [], []
    for n in range(1, n_merges + 1):
        batch = prepare(n, size["batch"])
        t0 = time.perf_counter()
        st = merge(batch)
        for _ in range(20):
            _, hits, searcher = _open_first_query(
                run, index_dir, f"content:{batch['marker']}")
            found = batch["marker_id"] in [d for d, _ in hits]
            if found:
                break
            time.sleep(0.05)
        visible.append(time.perf_counter() - t0)
        run.checked(1, 0 if found else 1,
                    f"marker {batch['marker']} never became visible")
        commit(batch)
        if st:
            merges.append(st)
        bg0 = _background_cpu()
        best, last, answers = _rounds(
            run, index_dir,
            open_qs[(n - 1) * size["reopens"]:n * size["reopens"]],
            probes[(n - 1) * size["probes"]:n * size["probes"]])
        opens += best
        samples += last
        read_cpu.append(round(_background_cpu() - bg0, 2))
        states.append((dict(live), list(dead), answers))
    run.e2e["write_visible_s"] = median(visible)
    run.e2e["open_first_query_ms"] = median(opens)
    _latency_metrics(run, samples)
    live_bytes = sum(len(row[4].encode()) for row in live.values())
    run.e2e["index_bytes_per_content_byte"] = (_index_bytes(index_dir)
                                               / live_bytes)
    run.inputs.update({"merges": n, "live_docs": len(live),
                       "dead_versions": len(dead),
                       "read_phase_background_cpu_s": read_cpu})

    run.mark("merges")
    # the oracle of each merge's state; the last one is the final index
    oracles = [LiveOracle(live_n, dead_n) for live_n, dead_n, _ in states]

    def oracle_check(oracle, answers):
        wrong, ex = oracle.check(answers)
        if wrong:
            run.notes.append(f"e.g. {ex}")
        return wrong

    if b.tracer:
        _batch(run, index_dir, batch_qs,
               functools.partial(oracle_check, oracles[-1]))
        run.mark("batch")
        for key in MERGE_KEYS:
            run.layer[f"merge.{key}"] = median(m[key] for m in merges)
        _reader_layer(run, "bench.query")
        _trace_overhead(run, searcher, [(c, q) for c, q, _, _ in last][
            :size["overhead_queries"]])

    # checks (untimed): every answer against the state it was served in;
    # a deleted id is never a right answer, as the oracle does not hold it
    if b.corrupt:
        _corrupt(states[-1][2])
    for n, ((_, _, answers), oracle) in enumerate(zip(states, oracles), 1):
        run.checked(len(answers), oracle_check(oracle, answers),
                    f"answers after merge {n} differ from the live-corpus "
                    "oracle")
    run.mark("checks")


def _corrupt(answers: list):
    """Self-test hook: damage one hit list the way a scoring bug would."""
    q, hits = answers[0]
    answers[0] = (q, [(d, s + 1.0) for d, s in hits or []]
                  or [("corrupt", 1.0)])


WORKLOADS = {"search": search, "ingest": ingest}
