"""Benchmark entry point.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

Run from the repository root. Prints a few ``#`` lines (host, inputs,
notes) and, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. See
perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Bench:
    """Session, work directory and (in traced runs) the recorders."""

    def __init__(self, args):
        self.args = args
        self.corrupt = args.corrupt
        self.work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        from lucille_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=os.cpu_count())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - T_START
        self.tracer = self.stages = self.builder_jobs = None
        if args.trace:
            from tracing import StageMetrics, Tracer, job_kind_by_output

            self.tracer = Tracer()
            self.stages = StageMetrics(self.spark)
            self.builder_jobs = job_kind_by_output(
                self.spark, ("doc_stats", "postings", "lexicon"))
            self.install_wrappers()

    def elapsed(self) -> float:
        return time.perf_counter() - T_START

    def stage_group(self, prefix: str):
        if self.stages is None:
            return contextlib.nullcontext({})
        return self.stages.group(prefix)

    def install_wrappers(self):
        """Spans around the engine's layer entry points, patched where
        callers look them up: ``searcher`` binds ``parse`` and
        ``expand_prefixes`` by name, methods resolve on the class."""
        from lucille_spark.index import builder, merge
        from lucille_spark.index.reader import IndexReader, TermCursor
        from lucille_spark.query import searcher

        tr = self.tracer

        def rows(rec, args, out):
            rec["rows"] = len(out)

        def terms(rec, args, out):
            rec["terms"] = len(out)

        def files(rec, args, out):
            rec["postings_files"] = len(args[0]._postings.files)

        tr.wrap(builder, "build_index", "builder.build_index")
        tr.wrap(merge, "merge_index", "merge.merge_index")
        tr.wrap(IndexReader, "__init__", "reader.open", files)
        tr.wrap(IndexReader, "term_info", "reader.term_info")
        tr.wrap(IndexReader, "decode_term_flat", "reader.decode")
        tr.wrap(IndexReader, "blocks", "reader.blocks", rows)
        tr.wrap(IndexReader, "doc_ids_for_ords", "reader.doc_ids")
        for kind, attr in (("fuzzy", "terms_fuzzy"),
                           ("prefix", "terms_with_prefix"),
                           ("range", "terms_in_range")):
            tr.wrap(IndexReader, attr, f"reader.expand.{kind}", terms)
        tr.wrap(TermCursor, "__init__", "reader.cursor")
        tr.wrap(searcher, "parse", "parser.parse")
        tr.wrap(searcher, "expand_prefixes", "parser.expand")
        tr.wrap(searcher.IndexSearcher, "search", "searcher.search")

    def close(self):
        """Stop Spark and wait for the JVM and its Python workers."""
        from pyspark import SparkContext

        from tracing import descendants

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        kids = descendants(proc.pid) if proc else []
        self.spark.stop()
        if proc is not None:
            gw.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)
        deadline = time.time() + 30
        while time.time() < deadline and any(
                os.path.exists(f"/proc/{p}") for p in kids):
            time.sleep(0.1)
        shutil.rmtree(self.work, ignore_errors=True)


def _host() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    env = {k: v for k, v in sorted(os.environ.items())
           if k.startswith(("SPARK_", "LUCILLE_"))}
    return {"nproc": os.cpu_count(), "ram_gb": round(mem_kb / 2**20, 1),
            "env": env, "storage": "every index fits in the OS page "
            "cache: latencies measure CPU and memory, not a storage device"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: smoke-test inputs (perfbench/selftest.py)")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one hit list before the checks "
                    "(self-test: must be reported as a failed operation)")
    args = ap.parse_args(argv)
    args.seed %= 1 << 63   # generator and marker terms need a seed >= 0

    sys.path.insert(0, ROOT)
    try:
        import lucille_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    spec = _bench_json()

    # Spark's scratch space, temp files and Python workers stay inside
    # the checkout; workers import the engine from the repository root
    local = os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    # no /tmp/hsperfdata file either: the JVM's perf counters stay off
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={local} "
                                       "-XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.chdir(ROOT)

    host = _host()
    bench = Bench(args)
    run = Run(bench)
    try:
        WORKLOADS[args.workload](run)
        if bench.tracer:
            from tracing import descendants, peak_rss_mb
            from pyspark import SparkContext

            jvm = SparkContext._gateway.proc.pid
            run.layer["session.start_s"] = bench.session_start_s
            run.layer["session.peak_rss_mb"] = peak_rss_mb(
                [os.getpid(), jvm] + descendants(jvm))
            run.layer["trace.bad_spans"] = bench.tracer.bad_spans()
            bench.tracer.dump(os.path.join(
                OUT, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        bench.close()
    run.mark("close")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = run.layer if args.trace else run.e2e
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    print("# host " + json.dumps(host))
    print("# inputs " + json.dumps(run.inputs))
    print("# phases (seconds since start) " + json.dumps(run.phases))
    for note in run.notes:
        print("# failed: " + note)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": float(source[m["name"]]),
                                "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
