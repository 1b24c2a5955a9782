"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py          # checks + tiny runs (~4 min)
    python3 perfbench/selftest.py --quick  # checks only, no Spark

Checks that the oracle comparisons catch a corrupted hit list, that the
generator is a pure function of the seed, that a tiny run of each
workload passes (traced and untraced), that a corrupted hit list in a
real run is reported as exactly one failed operation, and that the
benchmark refuses to run without the engine next to it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


def check_oracle_comparisons():
    from checks import count_wrong, same_ranking, same_topk_up_to_ties
    from lucille_spark.query.oracle import OracleIndex

    docs = [{"id": f"d{i}", "content": c} for i, c in enumerate(
        ["alpha beta", "alpha alpha gamma", "beta gamma", "alpha",
         "gamma delta alpha beta"])]
    oracle = OracleIndex(docs, fields=("content",))
    q = "content:alpha OR content:beta"
    right = oracle.search(q, k=3)
    assert same_ranking(right, oracle.search(q, k=3))
    assert same_topk_up_to_ties(right, oracle.search(q, k=99), 3)
    corrupted = [
        [(d, s + 1.0) for d, s in right],          # wrong scores
        list(reversed(right)),                     # wrong order
        right[:-1],                                # a hit missing
        [("d9", right[0][1])] + right[1:],         # a doc that never matched
        [right[0], right[0], right[2]],            # a duplicate hit
    ]
    for bad in corrupted:
        assert not same_ranking(bad, right), bad
        assert not same_topk_up_to_ties(bad, oracle.search(q, k=99), 3), bad
    wrong, _ = count_wrong([(q, right), ("content:gamma", corrupted[0]),
                            (q, right), (q, None)], oracle, 3)
    assert wrong == 2, wrong
    # tie-tolerant: two docs with equal scores may come in either order
    tied = OracleIndex([{"id": "a", "content": "x y"},
                        {"id": "b", "content": "x z"},
                        {"id": "c", "content": "w"}], fields=("content",))
    ranked = tied.search("content:x", k=99)
    assert ranked[0][1] == ranked[1][1]
    swapped = [ranked[1], ranked[0]]
    assert not same_ranking(swapped, ranked)
    assert same_topk_up_to_ties(swapped, ranked, 2)
    assert not same_topk_up_to_ties(swapped[:1], ranked, 2)


def check_generator():
    from gen import Generator

    a, b, c = Generator(7), Generator(7), Generator(8)
    ca, cb, cc = a.corpus(50), b.corpus(50), c.corpus(50)
    assert ca.content == cb.content and ca.ids() == cb.ids()
    assert ca.content != cc.content
    # FIXTURES.md F1 shape: 10% of tokens are identifiers of df 1-3
    big = Generator(5).corpus(300).content
    toks = [t for text in big for t in text.split()]
    share = sum(t.startswith("ident_") for t in toks) / len(toks)
    assert 0.09 < share < 0.11, share
    df = Counter(t for text in big for t in set(text.split())
                 if t.startswith("ident_"))
    assert max(df.values()) <= 3, df.most_common(1)
    assert a.queries(ca, 40) == b.queries(cb, 40)
    live = dict(zip(ca.ids(), ca.rows()))
    ups, dels = a.merge_batch(live, 4, 3, 2, "zqmark")
    ids = ups.ids()
    assert len(ids) == 8 and "zqmark" in ups.content[4]
    assert set(ids[5:]) <= set(live) and set(dels) <= set(live)
    assert not set(ids[5:]) & set(dels)


def _run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench",
                                                     "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout.strip().splitlines()


def check_runs():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for workload in ("search", "ingest"):
        for trace, corrupt in ((0, True), (1, False)):
            args = ["--workload", workload, "--seed", "3", "--seconds", "1",
                    "--trace", str(trace), "--size", "tiny"]
            code, out = _run(args + (["--corrupt"] if corrupt else []))
            assert code == 0 and out, (workload, trace, code)
            res = json.loads(out[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}
            names = [m["name"] for m in
                     spec["per_layer" if trace else "end_to_end"]]
            assert list(res["metrics"]) == names, (workload, trace)
            assert 0 <= res["failed"] <= res["attempted"], res
            if corrupt:
                # the corrupted hit list, and nothing else, fails
                assert not res["correct"] and res["failed"] == 1, res
            else:
                assert res["correct"] and res["failed"] == 0, res
                m = {k: v["value"] for k, v in res["metrics"].items()}
                assert m["trace.bad_spans"] == 0
                # every builder table got its jobs' wall time
                assert all(m[f"builder.job_s.{t}"] > 0 for t in
                           ("doc_stats", "postings", "lexicon")), m
            print(f"ok: {workload} trace={trace} corrupt={corrupt}",
                  flush=True)


def check_refuses_without_engine():
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, out = _run(["--workload", "search", "--seed", "1", "--seconds",
                      "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and not any(line.startswith("{") for line in out)


def main() -> int:
    check_oracle_comparisons()
    check_generator()
    check_refuses_without_engine()
    print("ok: checks, generator, refusal without the engine", flush=True)
    if "--quick" not in sys.argv:
        check_runs()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
