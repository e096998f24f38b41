"""Self-tests of the benchmark harness.

    python3 perfbench/selftest.py            # unit tests + tiny smoke runs
    python3 perfbench/selftest.py --quick    # unit tests only (no Spark)

The smoke runs drive ``run.py`` on each workload at a tiny scale (a few
hundred pages, a few hundred rows) and check the result line. The
functions are also collected by pytest when it is pointed at this file.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import BENCH_DIR, ROOT  # noqa: E402

sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

TINY = {
    "crawl_polite": {"hosts": 3, "pages_per_host": 20, "buttons": 16,
                     "seed_links_per_host": 5},
    "crawl_steady": {"hosts": 40, "pages_per_host": 6, "buttons": 12,
                     "fanout": 10, "buttons_per_page": [4, 6],
                     "ramp_cap": 60, "ramp_rounds": 3, "queue_cap": 30},
    "operator_queries": {"sf": 0.002},
}


class _Ctx:
    """The part of driver.Context the output checks use."""

    def __init__(self):
        self.failed = 0
        self.problems = []

    def fail(self, problem):
        self.failed += 1
        self.problems.append(problem)


def test_self_time_subtracts_child_coverage():
    from spans import Span, self_times

    spans = [
        Span(0, "round", 0.0, 10.0, None, "r1"),
        Span(1, "a", 1.0, 4.0, 0, "r1"),
        Span(2, "b", 3.0, 6.0, 0, "r1"),      # overlaps a (another thread)
        Span(3, "c", 8.0, 12.0, 0, "r1"),     # runs past its parent
        Span(4, "a.child", 1.5, 2.0, 1, "r1"),
    ]
    st = self_times(spans)
    assert abs(st[0] - (10.0 - 5.0 - 2.0)) < 1e-9   # [1,6] and [8,10]
    assert abs(st[1] - (3.0 - 0.5)) < 1e-9
    assert st[2] == 3.0 and st[4] == 0.5
    assert st[3] == 4.0


def test_tracer_nests_and_restores():
    import types

    from spans import Tracer

    clock = iter(range(100))
    tracer = Tracer(clock=lambda: float(next(clock)))
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    tracer.wrap(mod, "f", "layer.f")
    with tracer.span("op1", op="op1"):
        assert mod.f(1) == 2
    tracer.restore()
    assert mod.f(1) == 2 and not hasattr(mod.f, "__wrapped__")
    root, child = tracer.spans
    assert child.parent == root.id and child.op == "op1"
    st = tracer.self_times()
    assert st[root.id] == root.duration - child.duration


def test_corrupted_trace_digest_fails_every_round():
    import crawl

    want = {"trace": "t", "seen": "s", "spans": "p", "pages": "g",
            "export": "e"}
    ctx = _Ctx()
    crawl.check_outputs(ctx, ["round1", "round2"], dict(want), "e", want)
    assert ctx.failed == 0
    corrupted = dict(want, trace="x")
    crawl.check_outputs(ctx, ["round1", "round2"], dict(want), "e",
                        corrupted)
    assert ctx.failed == 2 and "trace" in ctx.problems[0]
    crawl.check_outputs(ctx, ["round1"], dict(want), "bad", want)
    assert ctx.failed == 3 and ctx.problems[-1].startswith("export")


def test_wrong_query_hash_is_a_failure():
    import queries
    from check_oracles import value_hash

    cols, rows = ["k", "v"], [(1, 0.5), (2, 1.5)]
    right = [2, ["k", "v"], value_hash(cols, rows)]
    assert queries.check("q", cols, rows, right) is None
    assert queries.check("q", cols, rows, [2, ["k", "v"], "0" * 16])
    assert queries.check("q", cols, rows[:1], right)


def test_state_digest_is_order_insensitive_for_seen_and_pages():
    import crawl

    a = crawl.state_digest([(1, 0, "p", "h", "fetched")], {"p": 0, "q": 1},
                           {"p": []}, [("q", 1), ("p", 0)])
    b = crawl.state_digest([(1, 0, "p", "h", "fetched")], {"q": 1, "p": 0},
                           {"p": []}, [("p", 0), ("q", 1)])
    assert a == b
    c = crawl.state_digest([(1, 0, "p", "h", "failed")], {"p": 0, "q": 1},
                           {"p": []}, [("q", 1), ("p", 0)])
    assert crawl.compare(c, a) == ["trace"]


def _smoke(workload: str, trace: int, failure: str | None = None) -> dict:
    """Run ``workload`` at tiny scale. With ``failure``, the run must fail
    exactly one operation, with that text in its report."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--params", json.dumps(TINY[workload])],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900, check=True)
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert "gave_up" in json.loads(lines[-2])["hygiene"]
    assert res["attempted"] >= 1
    if failure is None:
        assert res["correct"] and res["failed"] == 0
    else:
        assert not res["correct"] and res["failed"] == 1
        assert failure in out.stderr, out.stderr[-2000:]
    key = "per_layer" if trace else "end_to_end"
    assert set(res["metrics"]) == {m["name"] for m in spec[key]}
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())
    return res


def test_smoke_crawl_polite():
    res = _smoke("crawl_polite", 1)
    assert res["metrics"]["rounds.admitted"]["value"] == 15  # 3 hosts x 5
    assert res["metrics"]["spark.jobs_per_round"]["value"] > 0
    assert res["metrics"]["processed.output_bytes"]["value"] > 0
    _smoke("crawl_polite", 0)


def test_smoke_crawl_steady():
    # a tiny corpus cannot reach BLOOM_MIN_SEEN: the workload guard must
    # report the round as failed
    guard = "guard: seen set"
    res = _smoke("crawl_steady", 1, guard)
    assert res["metrics"]["rounds.admitted"]["value"] == 31  # queue cap + 1
    _smoke("crawl_steady", 0, guard)


def test_smoke_operator_queries():
    res = _smoke("operator_queries", 1)
    assert res["metrics"]["query.dedup_ngram_jaccard.jobs"]["value"] > 0
    _smoke("operator_queries", 0)


def main() -> int:
    quick = "--quick" in sys.argv
    tests = [(n, f) for n, f in sorted(globals().items())
             if n.startswith("test_") and callable(f)
             and not (quick and n.startswith("test_smoke"))]
    failed = 0
    for name, fn in tests:
        try:
            fn()
            print(f"PASS {name}")
        except Exception as e:  # report every test, then exit non-zero
            failed += 1
            print(f"FAIL {name}: {type(e).__name__}: {e}")
    print(f"{len(tests) - failed}/{len(tests)} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
