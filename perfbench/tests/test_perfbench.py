"""Self-tests of the benchmark's arithmetic, attribution and bookkeeping.

Fast and Spark-free: run with ``python3 -m pytest perfbench/tests -q``.
The end-to-end smoke run is ``python3 perfbench/run.py --smoke``.
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
import spans as S  # noqa: E402
import stats  # noqa: E402


# --- percentile rule ---------------------------------------------------------


@pytest.mark.parametrize(
    "n, p",
    [(1, 75.0), (6, 75.0), (30, 75.0), (39, 75.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_is_highest_with_ten_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if n >= 4 * stats.MIN_BEYOND:
        assert stats.beyond(n, p) >= stats.MIN_BEYOND
        higher = [q for q in stats.LADDER if q > p]
        assert all(stats.beyond(n, q) < stats.MIN_BEYOND for q in higher)


def test_tail_value_and_nearest_rank():
    xs = list(range(1, 41))  # 40 samples: p75 is the 30th, ten beyond it
    assert stats.tail(xs) == (75.0, 30)
    assert stats.percentile([3, 1, 2], 50) == 2
    # too few samples for ten beyond: the lowest rung, not the slowest one
    assert stats.tail([5.0, 1.0, 9.0]) == (75.0, 9.0)
    assert stats.tail([4.0, 1.0, 9.0, 2.0, 3.0, 8.0]) == (75.0, 8.0)


def test_spread_matches_statistics_quantiles():
    vals = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    q1, med, q3 = 11.75, 14.5, 17.25  # exclusive method: positions (n + 1) * p
    assert stats.spread(vals) == pytest.approx((q3 - q1) / med)


# --- job-span union and driver gap -------------------------------------------


def test_union_merges_overlaps_and_clips_to_span():
    assert S.union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert S.union_length([(1, 9), (2, 3)], 0, 10) == 8  # nested
    assert S.union_length([(-5, 2), (9, 20)], 0, 10) == 3  # clipped both ends
    assert S.union_length([(11, 12)], 0, 10) == 0
    assert S.union_length([], 0, 10) == 0


def _job(i, a, b, group=None, stages=()):
    return S.Job(job_id=i, group=group, submit=a, end=b, stage_ids=list(stages))


def test_driver_gap_is_span_minus_job_union():
    span = S.Span("ranking.call", 100.0, 110.0, "r1")
    jobs = [_job(0, 101, 103), _job(1, 102, 105), _job(2, 107, 108)]
    assert S.driver_gap(span, jobs) == pytest.approx(5.0)
    assert S.first_job_delay(span, jobs) == pytest.approx(1.0)
    assert S.driver_gap(span, []) == pytest.approx(10.0)
    assert S.first_job_delay(span, []) == pytest.approx(10.0)


def test_rollup_counts_each_stage_once_and_skips_skipped():
    span = S.Span("ranking.result", 0.0, 2.0, "r1")
    jobs = [_job(0, 0.5, 1.0, stages=(1, 2)), _job(1, 1.0, 1.5, stages=(2, 3))]
    stages = {
        1: S.Stage(1, "COMPLETE", tasks=4, run_s=2.0, cpu_s=1.5, gc_s=0.1, shuffle_write_mb=1.0),
        2: S.Stage(2, "COMPLETE", tasks=2, run_s=1.0, cpu_s=0.5, shuffle_read_mb=1.0),
        3: S.Stage(3, "SKIPPED", tasks=0),
    }
    r = S.rollup(span, jobs, stages, cores=4)
    assert (r["jobs"], r["stages"], r["tasks"]) == (2, 2, 6)
    assert r["executor_cpu_s"] == pytest.approx(2.0)
    assert r["core_util"] == pytest.approx(3.0 / (2.0 * 4))
    assert r["driver_gap_s"] == pytest.approx(1.0)
    assert (r["shuffle_read_mb"], r["shuffle_write_mb"], r["gc_s"]) == (1.0, 1.0, 0.1)
    assert set(r) == {m for m, _ in S.SPAN_METRICS}


# --- job-group attribution ----------------------------------------------------


def test_attribution_by_group_then_by_open_span():
    call = S.Span("streaming.call", 0.0, 5.0, "r1", group="r1:call")
    result = S.Span("streaming.result", 5.0, 6.0, "r1", group="r1:result")
    jobs = [
        _job(0, 0.1, 0.2, group="r1:call"),
        _job(1, 5.5, 5.6, group="r1:call"),  # the group wins over the time
        _job(2, 1.0, 2.0, group="a-streaming-run-id"),  # foreign group: by time
        _job(3, 5.2, 5.3, group=None),
        _job(4, 7.0, 7.5, group="other"),  # outside every span: dropped
    ]
    got = S.attribute([call, result], jobs)
    assert [j.job_id for j in got[0]] == [0, 1, 2]
    assert [j.job_id for j in got[1]] == [3]


def test_attribution_prefers_innermost_open_span():
    outer = S.Span("session.start", 0.0, 10.0, "s")
    inner = S.Span("sources.load", 2.0, 4.0, "s")
    got = S.attribute([outer, inner], [_job(0, 3.0, 3.5), _job(1, 5.0, 6.0)])
    assert [j.job_id for j in got[1]] == [0]
    assert [j.job_id for j in got[0]] == [1]


def test_layer_metrics_take_means_and_zero_absent_layers():
    spans = []
    for secs in (1.0, 1.0, 7.0):
        s = S.Span("ranking.call", 0.0, secs, "r")
        s.counts = S.rollup(s, [], {}, 4)
        spans.append(s)
    m = run.layer_metrics(spans, run.per_layer_names())
    assert m["ranking.call_s"] == 3.0
    assert m["streaming.call_s"] == 0.0
    assert len(m) == len(run.per_layer_names())


# --- memo-honesty guard -------------------------------------------------------


def test_memo_guard_arithmetic():
    ran = S.Job(0, None, 0.0, 1.0, [1], tasks=1, done_tasks=1)
    skipped = S.Job(1, None, 0.0, 1.0, [2], tasks=4, done_tasks=0)
    assert S.memo_problem(True, 3, []) is None
    assert S.memo_problem(True, 0, [ran]) == "call launched no Spark job"
    assert S.memo_problem(False, 0, [skipped, ran]) is None
    assert S.memo_problem(False, 2, [skipped]).startswith("result action ran no task")
    assert S.memo_problem(False, 0, []).startswith("result action ran no task")
    assert S.memo_problem(False, 0, [ran], persisted=True) == "call returned a persisted frame"


@pytest.fixture(scope="module")
def spark():
    """A one-core session with the benchmark's environment (about 20 s)."""
    pytest.importorskip("pyspark")
    work = os.path.join(HERE, ".work", "selftest")
    os.makedirs(work, exist_ok=True)
    run._env(work)
    from bigdata_hits_spark.session import get_spark

    session = get_spark("perfbench-selftest", master="local[1]")
    yield session
    run.shutdown(session)


def test_memo_guard_flags_a_frame_already_in_memory(spark):
    import workloads as W

    memo = spark.range(1000).selectExpr("id", "id % 7 AS c").cache()
    memo.count()  # the memo is built before the timed request, as a warm-up would
    loop = run.Loop(spark, S.StatusStore(spark), cores=1)
    # a different plan: Spark serves any plan equal to a cached one from the cache
    fresh = lambda: spark.range(1000).selectExpr("id", "id % 5 AS c")  # noqa: E731
    cases = [
        (W.Request("eager_memo", "components", lambda: memo, None, eager=True),
         "call launched no Spark job"),
        (W.Request("lazy_memo", "relops", lambda: memo, None), "call returned a persisted frame"),
        (W.Request("eager_real", "components", lambda: fresh().localCheckpoint(), None, eager=True),
         None),
        (W.Request("lazy_real", "relops", fresh, None), None),
    ]
    for req, want in cases:
        rec = loop.request(req, traced=False)
        assert rec["error"] is None and rec["jobs"] >= 1, rec  # the noop write always runs a job
        assert rec["memo"] == want, rec
    memo.unpersist()


# --- result check -------------------------------------------------------------


def test_check_reports_differing_rows():
    want = pd.DataFrame({"id": ["a", "b"], "score": [0.5, 0.25]})
    assert check.compare(want.iloc[::-1], want) == []
    assert check.compare(pd.DataFrame({"id": ["a", "b"], "score": [0.5, 0.2500001]}), want) == []
    bad = check.compare(pd.DataFrame({"id": ["a", "b"], "score": [0.5, 0.3]}), want)
    assert bad[0].startswith("1 cells differ") and any("0.3" in p for p in bad)
    short = check.compare(want.head(1), want)
    assert short[0].startswith("row count differs") and any("'b'" in p for p in short)
    assert check.compare(want, None) == []
    assert check.compare(want.head(0), None) == ["rows-only check: empty result"]


# --- inputs and the benchmark description -------------------------------------


def test_inputs_are_deterministic():
    a, b = datagen.make_tables(0.001), datagen.make_tables(0.001)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)


def test_seed_fixes_request_parameters_and_order():
    import workloads as W

    assert W.bfs_residue(7) == W.bfs_residue(7)
    assert len({W.bfs_residue(s) for s in range(20)}) > 1
    reqs = [W.Request(str(i), "relops", lambda: None, None) for i in range(10)]
    mix = [r.name for r in W.cycle(reqs, 3)]
    assert mix == [r.name for r in W.cycle(reqs, 3)]
    assert mix != [r.name for r in W.cycle(reqs, 4)]
    assert sorted(mix) == sorted(r.name for r in reqs)  # each request once per cycle


def test_timed_loop_runs_whole_cycles_up_to_the_cycle_minimum():
    class Fake(run.Loop):
        def __init__(self):
            self.bookkeeping_s = 0.0

        def request(self, req, traced):
            return {"name": req}

    fixpoint = ["hits", "cc", "bfs"]
    recs, _ = Fake().cycles(fixpoint, 0.0, False, min_cycles=run.MIN_CYCLES)
    assert [r["name"] for r in recs] == fixpoint * run.MIN_CYCLES
    recs, _ = Fake().cycles(fixpoint, 0.0, False)  # smoke: one cycle
    assert [r["name"] for r in recs] == fixpoint


def test_benchmark_json_matches_the_harness():
    import workloads as W

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(W.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == run.per_layer_names()
    assert {m["name"] for m in bench["end_to_end"]} == set(run.END_TO_END)
