"""Unit tests of the benchmark's own helpers (no Spark):

    python3 -m pytest perfbench -q
"""

import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.stats import Tally, median, percentile, tail_percentile, tree_cpu_s, window
from perfbench.trace import Tracer


# ------------------------------------------------------------ percentiles


def test_tail_percentile_leaves_ten_samples_beyond():
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99
    assert tail_percentile(200) == 95
    for n in (21, 37, 100, 150, 999, 5000):
        q = tail_percentile(n)
        values = list(range(n))
        beyond = sum(v > percentile(values, q) for v in values)
        assert beyond >= 10, (n, q, beyond)
        # it is the highest such percentile
        assert sum(v > percentile(values, q + 1) for v in values) < 10, (n, q)


def test_tail_percentile_none_below_twenty_samples():
    # with fewer than 20 samples nothing above the median has ten beyond
    for n in (0, 1, 10, 19, 20):
        assert tail_percentile(n) is None


def test_percentile_and_median():
    v = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(v, 50) == 3.0
    assert percentile(v, 100) == 5.0
    assert percentile(v, 1) == 1.0
    assert median(v) == 3.0
    assert median([1.0, 2.0, 3.0, 4.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_tree_cpu_counts_child_processes():
    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c", "sum(range(3 * 10**7))"], check=True)
    assert tree_cpu_s() - before >= 0.2


# --------------------------------------------------------- failure count


def test_tally_counts_raised_operations_and_goes_on():
    t = Tally()
    with t.op("ok"):
        pass
    with t.op("boom"):
        raise RuntimeError("x")
    assert (t.attempted, t.failed) == (2, 1)
    assert t.ratio == 0.5


def test_tally_counts_mismatches():
    t = Tally()
    assert t.check("same", True)
    assert not t.check("differs", False, "1 != 2")
    with t.op("query"):
        pass
    t.mismatch("query", "wrong rank")  # a counted op with a wrong result
    assert (t.attempted, t.failed) == (3, 2)
    assert t.ratio == pytest.approx(2 / 3)
    assert Tally().ratio == 0.0


def test_window_ends_when_every_operation_fails():
    t = Tally()
    for i in window(0.0, min_ops=7):
        with t.op(f"op {i}"):
            raise RuntimeError("engine broken")
    assert (t.attempted, t.failed) == (7, 7)


def test_window_holds_whole_rounds_after_its_time():
    seen = list(window(0.05, min_ops=10, multiple=5))
    assert len(seen) >= 10 and len(seen) % 5 == 0
    assert seen == list(range(len(seen)))


def test_tally_does_not_swallow_interrupts():
    t = Tally()
    with pytest.raises(KeyboardInterrupt):
        with t.op("interrupted"):
            raise KeyboardInterrupt


# ------------------------------------------------------------- generators


def _take(it, n):
    return [next(it) for _ in range(n)]


def test_query_stream_is_deterministic_per_seed():
    assert _take(gen.query_stream(7), 60) == _take(gen.query_stream(7), 60)
    assert _take(gen.query_stream(7), 60) != _take(gen.query_stream(8), 60)
    assert gen.query_pool(3) == gen.query_pool(3)


def test_query_stream_mixes_shapes_and_repeats():
    pool = gen.query_pool(5)
    assert all(len(set(qs)) == len(qs) == gen.PER_SHAPE for qs in pool.values())
    stream = _take(gen.query_stream(5), 100)
    assert [c for c, _ in stream[:5]] == ["term", "boolean", "boolean", "phrase", "multiterm"]
    queries = [q for _, q in stream]
    assert len(set(queries)) < len(queries)  # popular queries repeat
    # the repeat pattern is seed-independent: same positions repeat
    first = [queries.index(q) for q in queries]
    other = [q for _, q in _take(gen.query_stream(6), 100)]
    assert first == [other.index(q) for q in other]


def test_churn_plan_is_deterministic_and_touches_each_doc_once():
    plan = gen.churn_plan(3, n_docs=100, cycles=50)
    assert plan == gen.churn_plan(3, n_docs=100, cycles=50)
    assert plan != gen.churn_plan(4, n_docs=100, cycles=50)
    touched = [i for upd, dels in plan for i in upd + dels]
    assert len(touched) == len(set(touched)) <= 100
    assert all(len(upd) == gen.CHURN_PER_CYCLE for upd, _ in plan)
    assert [len(d) for _, d in plan[:6]] == [0, 0, 2, 0, 0, 2]


def test_marker_is_one_standard_token():
    from lucene_solr_spark.analysis import tokenize

    m = gen.marker(12, 3, 1)
    assert tokenize(f"x {m} y") == ["x", m, "y"]


# ------------------------------------------------------------------ spans


def test_self_time_subtracts_children():
    tr = Tracer()
    tr.enabled = True
    with tr.span("bench.op") as outer:
        with tr.span("search.search"):
            pass
    outer["start"], outer["end"] = 0.0, 10.0
    inner = tr.spans[1]
    inner["start"], inner["end"] = 2.0, 5.0
    assert inner["parent"] == outer["id"]
    st = tr.self_times()
    assert st["bench"] == pytest.approx(7.0)
    assert st["search"] == pytest.approx(3.0)


def test_wrappers_record_spans_only_when_enabled():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    tr = Tracer()
    tr.wrap(Mod, "f", "layer.f")
    assert Mod.f(1) == 2 and not tr.spans
    tr.enabled = True
    assert Mod.f(2) == 3
    assert [s["name"] for s in tr.spans] == ["layer.f"]
    tr.uninstall()
    tr.enabled = True
    Mod.f(3)
    assert len(tr.spans) == 1
