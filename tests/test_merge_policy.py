"""The merge policy at plan level (operators/merge.py), no Spark: the
natural merges after a write (``plan_merges``) keep size tiers, and
``force_merge``'s plan (``plan_forced_merges``) is the fixed-width
cheapest-run rule it always was."""

from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_solr_spark.operators.build import Manifest
from lucene_solr_spark.operators.merge import plan_forced_merges, plan_merges


def manifest_of(sizes):
    """A manifest of doc_base-adjacent segments of ``sizes`` docs, in
    doc_base order; segment ids count down, so id order is not doc
    order."""
    segs, base = [], 0
    for i, n in enumerate(sizes):
        segs.append({"seg": 1000 - i, "doc_base": base, "n_docs": n})
        base += n
    return Manifest(gen=1, docs_per_seg=max(sizes, default=1), analyzer="standard",
                    field="content", segments=segs)


def tier_counts(m, max_merge_at_once=10):
    """How many of ``m``'s segments each size tier holds (tier t: the
    largest n_docs over its n_docs is in [base**t, base**(t+1)))."""
    sizes = [s["n_docs"] for s in m.segments]
    counts = {}
    for n in sizes:
        t = 0
        while max(n, 1) * max_merge_at_once ** (t + 1) <= max(sizes):
            t += 1
        counts[t] = counts.get(t, 0) + 1
    return counts


def _reference_forced_plan(m, segs_per_tier, max_merge_at_once):
    """The one plan every merge used before size tiers: while more than
    ``segs_per_tier`` segments, merge the adjacent run of
    ``min(max_merge_at_once, count - segs_per_tier + 1)`` segments with
    the fewest docs (the first such run)."""
    segs = sorted(m.segments, key=lambda s: s["doc_base"])
    merges = []
    while len(segs) > segs_per_tier:
        width = min(max_merge_at_once, len(segs) - segs_per_tier + 1, len(segs))
        if width < 2:
            break
        sums = [sum(s["n_docs"] for s in segs[i:i + width])
                for i in range(len(segs) - width + 1)]
        i = sums.index(min(sums))
        merges.append([s["seg"] for s in segs[i:i + width]])
        segs[i:i + width] = [{"seg": -1, "doc_base": segs[i]["doc_base"],
                              "n_docs": sums[i]}]
    return merges


def _commit(m, groups):
    """``m`` with each group merged into one segment (as a wave of
    ``merge_at_commit`` lists it) -> (the new manifest, docs rewritten)."""
    segs, rewritten, next_id = list(m.segments), 0, max(s["seg"] for s in m.segments) + 1
    for g in groups:
        src = [s for s in segs if s["seg"] in g]
        rewritten += sum(s["n_docs"] for s in src)
        segs = [s for s in segs if s["seg"] not in g] + [{
            "seg": next_id, "doc_base": min(s["doc_base"] for s in src),
            "n_docs": sum(s["n_docs"] for s in src)}]
        next_id += 1
    return Manifest(gen=m.gen, docs_per_seg=m.docs_per_seg, analyzer=m.analyzer,
                    field=m.field, segments=segs), rewritten


def _is_adjacent_run(m, group):
    order = [s["seg"] for s in sorted(m.segments, key=lambda s: s["doc_base"])]
    ranks = sorted(order.index(s) for s in group)
    return ranks == list(range(ranks[0], ranks[0] + len(group)))


def test_uniform_segments_merge_the_first_run():
    """On uniform segments the natural plan's first group is the first
    ``max_merge_at_once`` segments: the fixed-width rule's first group
    wherever that rule merged so many at once, and wider than its
    group otherwise, since a wider run rewrites fewer docs per segment
    it removes."""
    for n in (11, 17, 19, 25, 40):
        m = manifest_of([2] * n)
        first = plan_merges(m)[0]
        assert first == [1000 - i for i in range(10)]
        reference = _reference_forced_plan(m, 10, 10)[0]
        assert first == reference if n >= 19 else first[:len(reference)] == reference
    assert plan_merges(manifest_of([2] * 10)) == []
    # 25 uniform: the first 10, then 10 of the 15 left, which now sit a
    # tier below the merged one: one wave, 7 segments
    assert [len(g) for g in plan_merges(manifest_of([2] * 25))] == [10, 10]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(1, 400), min_size=1, max_size=40),
       st.integers(1, 12), st.integers(1, 12))
def test_forced_plan_is_unchanged(sizes, segs_per_tier, max_merge_at_once):
    m = manifest_of(sizes)
    assert plan_forced_merges(m, segs_per_tier, max_merge_at_once) == \
        _reference_forced_plan(m, segs_per_tier, max_merge_at_once)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(1, 400), min_size=1, max_size=40),
       st.integers(1, 12), st.integers(2, 12))
def test_every_group_is_a_doc_base_adjacent_run(sizes, segs_per_tier, max_merge_at_once):
    """Every group either plan makes without a stub (the groups a wave
    runs) is a run of doc_base-adjacent segments, 2 to
    ``max_merge_at_once`` wide; run wave after wave to the fixpoint,
    the natural plan leaves no tier above ``segs_per_tier`` here, where
    every tier's segments are adjacent."""
    m = manifest_of(sizes)
    for plan in (plan_merges, plan_forced_merges):
        for g in plan(m, segs_per_tier, max_merge_at_once):
            assert 2 <= len(g) <= max_merge_at_once
            if -1 not in g:
                assert _is_adjacent_run(m, g), (plan.__name__, g)
    # sorted sizes keep each tier's segments adjacent
    m = manifest_of(sorted(sizes, reverse=True))
    while groups := [g for g in plan_merges(m, segs_per_tier, max_merge_at_once)
                     if -1 not in g]:
        assert all(_is_adjacent_run(m, g) for g in groups)
        m, _ = _commit(m, groups)
    assert max(tier_counts(m, max_merge_at_once).values()) <= segs_per_tier


def test_churn_rewrites_few_docs_and_keeps_tiers():
    """200 commits of one 4-doc segment each on 8 segments of 375 docs,
    the perfbench churn shape, each merged to the policy's fixpoint as
    ``merge_at_commit`` does: the docs rewritten stay under 5x the docs
    written (the fixed 10-segment cap rewrote its growing tail every
    commit, about 50x), and after every commit no tier holds more than
    10 segments."""
    m = manifest_of([375] * 8)
    written = rewritten = 0
    base = 8 * 375
    for i in range(200):
        m = Manifest(gen=m.gen, docs_per_seg=m.docs_per_seg, analyzer=m.analyzer,
                     field=m.field, segments=m.segments + [
                         {"seg": max(m.seg_ids) + 1, "doc_base": base, "n_docs": 4}])
        base += 4
        written += 4
        while groups := [g for g in plan_merges(m) if -1 not in g]:
            m, docs = _commit(m, groups)
            rewritten += docs
        assert max(tier_counts(m).values()) <= 10, i
    assert rewritten < 5 * written, rewritten
    assert sum(s["n_docs"] for s in m.segments) == 8 * 375 + written


def test_plans_tolerate_degenerate_parameters():
    m = manifest_of([5, 1, 1, 1, 7])
    assert plan_merges(m, 1, 1) == [] and plan_merges(m, 1, 0) == []
    assert plan_forced_merges(m, 1, 1) == []
    assert plan_merges(manifest_of([])) == []
