"""Stage B+C: detection gate and the ordered-slot-filling fork loop."""

import pytest
from pyspark.sql import functions as F

from autoextraction_spark import schema as S
from autoextraction_spark.operators import detect, output, slot_fill


@pytest.fixture(scope="module")
def tiny_pages(spark):
    rows = [
        # primary phrasing: either order recovers it
        ("u1", "Alice Stone works for Acme Corp.", "en"),
        # alt phrasing: only object-first decode recovers it
        ("u2", "Karen Stone is at Meridian Systems.", "en"),
        # two facts, same relation -> state fork must yield both pairs
        ("u3", "Alice Stone works for Acme Corp.\nBrian Rivera works for Helios Labs.", "en"),
        # no facts at all
        ("u4", "the quarterly report was filed on time.", "en"),
        # zh grammar
        ("u5", "王伟任职于华信集团。", "zh"),
    ]
    return spark.createDataFrame(rows, "url string, text string, lang string")


def test_detect_gate(tiny_pages):
    det = detect.detect_relations(tiny_pages)
    got = {(r.url, r.rel) for r in det.collect()}
    assert got == {
        ("u1", "works_for"),
        ("u2", "works_for"),
        ("u3", "works_for"),
        ("u5", "works_for"),
    }
    scores = {r.url: r.rc_score for r in det.collect()}
    assert scores["u1"] > 0.9       # primary anchor
    assert 0.6 < scores["u2"] < 0.9  # alt anchor passes the 0.6 gate


def test_fork_yields_all_tuples(tiny_pages):
    det = detect.detect_relations(tiny_pages)
    completed = slot_fill.ordered_slot_fill(det)
    triples = {
        (r.url, r.pred, r.subj, r.obj)
        for r in output.to_triples(output.completed_filter(completed)).collect()
    }
    assert triples == {
        ("u1", "works_for", "Alice Stone", "Acme Corp"),
        ("u2", "works_for", "Karen Stone", "Meridian Systems"),
        ("u3", "works_for", "Alice Stone", "Acme Corp"),
        ("u3", "works_for", "Brian Rivera", "Helios Labs"),
        ("u5", "works_for", "王伟", "华信集团"),
    }


def test_sequence_baseline_misses_alt_fact(tiny_pages):
    # order-sensitivity split semantics (data_filter.py:174-242): the fixed
    # schema-order policy must disagree with the adaptive policy on u2
    det = detect.detect_relations(tiny_pages)
    seq = output.to_triples(
        output.completed_filter(slot_fill.ordered_slot_fill(det, policy="sequence"))
    )
    urls = {r.url for r in seq.collect()}
    assert "u2" not in urls
    assert "u1" in urls


def test_incomplete_states_have_none_sentinel(tiny_pages):
    det = detect.detect_relations(tiny_pages.filter(F.col("url") == "u2"))
    completed = slot_fill.ordered_slot_fill(det, policy="sequence")
    rows = completed.collect()
    # subject-first on alt phrasing: subject extraction falls back to [None]
    assert any(S.NONE_SENTINEL in r.assigned.values() for r in rows)
    # and the completed filter drops those states (predict.py:102-108)
    assert output.completed_filter(completed).count() == 0


def test_cond_render_parse_roundtrip(tiny_pages):
    det = detect.detect_relations(tiny_pages)
    completed = output.completed_filter(slot_fill.ordered_slot_fill(det))
    rendered = output.render_cond(completed)
    en = rendered.filter(F.col("lang") == "en").select("cond").collect()
    assert any(
        c.cond == "works_for; subject:Alice Stone; object:Acme Corp" for c in en
    )
    zh = rendered.filter(F.col("lang") == "zh").select("cond").collect()
    assert any(c.cond == "works_for； 头实体：王伟； 尾实体：华信集团" for c in zh)
    parsed = output.parse_cond(rendered)
    for r in parsed.select("rel", "assigned", "parsed_rel", "parsed_assigned").collect():
        assert r.parsed_rel == r.rel
        assert dict(r.parsed_assigned) == dict(r.assigned)


@pytest.mark.parametrize("policy", ["rl", "sequence", "reverse", "random"])
def test_fused_equals_rounds(tiny_pages, norm_states, reference_states, policy):
    # the single-pass wave engine emits exactly the states of the
    # reference's round-by-round Environment.step recursion — for complete
    # episodes and for episodes truncated by max_steps, where the cap's
    # remaining/step values are compared too
    det = detect.detect_relations(tiny_pages)
    for max_steps in (slot_fill.MAX_STEPS, 1):
        ref = reference_states(det, policy, max_steps)
        fused = slot_fill.ordered_slot_fill(det, policy=policy, max_steps=max_steps)
        assert norm_states(fused) == ref
    assert all(st[4] and st[6] == 1 for st in ref)  # max_steps=1 truncated all


def test_ordered_slot_fill_emits_no_text(tiny_pages):
    det = detect.detect_relations(tiny_pages)
    out = slot_fill.ordered_slot_fill(det)
    assert "text" not in out.columns
    assert out.count() > 0


def test_episode_cap_terminates(spark):
    # a state that never empties its remaining list still terminates ≤ 20
    det = spark.createDataFrame(
        [("u", "no anchors here at all.", "en", "works_for", 0.9)],
        "url string, text string, lang string, rel string, rc_score double",
    )
    completed = slot_fill.ordered_slot_fill(det, max_steps=20)
    assert completed.count() == 1  # both slots filled with [None] forks


def test_dedup_assignments_equals_distinct_plan(spark, sf_dir):
    """The in-pass assignment dedup + assume_unique projection is the SAME
    set of triples as the shuffle-based distinct() plan — the algebraic
    shuffle elimination the 100 TB pipeline runs with."""
    from autoextraction_spark import corpus

    pages = corpus.web_pages(spark, sf_dir, with_text=True, emit_html=False)
    det = detect.detect_relations(pages)
    slow = output.to_triples(
        output.completed_filter(slot_fill.ordered_slot_fill(det))
    )
    fast = output.to_triples(
        output.completed_filter(
            slot_fill.ordered_slot_fill(det, dedup_assignments=True)
        ),
        assume_unique=True,
    )
    key = lambda r: (r.url, r.pred, r.subj, r.obj)
    fast_rows = fast.collect()
    assert sorted(map(key, fast_rows)) == sorted(map(key, slow.collect()))
    # assume_unique really is unique (no silent reliance on a downstream set)
    assert len(set(map(key, fast_rows))) == len(fast_rows)
    # and the fast plan has NO data shuffle: the distinct's hash exchange is
    # gone (the one remaining Exchange is the deliberate round-robin spread
    # of the tiny corpus skeleton before generation — constant-size, not
    # output-size)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan.lower(), plan[:2000]
    slow_plan = slow._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" in slow_plan.lower()  # the shuffle we removed


def test_episodes_from_skeleton_equals_staged_pipeline(spark, sf_dir):
    """The r6 single-hop fusion (generation → extract → anchor gate →
    episodes in ONE mapInPandas over the skeleton) emits exactly the same
    completed states as the staged web_pages → detect_relations →
    ordered_slot_fill chain — the equivalence the optimization round leans on
    for every _pipeline_triples consumer."""
    from autoextraction_spark import corpus

    pages = corpus.web_pages(spark, sf_dir, with_text=True, emit_html=False)
    det = detect.detect_relations(pages)
    staged = slot_fill.ordered_slot_fill(det, dedup_assignments=True)
    fused = slot_fill.episodes_from_skeleton(
        corpus.doc_skeleton(spark, sf_dir), dedup_assignments=True
    )
    norm = lambda df: sorted(
        (
            r.url,
            r.rel,
            r.lang,
            tuple(sorted(r.assigned.items())),
            tuple(r.remaining),
            round(r.score, 9),
            r.step,
        )
        for r in df.collect()
    )
    assert norm(fused) == norm(staged)


def test_skeleton_gate_matches_detect_relations(spark, sf_dir):
    """The in-python anchor gate keeps exactly detect_relations' (url, rel)
    set (rc_score > 0.6 ⟺ anchor-substring hit)."""
    from autoextraction_spark import corpus

    pages = corpus.web_pages(spark, sf_dir, with_text=True, emit_html=False)
    gate = {(r.url, r.rel) for r in detect.detect_relations(pages).collect()}
    fused = slot_fill.episodes_from_skeleton(corpus.doc_skeleton(spark, sf_dir))
    got = {(r.url, r.rel) for r in fused.select("url", "rel").distinct().collect()}
    assert got == gate


def test_doc_skeleton_unsizeable_path_falls_back_to_wave_cap(spark, sf_dir):
    """A skeleton path the filesystem cannot size (here a glob, which
    Spark reads but getContentSummary does not resolve) takes the fixed
    wave cap as its partition count, replicated or not."""
    from autoextraction_spark import corpus

    glob_dir = f"{sf_dir[:-1]}[{sf_dir[-1]}]"
    assert corpus._estimate_doc_count(spark, glob_dir) is None
    cap = max(spark.sparkContext.defaultParallelism * 4, 16)
    for replicate in (1, 2):
        skel = corpus.doc_skeleton(spark, glob_dir, replicate=replicate)
        assert skel.rdd.getNumPartitions() == cap


def test_doc_skeleton_sized_by_docs_per_task(spark, sf_dir):
    """Partitions = clamp(⌈est_docs / 2500⌉, parallelism, wave cap) with no
    constant floor: a 500-doc corpus runs one wave of `parallelism` tasks,
    a replicated corpus past parallelism·2500 docs gets one task per 2500
    estimated docs, and a very large one stops at the cap."""
    from autoextraction_spark import corpus

    par = spark.sparkContext.defaultParallelism
    assert par == 4  # the test session's local[4]
    cap = max(par * 4, 16)
    est = corpus._estimate_doc_count(spark, sf_dir)
    parts = lambda r: corpus.doc_skeleton(spark, sf_dir, replicate=r).rdd.getNumPartitions()
    assert parts(1) == par
    assert est * 20 > par * corpus._MIN_DOCS_PER_TASK
    assert parts(20) == -(-est * 20 // corpus._MIN_DOCS_PER_TASK) == 5
    assert parts(1000) == cap


def test_triples_invariant_to_skeleton_partitions(spark, sf_dir):
    """The fused hop's triple set does not depend on how the skeleton is
    partitioned (dedup_assignments dedups per row, never across a task), so
    the skeleton's partition count is a pure performance choice."""
    from autoextraction_spark import corpus

    skel = corpus.doc_skeleton(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism
    triples = {}
    for n in (1, par, 16):
        part = skel.repartition(n)
        assert part.rdd.getNumPartitions() == n
        done = output.completed_filter(slot_fill.episodes_from_skeleton(part))
        rows = output.to_triples(done, assume_unique=True).collect()
        assert len(rows) == len(set(rows)), n
        triples[n] = set(rows)
    assert triples[1] == triples[par] == triples[16]
    assert len(triples[1]) > 0
