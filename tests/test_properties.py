"""Property-based tests (hypothesis) for the pure scorer/permutation math —
the partition-order-independence guarantees the distributed plan relies on."""

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from autoextraction_spark import scorers
from autoextraction_spark.operators import nested

mentions = st.text(alphabet="abcdef", min_size=1, max_size=6)
entities = st.lists(
    st.tuples(mentions, st.floats(min_value=-10, max_value=10)),
    min_size=1,
    max_size=20,
)


@settings(max_examples=200, deadline=None)
@given(entities)
def test_score2prob_invariants(ents):
    out = scorers.score2prob(ents)
    # probs sum to 1 (softmax partition), every mention appears once
    assert abs(sum(p for _, p, _ in out) - 1.0) < 1e-9
    assert len({m for m, _, _ in out}) == len(out)
    # score is the max raw logit per mention (Environment.py:90-99)
    for m, _, s in out:
        assert s == max(v for mm, v in ents if mm == m)
    # deterministic order: (-score, mention)
    assert out == sorted(out, key=lambda e: (-e[2], e[0]))


@settings(max_examples=200, deadline=None)
@given(entities)
def test_score2prob_is_input_order_independent(ents):
    # Engine determinism note: candidate order IS fixed per row (regex
    # finditer order over the text, same as the reference), so bitwise
    # reproducibility holds in the pipeline. Across arbitrary reorderings
    # float accumulation differs only in the last ulp — assert that bound.
    a = scorers.score2prob(ents)
    b = scorers.score2prob(list(reversed(ents)))
    assert [(m, s) for m, _, s in a] == [(m, s) for m, _, s in b]
    for (_, pa, _), (_, pb, _) in zip(a, b):
        assert abs(pa - pb) < 1e-12


@settings(max_examples=50, deadline=None)
@given(
    st.text(alphabet="abcdefgh ", min_size=1, max_size=40),
    st.sampled_from(["works_for", "based_in", "born_in", "founded", "acquired"]),
    st.lists(st.sampled_from(["subject", "object"]), min_size=1, max_size=2, unique=True),
)
def test_choose_slot_deterministic_across_calls(text, rel, remaining):
    for policy in ("rl", "sequence", "reverse", "random"):
        a = scorers.choose_slot(text, rel, "en", {}, remaining, policy)
        b = scorers.choose_slot(text, rel, "en", {}, remaining, policy)
        assert a == b and a in remaining


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=5, max_value=8))
def test_sampled_perms_are_valid_and_deterministic(k):
    rows = nested.perm_dimension([k])
    orders = [o for _, _, o in rows]
    assert len(orders) == nested.N_SAMPLED_PERMS
    for o in orders:
        assert sorted(o) == list(range(k))
    assert orders == [o for _, _, o in nested.perm_dimension([k])]
    # full expansion below the sampling threshold
    assert len(nested.perm_dimension([4])) == math.factorial(4)


def _random_doc_text(draw):
    """A doc with 1-3 works_for facts, each primary- or alt-phrased."""
    from autoextraction_spark import schema as S

    n = draw(st.integers(1, 3))
    sents = []
    for k in range(n):
        p = S.PEOPLE[draw(st.integers(0, 47))]
        o = S.ORGS[draw(st.integers(0, 47))]
        conn = " works for " if draw(st.booleans()) else " is at "
        sents.append(f"{p}{conn}{o}.")
    return " ".join(sents)


@given(st.data())
@settings(max_examples=60, deadline=None)
def test_episode_transitions_invariants(data):
    """Pure-function invariants of E13 rollouts on random fact mixes:
    exactly one opening transition; its fork count equals the number of
    depth-1 transitions; done marks exactly the final depth; every feature
    vector has FEATURE_DIM entries; rollouts are deterministic."""
    from autoextraction_spark.operators.rl_train import _episode_transitions

    text = _random_doc_text(data.draw)
    eps = data.draw(st.sampled_from([0.0, 0.5]))
    args = ("u0", "works_for", text, "en", "sequence", eps, 7, None, "step", 20)
    rows = _episode_transitions(*args)
    assert rows == _episode_transitions(*args)  # deterministic
    step0 = [r for r in rows if r[3] == 0]
    step1 = [r for r in rows if r[3] == 1]
    assert len(step0) == 1 and len(rows) == len(step0) + len(step1)
    (_u, _rel, _lang, _s, given, action, reward, done, n_next, feats,
     next_feats) = step0[0]
    assert given == "" and not done and n_next == len(next_feats) == len(step1)
    assert len(feats) == scorers.FEATURE_DIM
    assert reward > 0
    for r in step1:
        assert r[7] is True  # done
        assert len(r[9]) == scorers.FEATURE_DIM
        assert all(len(v) == scorers.FEATURE_DIM for ns in r[10] for v in ns)


# ------------------------------------------------------- plan-hygiene audit

# Committed per-query plan-shape expectations: (parquet scans, checkpoint-RDD
# scans, python stages) at sf0.001. Spark re-executes repeated subplans, so a
# parquet count above a query's inherent source-table count is a recompute
# bug (the round-3 class: corpus scanned 6x per dedup query). The audit
# asserts counts never EXCEED these; drops are improvements - update the
# table when a query legitimately changes shape.
EXPECTED_PLAN_COUNTS = {
    "kg_triples": (1, 0, 1),
    "kg_detect": (1, 0, 1),
    "kg_metric_f1": (2, 0, 2),
    "kg_slot_f1": (2, 0, 2),
    "kg_events": (1, 0, 2),
    "kg_triples_canonical": (0, 3, 0),
    "kg_linking": (0, 0, 0),
    "minhash_dedup": (0, 6, 0),
    "simhash": (1, 0, 0),
    "connected_components": (0, 0, 0),
    "ngram_jaccard": (0, 10, 0),
    "doc_dedup": (1, 0, 0),
    "dup_profile": (1, 0, 0),
    "host_profile": (1, 0, 0),
    "jaccard_sweep": (0, 10, 0),
    "boilerplate_grams": (0, 3, 0),
    "pq_codes": (0, 16, 0),
    # the corpus scan sits under the posting table's lazy checkpoint
    "winnow": (0, 1, 0),
    # one read of the posting-table checkpoint per join side (AQE reuses it)
    "quote_pairs": (0, 2, 0),
    "kg_modularity": (0, 7, 0),
    "kg_shortest_paths": (0, 1, 0),
    "event_bursts": (0, 2, 0),
    # sketches: source checkpointed once; register/counter/bit builds and
    # their probes read only the checkpoint
    "hll_distinct": (0, 5, 0),
    "kmv_distinct": (0, 2, 0),
    "cms_heavy_hitters": (0, 3, 0),
    "bloom_prune": (0, 6, 0),
    "hll_merge": (0, 5, 0),
    # all 22 are reads of the <=320-row kept-sketch / distinct-word
    # checkpoints fanned out across the pair joins — the corpus-wide word
    # explode is read exactly twice (eagerly); no corpus recompute
    "kmv_overlap": (0, 22, 0),
    "event_funnel": (0, 4, 0),
    "retention_cohorts": (0, 3, 0),
    "crawl_diff": (0, 2, 0),
    "length_quantiles": (1, 0, 0),
    "weighted_sample": (1, 0, 0),
    "journey_transitions": (0, 2, 0),
    "kg_fact_history": (1, 0, 1),
    "vocab_growth": (1, 2, 0),
    "kg_as_of": (1, 0, 1),
    "kg_snapshot_diff": (0, 2, 0),
    "kg_rule_mining": (0, 3, 0),
    "kg_implications": (0, 5, 0),
    "kg_rule_apply": (0, 5, 0),
    "knn_graph": (0, 2, 0),
    "video_frames": (1, 0, 2),
    "zipf_fit": (1, 0, 0),
    # four pruned 3-column scans of the source (median, MAD dev, and the
    # outlier join) - re-scanning a pushed-down columnar projection beats
    # checkpointing it, the bootstrap_ci rule
    "length_outliers": (4, 0, 0),
    "host_lang_entropy": (0, 1, 0),
    # 16 = the two pair pipelines' internal checkpoint reads (truth 10 +
    # minhash 6, each already pinned on its own query)
    "dedup_recall_eval": (0, 16, 0),
    "dedup_best_survivor": (0, 3, 0),
    # two inherent parquet scans: the resample explode and the point
    # estimate (32x amplification makes sharing the scan a pessimization)
    "bootstrap_ci": (2, 0, 0),
    "boolean_retrieval": (1, 2, 0),
    "lang_id_eval": (0, 2, 0),
    "tfidf_keywords": (0, 3, 0),
    "collocations": (0, 4, 0),
    "kg_reach_profile": (0, 5, 0),
    "kg_entity_types": (0, 2, 0),
    "cdc_chunks": (1, 0, 0),
    "order_split": (0, 2, 2),
    "char_f1": (1, 0, 1),
    "cond_roundtrip": (1, 0, 1),
    "embed_neardup": (2, 2, 0),
    "semantic_dedup": (1, 0, 0),
    "kg_scc": (0, 2, 0),
    "kg_toposort": (0, 6, 0),
    "kg_pmi": (0, 5, 0),
    "kg_paths": (0, 5, 0),
    "link_graph": (1, 0, 0),
    "host_authority": (0, 4, 0),
    "host_authority_weighted": (0, 4, 0),
    "crawl_frontier": (2, 4, 0),
    "crawl_schedule": (2, 4, 0),
    "temperature_mix": (1, 8, 0),
    "mixture_plan": (0, 4, 0),
    "kg_adamic": (0, 3, 0),
    "kg_degree_dist": (0, 2, 0),
    "kg_entity_cards": (0, 12, 0),
    "anchor_names": (2, 0, 0),
    "chunk_docs": (1, 0, 0),
    "mirror_hosts": (0, 4, 0),
    "bpe_train": (0, 8, 0),
    "bpe_vocab": (0, 1, 0),
    "bpe_fertility": (1, 1, 0),
    "token_stats": (1, 0, 0),
    "quality": (1, 0, 0),
    "repetition": (1, 0, 0),
    "c4_filters": (1, 0, 0),
    # paragraph dedup checkpoints its exploded-lines plan once; the winner
    # agg and the probe side each read the checkpoint (2 ckpt, 0 parquet)
    "paragraph_dedup": (0, 2, 0),
    # gram ckpt feeds winner agg + probe side (2); token ckpt feeds the
    # reassembly leg (1)
    "substring_dedup": (0, 3, 0),
    # winner agg branch + probe branch: two inherent reads of the source
    "url_dedup": (2, 0, 0),
    # N/avgdl scalar + the all-docs left side are two inherent pruned
    # scans; the tiny per-(doc, query-term) tf table is checkpointed once
    # (post-aggregation, a few rows per matching doc — NOT the corpus-size
    # split-array) and read by both the df_t agg and the scoring join
    "bm25_select": (2, 2, 0),
    # gram ckpt read by raw counts, target counts, and the scoring join;
    # scalar totals fold from the <=B-row count tables, not the corpus
    "dsir_select": (0, 3, 0),
    # one corpus scan; sh_new/sh_idx ckpts feed signature + union-verify
    # legs, per_id ckpt feeds the 4 size/array join builds
    # r6: the row-local set table (one DISK_ONLY checkpoint per side) is
    # scanned by the signature AND all four verify builds — more scans of a
    # cheap materialized table in exchange for dropping both shingle-keyed
    # shuffles (explode-distinct + groupBy-collect); deliberate, not a
    # recompute bug.
    "incremental_dedup": (1, 11, 0),
    # distinct (subj,pred,obj) + codegen string formatting over the A-D
    # pipeline (1 scan, 1 python stage — same as kg_triples)
    "kg_ntriples": (1, 0, 1),
    # vector ckpt + per-iteration centroid ckpts (Lloyd's loop, no collect)
    "kmeans_centroids": (0, 3, 0),
    # final-assignment ckpt feeds both sides of the intra-cluster self-join
    # + the all-rows left side; kmeans lineage sits behind its own ckpts
    "semdedup": (0, 3, 0),
    # peeling loop runs eagerly at build; final plan reads one edge ckpt
    "kg_kcore": (0, 1, 0),
    # closure union reads the base-edge ckpt + <=3 frontier ckpts (depth 4)
    "kg_centrality": (0, 4, 0),
    # survivor ckpt feeds gram explode + final text join; gram ckpt feeds
    # count tables + scoring (url-winner lineage sits behind the survivor
    # ckpt; packing is one window, no extra scan)
    "curation_pipeline": (0, 4, 0),
    # two parquet branches are inherent: the benchmark filter and the
    # training filter are different subsets of the same source
    "decontaminate": (2, 0, 0),
    "pii_scrub": (1, 0, 0),
    "lang_id": (1, 0, 0),
    "fingerprint": (1, 0, 0),
    "containment_audit": (2, 0, 2),
    "cosine_topk": (2, 0, 0),
    # r6: the band join + candidate dedup now move id pairs only (guide
    # §8); each side's vector table is a separate scan of the tiny parquet
    # attached to surviving pairs once — one more scan, two payload-free
    # shuffles; deliberate.
    "ann_topk": (4, 0, 0),
    "ivf_topk": (2, 0, 0),
    "host_counts": (1, 0, 1),
    "image_features": (1, 0, 2),
    "image_features_real": (1, 0, 3),
    "audio_features_real": (1, 0, 3),
    "tpch_q1": (1, 0, 0),
    "tpch_q3ish": (3, 0, 0),
    "sessionize": (1, 0, 0),
    "cube_agg": (1, 0, 0),
    "asof_join": (1, 0, 0),
    "json_flatten": (1, 0, 0),
    "spo_flatten": (1, 0, 0),
    "budget_truncate": (1, 0, 0),
    "perm_examples": (1, 0, 1),
    "perm_examples_sampled": (1, 0, 0),
    "tokenize_offsets": (1, 0, 1),
    "span_labels_search": (1, 0, 2),
    "span_labels_char": (1, 0, 2),
    "vocab_topk": (1, 0, 0),
    "rel2id": (1, 0, 0),
    "cooccur_pairs": (2, 0, 0),
    "exact_dedup": (1, 0, 0),
    "score2prob": (2, 0, 0),
    "argmax_order": (1, 0, 0),
    "metric_f1_sets": (2, 0, 0),
    # fixed-depth PageRank: final plan reads only checkpoints (edges, base,
    # last-iteration ranks x2 for the contrib + dangling branches)
    "kg_pagerank": (0, 4, 0),
    # rule inference: triple checkpoint read once per join side per rule
    "kg_infer": (0, 4, 0),
    # semi-naive closure: final plan unions the depth-1 edge checkpoint +
    # one checkpoint per non-empty round (max_depth=8 bounds it)
    "kg_closure": (0, 5, 0),
    # BFS returns the last visited checkpoint — exactly one RDD scan
    "kg_reach": (0, 1, 0),
    # oriented-edge checkpoint ×0 in final plan; tri checkpoint ×3 branches
    "kg_triangles": (0, 3, 0),
    # two disjoint pipeline runs (new batch + snapshot), one anti-join
    "kg_delta": (2, 0, 2),
    # final update joins: prev ent/rel checkpoints + the violated-triple
    # checkpoint once per gradient-union branch (3 ent + 1 rel)
    "kg_transe": (0, 6, 0),
    # same final-plan shape as kg_transe (second score fn, same trainer)
    "kg_distmult": (0, 6, 0),
    "kg_complex": (0, 6, 0),
    # the scored table is checkpointed and read twice (scores + argmin)
    "kg_link_predict": (0, 2, 0),
    # ann: ent-vec ckpt ×2 (cand gen + scoring) + query-point ckpt ×2 +
    # the brute-force comparison branch's scored ckpt
    "kg_link_predict_ann": (0, 5, 0),
    # triple ckpt (1, rel-vocab branch) + eid ckpt ×2 + rank part ckpt
    "kg_export": (0, 4, 0),
    # one checkpointed triple plan read per BGP pattern
    "kg_conjunctive": (0, 3, 0),
    # one pipeline pass (codegen CASE typing folds into the same stage)
    "kg_schema": (1, 0, 1),
    # edge ckpt: wedge legs ×2 + degree joins ×2
    "kg_similar": (0, 4, 0),
    # same final-plan shape as kg_pagerank (edges, base, last ranks ×2)
    "kg_ppr": (0, 4, 0),
    # sym-edge ckpt + last-round labels ckpt read by counts/argmax joins
    "kg_communities": (0, 4, 0),
    # keyed-triple ckpt read by the max-key agg branch + the winner join
    "kg_resolve": (0, 2, 0),
    "kg_fuse": (2, 0, 2),
    # scored ckpt read by the true-score branch + the rank join; the
    # n_dropped input-count branch reads the train-table ckpt once more
    "kg_rank_eval": (0, 3, 0),
    # + one entity-keyed join of scored candidates vs the known set
    "kg_rank_eval_filtered": (0, 4, 0),
    # final union reads the step-0 frontier + each step's walk checkpoint
    "kg_walks": (0, 4, 0),
    # composed A-F + inference: canonical-triple ckpt ×2 per rule
    "kg_infer_canonical": (0, 4, 0),
    # GD training: final union reads the 3 checkpointed weight snapshots
    "quality_classifier": (0, 3, 0),
    "classifier_score": (1, 0, 0),
    # detector GD: one checkpointed weight snapshot per iteration (24)
    "detector_train": (0, 24, 0),
    # deploy: feature pass (pages scan + generator) + final-weight ckpt
    "detector_score": (1, 1, 1),
    # + the gold-label join: two generator python stages + their skeleton scans
    "detector_calibration": (3, 1, 3),
    # ref-subset scan (inside the lazy ckpt lineage) + scoring scan are
    # different subsets of the source, as in decontaminate; counts/vocab
    # read the two checkpoints
    "lm_perplexity": (2, 3, 0),
    # lm_perplexity + one more documents scan for the lang join
    "ccnet_buckets": (3, 3, 0),
    "mixture_sample": (1, 0, 0),
    "pack_sequences": (1, 0, 0),
    # dedup winner semi-join: digest-agg branch + surviving-doc branch are
    # two inherent reads of the source (no recompute beyond that)
    "training_pipeline": (2, 0, 0),
    "domain_cap": (1, 0, 0),
    "hash_split": (1, 0, 0),
    "latest_event": (1, 0, 0),
    "rl_transitions": (1, 0, 2),
    "rl_event_transitions": (1, 0, 2),
    "dqn_train": (1, 0, 2),
    "rl_learned_policy": (1, 0, 2),
}


def test_plan_scan_counts_do_not_regress(spark, sf_dir):
    """CI form of scripts/audit_scans.py (VERDICT r3 item 10): every
    queries() entry must exist in the committed table and must not scan
    more than its pinned counts."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from audit_scans import audit

    got = audit(spark, sf_dir)
    assert set(got) == set(EXPECTED_PLAN_COUNTS), (
        "queries() and EXPECTED_PLAN_COUNTS diverge: "
        f"{set(got) ^ set(EXPECTED_PLAN_COUNTS)}"
    )
    bad = {
        name: {"got": counts, "max": EXPECTED_PLAN_COUNTS[name]}
        for name, counts in got.items()
        if any(g > m for g, m in zip(counts, EXPECTED_PLAN_COUNTS[name]))
    }
    assert not bad, f"plan-shape regressions (recompute bug?): {bad}"


def test_plan_scan_audit_of_named_queries(spark, sf_dir):
    """``audit`` with a name subset audits only those queries, so one pin
    change re-audits in seconds."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from audit_scans import audit

    got = audit(spark, sf_dir, ["winnow", "quote_pairs"])
    assert got == {name: EXPECTED_PLAN_COUNTS[name] for name in ("winnow", "quote_pairs")}


def test_full_sweep_artifact_matches_queries():
    """The committed full-sweep correctness artifact (r4-verdict item 1:
    the driver's gate samples only 50 queries per round, and the sampled
    set rotated by 31 queries between r3 and r4 — a regression in a
    rotated-out query could ride along unnoticed) must exist, must cover
    EXACTLY the current ``queries()`` surface, and must be all-green.
    Regenerate with ``python scripts/check_oracle.py --json-out
    CORRECTNESS_full_r6.json`` after adding or changing a query."""
    import json
    import os

    import __spark_entry__ as entrymod

    path = os.path.join(
        os.path.dirname(__file__), "..", "CORRECTNESS_full_r6.json"
    )
    assert os.path.exists(path), (
        "CORRECTNESS_full_r6.json missing — run scripts/check_oracle.py "
        "--json-out CORRECTNESS_full_r6.json at HEAD and commit it"
    )
    with open(path) as fh:
        artifact = json.load(fh)
    got = set(artifact["queries"])
    want = set(entrymod.queries())
    assert got == want, (
        "full-sweep artifact is stale vs queries(): "
        f"missing={sorted(want - got)} extra={sorted(got - want)}"
    )
    bad = {
        name: rec
        for name, rec in artifact["queries"].items()
        if rec["status"] not in ("ok", "rows_only")
    }
    assert not bad, f"full-sweep artifact records failures: {bad}"
