"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship KG-construction pipeline; ``queries``/
``oracle_sql`` expose every implemented operator (SURVEY.md §2) for the
DuckDB cross-check. The synthetic corpus is pure doc_id arithmetic
(autoextraction_spark/schema.py), so even the full extraction pipeline has an
ANSI-SQL oracle (autoextraction_spark/oracle.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from autoextraction_spark import corpus, oracle  # noqa: E402
from autoextraction_spark import metrics as kgmetrics  # noqa: E402
from autoextraction_spark import schema as KS  # noqa: E402
from autoextraction_spark.materialize import ckpt, co_key_pairs, local_table  # noqa: E402
from autoextraction_spark.operators import (  # noqa: E402
    bpe, classifier, compose, dedup, detect, graph, kge, linking, lm,
    multimodal, nested, output, rl_train, similarity, sketch, slot_fill,
    textstats, tokenize,
)
from autoextraction_spark.operators.canonicalize import connected_components  # noqa: E402
from autoextraction_spark.pipeline import (  # noqa: E402
    salted_host_counts, skeleton_triples, text_triples, url_dedup,
)


def _pipeline_triples(spark: SparkSession, sf_dir: str, where=None) -> DataFrame:
    # stages A-D in ONE python hop over the (doc_id, lang) skeleton (see
    # pipeline.skeleton_triples). ``where`` filters the doc skeleton BELOW
    # the generator so it pushes into the parquet scan.
    return skeleton_triples(corpus.doc_skeleton(spark, sf_dir, where=where))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG pipeline (stages A-D) on the sf0.001 corpus."""
    return _pipeline_triples(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------- queries

def q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline: text extraction → detection → ordered slot filling →
    distinct triples (operators S1, E1-E12, O1-O4)."""
    return _pipeline_triples(spark, sf_dir)


def q_kg_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage B relation-detection gate (E1): broadcast anchor join + sigmoid
    threshold 0.6 (predict.py:145-146)."""
    pages = corpus.web_pages(spark, sf_dir, with_text=True, emit_html=False)
    return detect.detect_relations(pages).select(
        "url", "rel", F.round("rc_score", 6).alias("rc_score")
    )


def _detector_gold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervision for the trainable detection gate: distinct gold
    (url, rel) over relations AND events — the labeled datasets the
    reference's RCModel trains from (classification.py:52-60)."""
    rels = corpus.gold_triples(spark, sf_dir).select("url", F.col("pred").alias("rel"))
    evs = corpus.gold_events(spark, sf_dir).select("url", F.col("etype").alias("rel"))
    return rels.union(evs)


def q_detector_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the stage-B detection gate distributedly (the
    classification.py:32-67 RCModel training analog, r4-verdict item 3):
    multi-label-as-binary logistic regression over pure-codegen anchor-
    presence features, full-batch GD with weights in 1-row broadcast
    DataFrames (no collect in the loop). Emits every weight snapshot; the
    oracle unrolls the identical 24-iteration trajectory in SQL CTEs."""
    pages = corpus.web_pages(spark, sf_dir, with_text=True, emit_html=False)
    return detect.train_detector(pages, _detector_gold_pairs(spark, sf_dir))


def q_detector_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deploy the TRAINED detection gate in the same lazy plan: the final
    (rounded) weight snapshot broadcast-crossJoins the candidate-pair
    feature table and gates at sigmoid ≥ 0.5 — train → deploy end-to-end,
    verified against the oracle's unrolled-GD + scoring SQL. The trained
    gate's detection F1 equals the fixed-anchor gate's (pytest
    test_detect_trained)."""
    pages = corpus.web_pages(spark, sf_dir, with_text=True, emit_html=False)
    snaps = detect.train_detector(pages, _detector_gold_pairs(spark, sf_dir))
    wfin = snaps.filter(F.col("iter") == detect.DETECTOR_ITERS)
    return detect.detect_relations_with_weights(pages, wfin)


def q_detector_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the trained detection gate: score-binned
    empirical positive rate vs mean score — the model-card calibration
    table (train → deploy → one groupBy, a single lazy plan)."""
    pages = corpus.web_pages(spark, sf_dir, with_text=True, emit_html=False)
    return detect.detector_calibration(pages, _detector_gold_pairs(spark, sf_dir))


def q_kg_metric_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 MetricF1 (predict.py:54-79) of pipeline output vs gold."""
    pred = _pipeline_triples(spark, sf_dir)
    gold = corpus.gold_triples(spark, sf_dir)
    m = output.metric_f1(pred, gold)
    return m.select(
        "correct", "output", "golden",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )


def q_kg_slot_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 per-relation accounting F1 (DQN.py:277-427): rendered pipeline
    triples scored against CANONICAL gold — variant-rendered org objects
    count as tn (unmatched completed extractions), so per-pred precision
    dips below 1.0 exactly where linking is needed."""
    pred = _pipeline_triples(spark, sf_dir)
    gold = corpus.gold_triples(spark, sf_dir, canonical=True)
    m = output.slot_accounting_f1(pred, gold, group="pred")
    return m.select(
        "pred", "tp", "tn", "tot",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )


def q_kg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-slot (3-role) event extraction — DuEE-style ordered filling
    (P3 semantics), reified as (url, etype, role, value) rows."""
    pages = corpus.web_pages(spark, sf_dir, with_text=True, emit_html=False)
    det = detect.detect_relations(pages)
    completed = slot_fill.ordered_slot_fill(det)
    return output.to_event_rows(output.completed_filter(completed))


def q_kg_triples_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stages A-F end-to-end: pipeline triples → MinHash/LSH entity linking →
    connected-components canonicalization → canonical triples."""
    return linking.canonical_triples(_pipeline_triples(spark, sf_dir))


def q_kg_linking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage E+F in isolation: mention vocab → LSH-blocked variant edges →
    connected components → canonical mapping."""
    trip = corpus.gold_triples(spark, sf_dir)
    return linking.canonical_mapping(linking.mention_vocab(trip))


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs over documents (word-3-shingles,
    16 perms, 8 bands, exact-Jaccard verify ≥ 0.8)."""
    docs = corpus.read_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_dup_pairs(docs, "doc_id", "text", threshold=0.8)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash signatures over documents (portable hash)."""
    return dedup.simhash64(corpus.read_table(spark, sf_dir, "documents"), "doc_id", "text")


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage F connected components on the doc—lang bipartite star."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "lang")
    edges = docs.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("src"),
        F.concat(F.lit("l"), F.col("lang")).alias("dst"),
    )
    return connected_components(edges)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via the prefix-filter inverted
    index (no blocking loss, no all-pairs — the round-1 within-language
    cartesian was quadratic, VERDICT.md item 3)."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    pairs = dedup.jaccard_dup_pairs(docs, "doc_id", "text", threshold=0.5)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup deduplication: minhash pairs → connected
    components → one canonical survivor per transitive cluster."""
    docs = corpus.read_table(spark, sf_dir, "documents")
    out = dedup.dedup_documents(docs, "doc_id", "text", method="minhash",
                                threshold=0.8)
    return out.select("doc_id", "keep_id", "is_canonical")


def q_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplication profile: the near-dup cluster-size histogram
    (n_clusters / n_docs / n_excess per size) over the minhash doc-dedup
    labels — the curve a curation report leads with (sum of n_excess =
    mass dedup would remove). Two map-side-combinable counts over (id,
    keep_id); bodies never shuffle."""
    docs = corpus.read_table(spark, sf_dir, "documents")
    labeled = dedup.dedup_documents(docs, "doc_id", "text", method="minhash",
                                    threshold=0.8)
    return dedup.dup_profile(labeled)


def q_host_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host curation report: doc count, language spread, mean composite
    quality, near-dup share — the table a crawl operator ranks to blocklist
    spam/mirror hosts before the next fetch round. Composes quality_score
    and the minhash dedup labels in ONE lazy plan; the groupBy is map-side
    combinable so the hot host (20% of the corpus by construction) never
    concentrates rows on one reducer."""
    docs = corpus.read_table(spark, sf_dir, "documents")
    labeled = dedup.dedup_documents(docs, "doc_id", "text", method="minhash",
                                    threshold=0.8)
    scored = textstats.quality_score(labeled)
    host = F.concat(
        F.lit("site"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(0))
        .otherwise(F.col("doc_id") % KS.N_HOSTS)
        .cast("string"),
        F.lit(".example.com"),
    )
    return (
        scored.select(
            host.alias("host"),
            "lang",
            "quality",
            (F.col("keep_id") != F.col("doc_id")).cast("int").alias("is_dup"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.round(F.avg("quality"), 6).alias("mean_quality"),
            F.round(F.avg("is_dup"), 6).alias("dup_share"),
        )
    )


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS): per-window rightmost-min k-gram hash
    selections — the posting table whose equi-join GUARANTEES detection of
    any shared substring ≥ w+k−1 chars (the local-selection property
    MinHash/global-min fingerprints lack)."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    return textstats.winnow_fingerprints(docs, k=8, w=15).withColumnRenamed(
        "id", "doc_id"
    )


def q_quote_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MOSS detector: doc pairs sharing ≥3 non-viral winnowing
    fingerprints — quote/plagiarism/near-copy candidates with the
    guaranteed-detection floor. The stop-fingerprint rule bites on this
    corpus (15% of fps sit on >20 docs — template boilerplate excluded
    before the fp-keyed pair join)."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    fps = textstats.winnow_fingerprints(docs, k=8, w=15)
    return textstats.shared_fingerprint_pairs(
        fps, min_shared=3, max_docs_per_fp=20
    )


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes + per-subspace reconstruction error over
    the embeddings table (m=4 subspaces × k=4 centroids, Lloyd-trained
    codebooks) — the compression half of IVF-PQ, the layout that makes
    billion-vector ANN memory-resident. The oracle unrolls all four
    codebook trainings term-for-term (prefixed _kmeans_ctes chains)."""
    vecs = corpus.read_table(spark, sf_dir, "embeddings")
    return similarity.pq_codes(vecs, m=4, k=4, iters=2, dim=64)


def q_boilerplate_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-gram mining: word 5-grams on ≥3 distinct hosts — template
    boilerplate, not content. The producer table behind mirror_hosts'
    stop-digest rule and decontamination gram filters; CCNet-style
    pipelines strip these before LM scoring. One checkpointed corpus
    explode feeds all three counts; the host filter runs before the
    gram-keyed joins."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    host = F.concat(
        F.lit("site"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(0))
        .otherwise(F.col("doc_id") % KS.N_HOSTS)
        .cast("string"),
        F.lit(".example.com"),
    )
    d = docs.select("doc_id", host.alias("host"), "text")
    return dedup.boilerplate_grams(d, n=5, min_hosts=3)


def q_jaccard_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning sweep: per similarity band, the exact-Jaccard pair
    count and the cumulative pairs at-or-above the band — every candidate
    dedup threshold priced from ONE similarity join instead of one corpus
    join per threshold."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    pairs = dedup.jaccard_dup_pairs(docs, "doc_id", "text", threshold=0.3)
    return dedup.jaccard_threshold_sweep(pairs, buckets=20)


def q_order_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8 order-sensitivity split (data_filter.py:174-242): the triples the
    adaptive policy recovers that the fixed schema-order baseline misses —
    the reference's 'hard' eval-split construction, end-to-end."""
    # the two policy runs ARE the semantics (O8) — but they share the
    # generation → extraction upstream, which is materialized once instead
    # of running the corpus pass twice
    txt = ckpt(
        corpus.web_pages(spark, sf_dir, with_text=True, emit_html=False),
        eager=True,
        level=None,
    )
    return text_triples(txt, "rl").exceptAll(text_triples(txt, "sequence"))


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-bucket blocked (multi-table
    sign-LSH candidates + exact cosine verify — equi-joins only)."""
    vecs = corpus.read_table(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_pairs(
        vecs, threshold=0.4, n_planes=2, n_tables=4, dim=64
    )


def q_char_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7 char-bag F1 (metrics.char_f1): rendered vs canonical object
    surface per gold fact — lowercase char-multiset overlap, spaces
    stripped; variant-rendered orgs ('Acme Corporation' vs 'Acme Corp')
    score below 1."""
    t = corpus.gold_fact_tuples(spark, sf_dir)
    return t.select(
        "url", "i",
        F.round(kgmetrics.char_f1_udf(F.col("obj"), F.col("obj_canon")), 6).alias("cf1"),
    )


def q_cond_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 cond-grammar render → parse roundtrip (Environment.py:106-108
    grammar, predict.py:109-126 seq2dict): typed state serialized to the
    byte-exact cond string, parsed back, both emitted — the oracle renders
    the same grammar in SQL, so one byte of drift hash-mismatches."""
    t = corpus.gold_fact_tuples(spark, sf_dir)
    is_zh = F.col("lang") == "zh"
    assigned = F.when(
        is_zh,
        F.create_map(
            F.lit(KS.ZH_SLOTS[0]), F.col("subj"), F.lit(KS.ZH_SLOTS[1]), F.col("obj")
        ),
    ).otherwise(
        F.create_map(
            F.lit(KS.EN_SLOTS[0]), F.col("subj"), F.lit(KS.EN_SLOTS[1]), F.col("obj")
        )
    )
    states = t.select("url", "i", "lang", "rel", assigned.alias("assigned"))
    parsed = output.parse_cond(output.render_cond(states))

    def slot_rt(idx: int):
        return F.when(
            is_zh, F.element_at("parsed_assigned", F.lit(KS.ZH_SLOTS[idx]))
        ).otherwise(F.element_at("parsed_assigned", F.lit(KS.EN_SLOTS[idx])))

    return parsed.select(
        "url", "i", "cond",
        F.col("parsed_rel").alias("rel_rt"),
        slot_rt(0).alias("subj_rt"),
        slot_rt(1).alias("obj_rt"),
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-cosine) DEDUPLICATION end-to-end: LSH-blocked
    cosine pairs → connected components → one canonical survivor per
    transitive cluster (dedup_documents method='embedding')."""
    vecs = corpus.read_table(spark, sf_dir, "embeddings")
    out = dedup.dedup_documents(
        vecs, "vec_id", "embedding", method="embedding",
        threshold=0.4, n_planes=2, n_tables=4, dim=64,
    )
    return out.select("vec_id", "keep_id", "is_canonical")


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex (training-data op)."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    return textstats.token_stats(docs).drop("text")


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punct/stopword ratios + composite."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    return textstats.quality_score(docs).select(
        "doc_id", "punct_ratio", "stopword_ratio", "avg_token_len", "quality"
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signals (dup-word / top-bigram /
    dup-trigram fractions) — zero-shuffle higher-order-function plan."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    return textstats.repetition_stats(docs).select(
        "doc_id",
        "dup_word_frac",
        "top_bigram_frac",
        "dup_trigram_frac",
        "repetitive",
    )


def q_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style document filter signals (sentence/terminal-punct/banned
    markers + keep flag) — pure codegen per-document map."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    return textstats.c4_filters(docs).select(
        "doc_id", "n_sentences", "ends_terminal", "n_words", "has_banned",
        "c4_keep",
    )


def q_kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics over the PIPELINE's own output: run stages A-D, take
    the emitted (subj, obj) entity edges, and compute degree stats + 3
    iterations of damped PageRank (GraphFrames-style iterate-over-
    DataFrames, no driver-side loop state). The oracle recomputes the same
    unrolled iterations over the gold triple graph — so this row also
    re-verifies the extraction output it consumes."""
    triples = _pipeline_triples(spark, sf_dir)
    return graph.entity_pagerank(graph.triple_edges(triples))


#: property-chain rules for q_kg_infer (works_for ∘ based_in ⇒ employed_in …)
INFERENCE_RULES = [
    ("works_for", "based_in", "employed_in"),
    ("founded", "based_in", "founded_in"),
]

#: literal seed entities for q_kg_reach (one en org, one zh org)
REACH_SEEDS = ["Acme Corp", "华信集团"]


def _reach_seeds(spark: SparkSession) -> DataFrame:
    """The REACH_SEEDS as a one-column (node) table."""
    return local_table(spark, [(s,) for s in REACH_SEEDS], "node string")


def q_kg_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property-chain rule inference over the pipeline's own triples: each
    rule is ONE entity-keyed equi-join (works_for ∘ based_in ⇒ employed_in,
    founded ∘ based_in ⇒ founded_in); per-predicate filters push into the
    shared, once-materialized triple plan."""
    return graph.rule_inference(_pipeline_triples(spark, sf_dir), INFERENCE_RULES)


def q_kg_rule_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMIE-style chain-rule discovery over the pipeline's own KG: every
    2-atom body (body_a ∘ body_b) with its path-pair count and every head
    predicate's support/confidence — the miner that PROPOSES the rules
    kg_infer applies. Rediscovers acquired∘acquired ⇒ acquired (the
    closure rule) on this corpus."""
    return graph.rule_mining(_pipeline_triples(spark, sf_dir), min_support=5)


def q_kg_implications(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate implication / inverse / symmetry discovery (AMIE's 1-atom
    rules): same-direction and inverse fact-key overlaps per predicate
    pair, with confidence = support / |p| — the ontology-alignment table.
    Surfaces works_for ⇔ founded on this corpus."""
    return graph.implication_rules(
        _pipeline_triples(spark, sf_dir), min_support=2
    )


def q_kg_rule_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG completion by the MINED rules: high-confidence chain rules fire
    over their body paths, and endpoints whose head fact the KG lacks
    become proposed facts with rule provenance + confidence — the
    curation candidate queue, closing the mine → apply → propose
    reasoning cycle."""
    return graph.apply_mined_rules(
        _pipeline_triples(spark, sf_dir), min_support=5, min_confidence=0.2
    )


def _acquired_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``acquired`` org→org (src, dst) edges the closure family walks."""
    return _pipeline_triples(spark, sf_dir).filter(F.col("pred") == "acquired").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )


def q_kg_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-naive transitive closure of the ``acquired`` org→org edges: who
    transitively controls whom, with BFS-minimal depth. The oracle's
    WITH RECURSIVE enumeration min-collapses to the same pair set."""
    return graph.transitive_closure(_acquired_edges(spark, sf_dir), max_depth=8)


def q_kg_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the ``acquired`` org→org graph
    (hop-bounded mutual reachability over the semi-naive closure): each
    scc_size > 1 component is an acquisition CYCLE the reasoner must
    collapse — the directed complement to connected_components."""
    return graph.strongly_connected(_acquired_edges(spark, sf_dir), max_depth=8)


def q_kg_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical evidence paths for every hop-bounded closure pair of the
    ``acquired`` graph: ONE deterministic minimal-depth witness path per
    (src, dst), chosen by the per-hop greedy-min rule — the explanation
    shown next to each inferred transitive-control fact."""
    return graph.canonical_paths(_acquired_edges(spark, sf_dir), max_depth=8)


def q_kg_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-level entity co-occurrence PMI over the extracted triples —
    the distributional association table (high-PMI pairs WITHOUT an
    explicit edge are relation-discovery candidates). One checkpointed
    (page, entity) projection feeds N, the marginals, and the page-keyed
    pair join."""
    t = _pipeline_triples(spark, sf_dir)
    return graph.entity_pmi(t)


def q_kg_toposort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC condensation + longest-path topological levels of the
    ``acquired`` graph — the parallel rule-evaluation schedule over a
    cyclic KG (level L runs after all levels < L). Composes
    strongly_connected with the condensation BFS-layer walk."""
    return graph.condensation_levels(_acquired_edges(spark, sf_dir), max_depth=8)


def q_kg_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distances from a 2-entity seed set over the full directed
    entity graph (all predicates) — the n-hop evidence-subgraph primitive."""
    t = _pipeline_triples(spark, sf_dir)
    return graph.bfs_distances(graph.triple_edges(t), _reach_seeds(spark), max_depth=6)


def q_kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity triangle counts over the undirected entity graph with
    degree-ordered orientation; the oracle orients lexicographically, so a
    match also proves orientation-invariance of the enumeration."""
    return graph.triangle_counts(graph.triple_edges(_pipeline_triples(spark, sf_dir)))


def q_kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) of the undirected extracted-entity graph
    — the KG-quality backbone: entities that survive iterative peeling of
    degree-<3 nodes, with their in-core degree. The oracle unrolls the
    peeling rounds (post-fixpoint rounds are no-ops)."""
    return graph.k_core(graph.triple_edges(_pipeline_triples(spark, sf_dir)), k=3)


def q_kg_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incoming harmonic centrality over the full extracted-entity graph
    (hop-bounded 1/d sum — well-defined on disconnected KGs): the entity-
    importance ranking next to kg_pagerank, built on the semi-naive
    transitive closure so every pair carries its BFS-minimal depth."""
    return graph.harmonic_centrality(
        graph.triple_edges(_pipeline_triples(spark, sf_dir)), max_depth=4
    )


def q_kg_transe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TransE KG-embedding TRAINING as a distributed job (operators/kge.py):
    the model is a (name, d, val) DataFrame, every full-batch hinge
    iteration is 4 entity-keyed equi-joins + a posexplode gradient sum +
    an update join — no collect, no UDF. Deterministic init + rank-shift
    negative sampling + rounded hinge decisions make the whole 2-iteration
    trajectory a closed-form SQL expression the oracle replays."""
    return kge.transe_embeddings(_pipeline_triples(spark, sf_dir))


def q_kg_distmult(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DistMult (bilinear-diagonal) KG-embedding training (r5): the SECOND
    score function through the same model-as-DataFrame trainer — bilinear
    score Σ h·r·t, margin hinge against rank-shift negatives, gradients
    from shared per-dimension intermediates, QUANT_EPS re-quantization.
    One trainer layout, two embedding models; the oracle unrolls this
    trajectory too."""
    return kge.distmult_embeddings(_pipeline_triples(spark, sf_dir))


def q_kg_complex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ComplEx KG-embedding training (r5): the THIRD score function
    through the same model-as-DataFrame trainer — complex-valued
    embeddings packed as 2·dim real coordinates, asymmetric score
    Re(Σ h·r·conj(t)) (what DistMult can't express: antisymmetric web
    predicates like founded/acquired), same rank-shift negatives, rounded
    hinge, QUANT_EPS re-quantization. The oracle unrolls the packed
    layout as paired re/im joins."""
    return kge.complex_embeddings(_pipeline_triples(spark, sf_dir))


def q_kg_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG completion over the trained TransE embeddings: brute-force
    candidate scoring (the exact baseline; ANN over the embedding table is
    the documented scale path) for every distinct (subj, 'founded') query,
    rounded-score argmin with name tie-break."""
    ent, rel, tr = kge.transe_train(_pipeline_triples(spark, sf_dir))
    # derive queries from the CHECKPOINTED train set — filtering the raw
    # pipeline plan instead would re-run the whole extraction a second time
    q = tr.filter(F.col("pred") == "founded").select("subj", "pred").distinct()
    return kge.link_predict(ent, rel, q)


def q_kg_link_predict_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-pruned KG completion (the scale path as a QUERY, r4-verdict item
    7): sign-LSH buckets over the trained entity vectors generate candidate
    tails (bucket equi-join replaces the query×vocabulary crossJoin at 10^9
    entities), exact TransE re-rank on the collisions, and a per-query
    ``hit`` column comparing the ANN winner to the brute-force winner — the
    emitted table IS the recall@1 evaluation. Oracle replays the identical
    hyperplane literals, bucket join, re-rank, and comparison."""
    ent, rel, tr = kge.transe_train(_pipeline_triples(spark, sf_dir))
    q = tr.filter(F.col("pred") == "founded").select("subj", "pred").distinct()
    return kge.link_predict_ann(ent, rel, q)


#: BGP for q_kg_conjunctive: people who work for an org based in the city
#: they were born in (three shared-variable patterns)
CONJUNCTIVE_PATTERNS = [
    ("person", "works_for", "org"),
    ("org", "based_in", "city"),
    ("person", "born_in", "city"),
]


def q_kg_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-id property-graph materialization of the pipeline's triples
    (dense vocab-rank ids via the JVM-side two-pass rank) — the GNN/graph-
    engine hand-off format."""
    return graph.export_int_ids(_pipeline_triples(spark, sf_dir))


def q_kg_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL-style basic-graph-pattern query over the KG: works_for ⋈
    based_in ⋈ born_in on shared variables — per-predicate filtered scans
    of the once-materialized triple plan, Catalyst-ordered joins."""
    return graph.conjunctive_query(
        _pipeline_triples(spark, sf_dir), CONJUNCTIVE_PATTERNS
    )


#: entity type dictionaries for schema induction — the same model-artifact
#: vocabularies the detect stage anchors on (surface variants like
#: 'X Corporation' intentionally fall out as 'other')
TYPE_DICTS = {
    "person": KS.PEOPLE + KS.ZH_PEOPLE,
    "org": KS.ORGS + KS.ZH_ORGS,
    "city": KS.CITIES + KS.ZH_CITIES,
}


def q_kg_entity_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Usage-based entity typing: every distinct fact votes one type per
    slot via its predicate's (subj_type, obj_type) signature — types the
    long-tail entities the dictionaries never saw; portable two-step
    argmax (max votes, min type)."""
    facts = _pipeline_triples(spark, sf_dir).select("pred", "subj", "obj").distinct()
    return graph.entity_type_inference(facts, KS.RELATIONS)


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (rsync/LBFS boundary rule): chunk starts
    where the char 8-gram hash ≡ 0 (mod 64), so boundaries move with the
    content and chunk-hash dedup survives boilerplate drift that resyncs
    fixed-width chunking never recovers from. Pure map-local codegen —
    no shuffle anywhere; text never leaves its partition."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    return textstats.cdc_chunks(docs, k=8, mask=64)


def q_kg_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truth discovery for the functional predicate born_in: conflicting
    objects per (subj, pred) resolved to the most recent crawl's assertion
    (portable two-step argmax on the recency key) — one row per subject."""
    return output.resolve_by_recency(
        _pipeline_triples(spark, sf_dir), preds=["born_in"]
    )


def q_kg_fuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance-weighted fact fusion (engine-new): every distinct fact in
    the emitted KG scored by its crawl-wide support — supporting-page count,
    distinct-host count, and the noisy-OR fused confidence over the
    per-page detection scores. Complements kg_resolve: recency picks ONE
    object for functional predicates; fusion keeps and scores every fact.
    One (url, pred) equi-join + one partial-aggregated groupBy on the fact
    key — no window, no UDF."""
    t = _pipeline_triples(spark, sf_dir)
    pages = corpus.web_pages(spark, sf_dir, with_text=True, emit_html=False)
    return output.fuse_by_provenance(t, detect.detect_relations(pages))


def q_kg_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities (3 fixed rounds) over the
    undirected entity graph — portable argmax (max count, min label), one
    neighbor-label join + three keyed aggregations per round."""
    return graph.label_propagation(
        graph.triple_edges(_pipeline_triples(spark, sf_dir)), iters=3
    )


def q_kg_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community modularity decomposition of the label-propagation
    partition (Newman-Girvan dq = internal/m − (deg/2m)²): the
    partition-quality audit on the community feature. All terms are ratios
    of exact integer counts (bitwise engine-independent IEEE arithmetic);
    m is a one-row broadcast aggregate, no collect."""
    return graph.community_modularity(
        graph.triple_edges(_pipeline_triples(spark, sf_dir)), iters=3
    )


def q_kg_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest-path costs from the REACH_SEEDS over the full
    entity graph with deterministic integer edge weights
    (1 + hash60(src→dst)%5): frontier-improvement Bellman-Ford, exact-long
    costs in both engines; the oracle's hop-bounded WITH RECURSIVE
    enumeration min-collapses to the same fixpoint."""
    from autoextraction_spark.operators.dedup import portable_hash64

    t = _pipeline_triples(spark, sf_dir)
    e = graph.triple_edges(t).withColumn(
        "w",
        (
            F.lit(1)
            + portable_hash64(
                F.concat(F.col("src"), F.lit("→"), F.col("dst")), seed="#w"
            )
            % 5
        ).cast("long"),
    )
    return graph.weighted_shortest_paths(e, _reach_seeds(spark), max_iter=8)


def q_kg_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the REACH_SEEDS entity set: teleport and
    dangling mass return to the seeds — seeded KG exploration ranking, same
    checkpoint-per-iteration physical shape as kg_pagerank."""
    t = _pipeline_triples(spark, sf_dir)
    return graph.personalized_pagerank(graph.triple_edges(t), _reach_seeds(spark))


def q_kg_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ontology audit: predicate type-signature histogram over the emitted
    KG — one codegen CASE per side (dictionary IN-sets folded as literals),
    one partial-aggregated count. Off-signature rows = extraction noise.
    Counts are over DISTINCT facts (the KG), not per-url sightings."""
    facts = _pipeline_triples(spark, sf_dir).select("pred", "subj", "obj").distinct()
    return graph.schema_induction(facts, TYPE_DICTS)


def q_kg_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Related entities by shared out-neighbors (co-citation): wedge
    self-join keyed by the common neighbor + one pair-count aggregation,
    Jaccard over out-degrees."""
    return graph.shared_neighbor_similarity(
        graph.triple_edges(_pipeline_triples(spark, sf_dir)), min_shared=2
    )


def q_kg_adamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar related-entity pairs: shared out-neighbors weighted by
    rarity (1/ln of the neighbor's in-degree) — the link-prediction
    baseline next to the KGE scorers; same wedge join as kg_similar with
    the in-degree table joined on the wedge key."""
    return graph.adamic_adar(
        graph.triple_edges(_pipeline_triples(spark, sf_dir)), min_shared=2
    )


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-recipe table for a q ∝ p^0.5 language rebalance: per lang
    (n, p, q, keep_rate, epochs, clipped) — subsample rates for
    over-represented strata, fractional repeat epochs (≤4, the
    repetition-harm bound) for under-represented ones. Plans what
    temperature_mix executes."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "lang")
    return compose.mixture_plan(docs, tau=0.5, stratum_col="lang")


def q_kg_entity_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED entity-card table — the per-entity profile a KG API serves:
    degrees + PageRank + label-propagation community + harmonic centrality,
    all computed over ONE checkpointed edge list and joined on the entity
    key (isolated/unreached entities fall back to own-community /
    0-centrality). Three iterative operators share their input
    materialization; the oracle nests each operator's full SQL as a CTE so
    the composition interfaces verify jointly."""
    t = _pipeline_triples(spark, sf_dir)
    e = ckpt(graph.triple_edges(t))
    pr = graph.entity_pagerank(e)
    cm = graph.label_propagation(e, iters=3)
    hc = graph.harmonic_centrality(e, max_depth=4)
    return (
        pr.join(cm, "entity", "left")
        .join(hc.withColumnRenamed("node", "entity"), "entity", "left")
        .select(
            "entity",
            "out_deg",
            "in_deg",
            "pagerank",
            F.coalesce(F.col("community"), F.col("entity")).alias("community"),
            F.coalesce(F.col("centrality"), F.lit(0.0)).alias("centrality"),
            F.coalesce(F.col("n_reaching"), F.lit(0)).cast("long").alias("n_reaching"),
        )
    )


def q_kg_infer_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED KG-downstream pipeline: stages A-F (extraction → linking →
    CC canonicalization) feeding property-chain rule inference — one lazy
    plan whose oracle recomputes the full composition over canonical
    surfaces, verifying the linking and inference stage interfaces jointly
    (the training_pipeline discipline applied to the KG side)."""
    canonical = linking.canonical_triples(_pipeline_triples(spark, sf_dir))
    return graph.rule_inference(canonical, INFERENCE_RULES)


def q_kg_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style walk corpus (3 hops from every source node) with
    hash-derandomized next-hop choice — deterministic, retry-stable
    training-sequence generation for skip-gram embedding pipelines."""
    return graph.hash_random_walks(
        graph.triple_edges(_pipeline_triples(spark, sf_dir)), steps=3
    )


def q_kg_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG-completion evaluation of the trained TransE model: raw-setting
    tail ranking of every born_in fact against the full entity vocabulary —
    one row of (n_test, mrr, hits_1, hits_3, hits_10, n_dropped). Rank 1 ⟺
    link_predict would return the true tail (same rounded total order)."""
    ent, rel, tr = kge.transe_train(_pipeline_triples(spark, sf_dir))
    # test set from the checkpointed train table (see q_kg_link_predict)
    test = tr.filter(F.col("pred") == "born_in").select("subj", "pred", "obj")
    return kge.rank_eval(ent, rel, test)


def q_kg_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF N-Triples serialization of the extracted KG — the graph-
    materialize output a downstream triple store bulk-loads: subj/pred as
    percent-encoded IRIs under a base namespace, obj as an ECHAR-escaped
    literal. Pure-codegen string formatting over the KG's distinct
    (subj, pred, obj) facts — the per-url extraction rows collapse:
    N-Triples is the graph's interchange form, not the provenance log's."""
    t = _pipeline_triples(spark, sf_dir).select("subj", "pred", "obj").distinct()
    return output.to_ntriples(t)


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup — the per-crawl-snapshot production loop:
    docs with doc_id % 5 == 0 play the NEW batch, the rest the existing
    index; each new doc is kept unless a band-colliding partner (index doc,
    or smaller-id batch doc) verifies at Jaccard ≥ 0.8. The index side
    never self-joins (the 100 TB index is never re-deduped)."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    index = docs.filter(F.col("doc_id") % 5 != 0)
    return dedup.incremental_minhash_dedup(new, index, threshold=0.8)


def q_kg_rank_eval_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED-setting KG-completion evaluation (the number KGC papers
    actually report): same trained TransE model and born_in test set as
    kg_rank_eval, but candidates that are themselves known-true tails for
    the queried (subj, pred) — here, the full extracted KG — are excluded
    from the ranking, so the model is not penalized for ranking another
    correct answer above the queried one. Filtered metrics ≥ raw by
    construction."""
    ent, rel, tr = kge.transe_train(_pipeline_triples(spark, sf_dir))
    test = tr.filter(F.col("pred") == "born_in").select("subj", "pred", "obj")
    return kge.rank_eval(ent, rel, test, known=tr)


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): hashed-bigram
    log-likelihood ratio of every document under a target-domain bucket
    model (docs with doc_id % 10 == 7, the decontaminate convention) vs
    the raw-corpus model — the importance-resampling data-selection
    signal, complementing bm25_select's query-relevance signal."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    return textstats.dsir_weights(docs, target=(F.col("doc_id") % 10 == 7))


def q_kg_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental KG maintenance: docs with doc_id % 10 == 0 play the NEW
    crawl batch, the rest the existing KG snapshot. Extraction runs over the
    new batch only (the doc_id predicate pushes into the parquet scan below
    the generator), then ONE left_anti join on the full fact key emits only
    triples the graph doesn't already hold."""
    from autoextraction_spark.pipeline import incremental_delta

    is_new = F.col("doc_id") % 10 == 0
    new_t = _pipeline_triples(spark, sf_dir, where=is_new)
    old_t = _pipeline_triples(spark, sf_dir, where=~is_new)
    return incremental_delta(new_t, old_t)


#: fixed model artifact for q_classifier_score — iteration-3 weights from a
#: quality_classifier training run (plan literals, like the IVF centroids)
CLASSIFIER_WEIGHTS = [-0.179704, -0.053356, 0.0, -0.005809, -0.101684]


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/LLaMA-style quality-classifier TRAINING as a distributed job:
    logistic regression (reference-corpus label y = lang='en') by full-batch
    GD where each iteration is ONE map-side-combinable avg aggregation over
    a checkpointed pure-codegen feature table; weights live in 1-row
    broadcast DataFrames (no collect in the loop). Emits the weight
    snapshot after every iteration; the oracle unrolls the identical GD
    in SQL CTEs — a closed-form check of the full training trajectory."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text", "lang")
    feats = classifier.quality_features(docs).withColumn(
        "y", (F.col("lang") == "en").cast("double")
    )
    return classifier.logreg_train(feats, label_col="y", lr=2.0, iters=3)


def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deploy the trained quality classifier: weights are plan literals
    (model artifact), scoring is sigmoid(w·x) at scan speed — zero UDFs,
    zero shuffles, the 100 TB filter shape."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    return classifier.classify(docs, CLASSIFIER_WEIGHTS).select(
        "doc_id", "score", "keep"
    )


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's reference-LM quality signal: train an add-k bigram LM on the
    lang='en' subset (counts from ONE checkpointed token explode), score
    every document's perplexity via two equi-joins + one groupBy(doc) — the
    LM table is never broadcast (web-scale LMs outgrow broadcast) and never
    recomputed per consumer."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text", "lang")
    big, uni, voc = lm.train_bigram_lm(docs.filter(F.col("lang") == "en"))
    return lm.perplexity_score(
        docs.select("doc_id", "text"), big, uni, voc, k=0.5
    )


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's signature output: per-language perplexity TERCILES under the
    reference LM — head (lowest perplexity, Wikipedia-like), middle, tail
    (noisiest third, usually dropped). ntile(3) over the deterministic
    (rounded ppl, doc_id) order; one window per language partition on top
    of the lm_perplexity plan."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text", "lang")
    big, uni, voc = lm.train_bigram_lm(docs.filter(F.col("lang") == "en"))
    sc = lm.perplexity_score(docs.select("doc_id", "text"), big, uni, voc, k=0.5)
    j = sc.join(docs.select("doc_id", "lang"), "doc_id")
    b = F.ntile(3).over(
        W.partitionBy("lang").orderBy(F.col("ppl").asc(), F.col("doc_id").asc())
    )
    return j.select(
        "doc_id",
        "lang",
        "ppl",
        F.when(b == 1, "head").when(b == 2, "middle").otherwise("tail").alias("bucket"),
    )


#: training-mixture rates (compiled to integer thresholds at plan build)
MIXTURE_RATES = {"en": 1.0, "fr": 0.5, "de": 0.25, "es": 0.75, "zh": 0.125}


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mixture downsampling (GPT-3/LLaMA-style
    language reweighting): keep each doc iff hash60(id) < rate(lang)*2^60,
    an integer comparison (threshold fixed at plan build) — bit-identical
    across engines and retries.
    Pure map-side filter, zero shuffles."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "lang")
    return compose.mixture_sample(docs, MIXTURE_RATES)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: hash-sharded, id-ordered
    per-shard token cumsum (one window, no global sort), sequences cut
    every 512 tokens; emits each doc's (shard, token offset, sequence
    span)."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    return compose.pack_sequences(docs, budget=512, n_shards=8)


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style per-domain cap: keep the first 10 docs (by doc_id)
    of each source — one bounded window per group, output size bounded
    regardless of host skew."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "source")
    return compose.cap_per_group(docs, group_col="source", n=10)


def q_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-1 compaction (newest snapshot per key) as a map-side-combinable
    struct-max aggregation — one candidate per key per partition shuffles,
    vs the window form shuffling every row. Oracle is the equivalent
    row_number window (same winner: (ts, event_id) totally ordered)."""
    ev = corpus.read_table(spark, sf_dir, "events")
    out = dedup.latest_by_key(
        ev, ["user_id", "event_type"], "ts", "event_id", ["value"]
    )
    return out.select(
        "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"), "event_id", "value",
    )


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic disjoint train/val/test assignment (90/5/5): hash-range
    partition — every doc in exactly one split, membership stable under
    corpus growth, integer cut points fixed at plan build."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "lang")
    return compose.hash_split(
        docs, {"train": 0.9, "val": 0.05, "test": 0.05}
    )


def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM training-data pipeline, end-to-end in ONE lazy plan:
    exact dedup (digest groupBy, bodies never shuffle) → quality-classifier
    filter (fixed weight literals, codegen sigmoid) → deterministic mixture
    downsampling (integer-threshold hash) → concat-and-chunk sequence
    packing (per-shard window cumsum). Four stages, two shuffles total
    (the dedup digest agg + the shard window) — the oracle recomputes the
    whole composition in SQL, so stage interfaces are verified jointly,
    not just in isolation. The scan is spread to cluster parallelism first
    (r6, no-op at scale): the per-doc digest/classifier expressions
    otherwise run serially above the sandbox's 1-task parquet scan."""
    docs = dedup.spread_input(
        corpus.read_table(spark, sf_dir, "documents", "doc_id", "text", "lang")
    )
    winners = dedup.exact_dup_groups(docs, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    surv = docs.join(winners, "doc_id")
    scored = classifier.classify(surv, CLASSIFIER_WEIGHTS, threshold=0.4377)
    kept = scored.filter(F.col("keep") == 1).select("doc_id", "text", "lang")
    mixed = compose.mixture_sample(kept, MIXTURE_RATES)
    return compose.pack_sequences(mixed, budget=256, n_shards=4)


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-wide paragraph dedup: the driver corpus is
    single-line, so 8-word chunks stand in for paragraphs (both sides
    derive them with the same arithmetic); the operator itself is the real
    thing — first-occurrence winner per distinct paragraph via a
    map-side-combinable min(struct) agg, skew-safe join-back, reassembly.

    The scan is spread to cluster parallelism BELOW the chunking transform
    (r6): spreading inside the operator lands the exchange above the
    caller's heavy per-row array work, which then still runs at the 1-task
    scan's parallelism — the repartition must sit at the scan."""
    docs = dedup.spread_input(
        corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    )
    chunk = 8
    words = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(words) / F.lit(chunk)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i * chunk + 1, chunk)),
    )
    multiline = docs.select("doc_id", F.concat_ws("\n", lines).alias("text"))
    return dedup.paragraph_dedup(multiline).select(
        "doc_id", "text_dedup", "n_lines", "n_dropped"
    )


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicate-span removal (Lee et al. 2022): every
    corpus-order-repeated run of 8 consecutive word tokens loses all but
    its first occurrence, token-wise. The wrapper appends a fixed
    boilerplate sentence to every third document (both engines synthesize
    the identical input — the pii_scrub injection precedent) so the corpus
    contains cross-document duplicated runs; natural in-corpus repeats
    dedup too."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    boiled = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % oracle.SUBSTR_BOILER_MOD == 0,
            F.concat(F.col("text"), F.lit(" " + oracle.SUBSTR_BOILER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return dedup.substring_dedup(boiled, length=8).select(
        "doc_id", "text_dedup", "n_tokens", "n_dup_tokens"
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 10 == 7 act as the
    eval set; every other doc is scored by the fraction of its distinct
    word 5-grams that appear in the (broadcast) benchmark gram set."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 10 == 7)
    train = docs.filter(F.col("doc_id") % 10 != 7)
    return dedup.decontaminate(train, bench, n=5, threshold=0.05)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents with deterministic injected PII
    (emails / phones / IPv4s as doc_id arithmetic, so the oracle plants
    byte-identical inputs): sequential count-then-replace, pure codegen."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    d = F.col("doc_id")

    def s(c):  # noqa: ANN001 - tiny cast helper
        return c.cast("string")

    email = F.concat(
        F.lit(" contact user"), s(d % 1000), F.lit("@mail"), s(d % 7),
        F.lit(".example.com"),
    )
    phone = F.concat(
        F.lit(" call +1 555-01"), F.lpad(s(d % 100), 2, "0"), F.lit("-"),
        F.lpad(s(d % 10000), 4, "0"),
    )
    ip = F.concat(
        F.lit(" from host "), s(d % 256), F.lit(".0."), s(d % 100),
        F.lit(".1 port 80"),
    )
    injected = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(d % 3 == 0, email).otherwise(F.lit("")),
            F.when(d % 4 == 1, phone).otherwise(F.lit("")),
            F.when(d % 5 == 2, ip).otherwise(F.lit("")),
        ),
    )
    return textstats.pii_scrub(injected).select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "text_redacted"
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (CJK + marker-stopword argmax)."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    return textstats.lang_id(docs).select("doc_id", "lang_pred")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: normalized md5 + rolling polynomial hash."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    return textstats.fingerprint(docs).select("doc_id", "fp_md5", "fp_rolling")


def q_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embeddings table — the engine's
    fifth trainer (model IS a DataFrame, no collect in the loop); output is
    the final centroids exploded to (cluster, d, val) rows so the compare
    is order-insensitive and exact. The oracle unrolls the iterations."""
    emb = corpus.read_table(spark, sf_dir, "embeddings", "vec_id", "embedding")
    cents = similarity.kmeans_train(emb, k=8, iters=2)
    return cents.select(
        F.col("cluster").cast("long").alias("cluster"),
        F.posexplode("cv").alias("d0", "val"),
    ).select("cluster", (F.col("d0") + 1).cast("long").alias("d"), "val")


def _page_url_col(t) -> F.Column:
    """page_url(t) as a codegen column (schema.host_id rule: 1 in 5 pages
    on host 0)."""
    host = F.when(t % 5 == 0, F.lit(0)).otherwise(t % 97).cast("string")
    return F.concat(
        F.lit("https://site"), host, F.lit(".example.com/page/"),
        t.cast("string"),
    )


def _injected_link_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url, html) pages with deterministic injected anchors (targets from
    doc_id arithmetic, the pii_scrub identical-inputs precedent; the
    synthetic corpus html has no links) plus a relative link every 4th doc
    to exercise same-host resolution. oracle._link_edges_ctes builds the
    byte-identical html."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id")
    d = F.col("doc_id")
    anchors = F.expr(
        "array_join(transform(sequence(0, CAST(doc_id % 3 AS INT)), j -> "
        "concat('<a href=\"https://site', CAST(CASE WHEN (doc_id*31 + j*17) % 9973 % 5 = 0 "
        "THEN 0 ELSE ((doc_id*31 + j*17) % 9973) % 97 END AS STRING), "
        "'.example.com/page/', CAST((doc_id*31 + j*17) % 9973 AS STRING), "
        "'\">v', CAST(((doc_id*31 + j*17) % 9973 + doc_id) % 3 AS STRING), "
        "'</a>')), '')"
    )
    html = F.concat(
        F.lit("<html><body>"),
        anchors,
        F.when(d % 4 == 0, F.lit('<a href="/about">about</a>')).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    return docs.select(_page_url_col(d).alias("url"), html.alias("html"))


def q_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level web link graph: parse href attributes out of page html
    (regexp_extract_all, pure codegen) and aggregate the (src_host,
    dst_host) multigraph — the crawl-frontier / host-authority table."""
    from autoextraction_spark.operators import text_extract

    return text_extract.host_link_graph(_injected_link_pages(spark, sf_dir))


def q_host_authority_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted host authority: the production form — a surfer follows
    u→v with probability n_links(u,v)/Σ n_links(u,·), so heavily-linked
    host pairs carry proportionally more rank than the unweighted
    distinct-edge variant. Same no-collect machinery via
    entity_pagerank(weight_col=)."""
    lg = q_link_graph(spark, sf_dir)
    edges = lg.filter(~F.col("is_intra")).select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        F.col("n_links").alias("w"),
    )
    pr = graph.entity_pagerank(edges, damping=0.85, iters=3, weight_col="w")
    return pr.select(
        F.col("entity").alias("host"), "out_deg", "in_deg", "pagerank"
    )


def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl frontier, authority-ranked: link targets not yet in the corpus
    (left_anti against the known page urls), aggregated per target url with
    referrer counts, then joined with the host_authority PageRank so the
    scheduler can fetch high-authority hosts first — the composed
    link_graph → host_authority → frontier decision the link family exists
    for. Output: (url, host, n_links, n_referrers, authority)."""
    from autoextraction_spark.operators import text_extract

    pages = _injected_link_pages(spark, sf_dir)
    links = text_extract.page_links(pages)
    known = corpus.read_table(spark, sf_dir, "documents", "doc_id").select(
        _page_url_col(F.col("doc_id")).alias("target_url")
    )
    fr = (
        links.join(known, "target_url", "left_anti")
        .select(
            "target_url",
            F.col("dst_host").alias("host"),
            F.col("url").alias("referrer"),
        )
        .groupBy("target_url", "host")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.count_distinct(F.col("referrer")).alias("n_referrers"),
        )
        .withColumnRenamed("target_url", "url")
    )
    auth = q_host_authority(spark, sf_dir).select(
        "host", F.col("pagerank").alias("authority")
    )
    return fr.join(auth, "host", "left").select(
        "url", "host", "n_links", "n_referrers",
        F.coalesce(F.col("authority"), F.lit(0.0)).alias("authority"),
    )


def q_host_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host authority: damped PageRank (3 unrolled iterations — the same
    no-collect entity_pagerank machinery as kg_pagerank) over the distinct
    cross-host edges of the link graph. Intra-host links are excluded, the
    standard convention for host-level authority; output is (host, out_deg,
    in_deg, pagerank). This is the crawl-prioritization signal the
    link_graph table exists to feed."""
    lg = q_link_graph(spark, sf_dir)
    edges = lg.filter(~F.col("is_intra")).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    pr = graph.entity_pagerank(edges, damping=0.85, iters=3)
    return pr.select(
        F.col("entity").alias("host"), "out_deg", "in_deg", "pagerank"
    )


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (CCNet/XLM-R/LLaMA rule,
    tau=0.5): keep rates DERIVED from the corpus lang distribution —
    q ∝ p^0.5 realized as subsample-only — applied via the portable-hash
    threshold. en (44% of the corpus) is downsampled to ≈0.54, the rarest
    language keeps every row."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "lang")
    return compose.temperature_mixture(docs, tau=0.5, stratum_col="lang")


def q_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-host detection over content digests: every 10th page
    (doc_id % 10 == 3) serves a COPY of page doc_id-3's text — a planted
    cross-host mirror (deterministic self-join injection; the corpus has
    no natural cross-host duplicates, measured) — then host pairs sharing
    exact-content digests are scored by digest-set Jaccard, with the
    stop-digest skew rule bounding viral boilerplate. Hosts derive from
    the schema.host_id arithmetic."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    d = F.col("doc_id")
    mir = (
        docs.filter(d % 10 == 3)
        .select("doc_id", (d - 3).alias("src_id"))
        .join(
            docs.select(F.col("doc_id").alias("src_id"), "text"), "src_id"
        )
        .select("doc_id", "text")
    )
    both = docs.filter(~(d % 10 == 3)).select("doc_id", "text").union(mir)
    host = F.concat(
        F.lit("site"),
        F.when(d % 5 == 0, F.lit(0)).otherwise(d % 97).cast("string"),
    )
    pages = both.select(host.alias("host"), "text")
    return dedup.host_mirror_pairs(pages, max_hosts_per_digest=20)


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window 32, stride 24 — 8-token
    overlap): the RAG-ingestion / long-document training split. Pure
    codegen, zero shuffles; every token covered, last chunk short but
    never empty."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    return compose.chunk_tokens(docs, window=32, stride=24)


def q_anchor_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation per link target: the most frequent inner
    text of links pointing at each url (ties → lexicographic min), plus
    evidence counts — how a web KG learns entity aliases the target page
    never states. Injected anchors carry 3 deterministic variants per
    target (doc_id arithmetic) so the argmax is non-trivial."""
    from autoextraction_spark.operators import text_extract

    links = text_extract.page_links(_injected_link_pages(spark, sf_dir))
    cnt = links.groupBy(
        F.col("target_url").alias("url"), "anchor"
    ).agg(F.count(F.lit(1)).alias("n"))
    mx = cnt.groupBy("url").agg(
        F.max("n").alias("n_top"),
        F.sum("n").alias("n_links"),
        F.count(F.lit(1)).alias("n_variants"),
    )
    return (
        mx.join(cnt, "url")
        .filter(F.col("n") == F.col("n_top"))
        .groupBy("url", "n_top", "n_links", "n_variants")
        .agg(F.min("anchor").alias("top_anchor"))
        .select("url", "top_anchor", "n_top", "n_links", "n_variants")
    )


def q_kg_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the entity graph — the power-law audit table
    (degree → n_entities over total in+out distinct-edge degree): the
    first sanity plot of any web-extracted KG, and the input to hub-cap
    decisions in the wedge-join operators."""
    t = _pipeline_triples(spark, sf_dir)
    # the src/dst union reads the edge list twice — checkpoint it once so
    # the second branch replays the checkpoint, not the extraction pipeline
    e = ckpt(graph.triple_edges(t))
    deg = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware crawl scheduling over the frontier: within each
    host, urls are assigned fetch waves (row_number ordered by referrer
    count desc, then url — a deterministic total order), so wave w fetches
    at most ONE url per host (the per-host rate limit) and high-evidence
    urls go first. Output adds the authority-ranked cross-host fetch
    priority: (url, host, wave, n_referrers, authority).

    Scale shape: ONE window keyed by host. Host skew is real (host 0 owns
    ~20% of the synthetic corpus, mirroring crawl reality) — but a
    politeness schedule is inherently sequential PER HOST, so the per-host
    rank is the minimal possible computation; the window carries only
    (url, host, n_referrers), never page payloads."""
    fr = q_crawl_frontier(spark, sf_dir)
    w = W.partitionBy("host").orderBy(
        F.col("n_referrers").desc(), F.col("url").asc()
    )
    return fr.select(
        "url",
        "host",
        F.row_number().over(w).cast("long").alias("wave"),
        "n_referrers",
        "authority",
    )


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level BPE tokenizer training (Sennrich et al. 2016) — the
    engine's sixth distributed trainer: 8 merge rounds of weighted adjacent-
    pair counting + codegen string rewrite over the word vocabulary; output
    is the learned merge table in learning order. Integer/string-exact, so
    the unrolled DuckDB oracle matches bitwise."""
    docs = corpus.read_table(spark, sf_dir, "documents", "text")
    return bpe.bpe_train(docs, n_merges=8)


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deploy view of the trained BPE model: the subword inventory after
    applying the 8 learned merges to the word vocabulary — (token,
    corpus-frequency, distinct-words-containing) — i.e. the tokenizer's
    ``vocab.json`` materialized distributedly."""
    docs = corpus.read_table(spark, sf_dir, "documents", "text")
    return bpe.bpe_subword_vocab(docs, n_merges=8)


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language under the corpus-trained BPE
    merges — avg subword segments per word, the diagnostic that shows
    which languages a shared tokenizer under-serves (they pay more
    sequence length per word). Trains corpus-wide, evaluates per lang via
    ONE word-keyed join against the trained vocabulary."""
    docs = corpus.read_table(spark, sf_dir, "documents", "lang", "text")
    return bpe.bpe_fertility(docs, n_merges=8, stratum_col="lang")


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding corpus,
    compare pairs only within a cluster, suppress vectors with a smaller-id
    cluster-mate at cosine ≥ 0.95. The wrapper plants deterministic
    near-dups (vec_id % 7 == 3 becomes vec_id−3's embedding with +0.05 on
    coordinate 1 — both engines synthesize identical inputs, the pii_scrub
    precedent) because the natural synthetic embeddings top out at
    intra-cluster cosine 0.51."""
    base = corpus.read_table(spark, sf_dir, "embeddings", "vec_id", "embedding")
    donor = base.select(
        (F.col("vec_id") + 3).alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("_donor"),
    )
    inj = base.join(donor, "vec_id", "left").select(
        "vec_id",
        F.when(
            (F.col("vec_id") % 7 == 3) & F.col("_donor").isNotNull(),
            F.expr(
                "transform(_donor, (x, i) ->"
                " CASE WHEN i = 0 THEN x + 0.05 ELSE x END)"
            ),
        )
        .otherwise(F.col("embedding").cast("array<double>"))
        .alias("embedding"),
    )
    return similarity.semdedup(inj, k=8, iters=2, threshold=0.95).withColumn(
        "cluster", F.col("cluster").cast("long")
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 (broadcast queries, zip_with dot, window)."""
    vecs = corpus.read_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(vecs.filter(F.col("vec_id") < 10), vecs, k=5)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 (multi-table sign-LSH, equi-join)."""
    vecs = corpus.read_table(spark, sf_dir, "embeddings")
    return similarity.ann_topk(
        vecs.filter(F.col("vec_id") < 10), vecs, k=5, n_planes=2, n_tables=4
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN: nearest-centroid cells (codegen argmax over
    a centroid model artifact), n_probe-cell probing, exact re-rank."""
    vecs = corpus.read_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        vecs.filter(F.col("vec_id") < 10), vecs, k=5, n_centroids=16, n_probe=4
    )


def q_host_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over the skewed host key."""
    pages = corpus.web_pages(spark, sf_dir)
    return salted_host_counts(pages, salt_buckets=16)


BM25_QUERY = ["stream", "vector", "join", "customer", "slow"]


def q_bm25_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed domain
    query — the targeted-data-selection primitive (score the corpus,
    keep the top mass). Token explode filters to the query terms before
    any shuffle; idf/N/avgdl are broadcast scalars; ln and the tf
    saturation stay in codegen."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    return textstats.bm25_score(docs, BM25_QUERY)


def _messy_url() -> F.Column:
    """Deterministic messy-URL synthesis from doc_id arithmetic (host-case,
    port, tracking-param, fragment, trailing-slash variants of the same
    resources) — shared by q_url_dedup and q_curation_pipeline so the
    injection exists exactly once (the oracle mirrors it in
    oracle._url_chain_ctes)."""
    d = F.col("doc_id")
    return F.concat(
        F.when(d % 3 == 0, F.lit("https://WWW.Example.COM"))
        .when(d % 3 == 1, F.lit("https://www.example.com"))
        .otherwise(F.lit("http://news.site.org")),
        F.when(d % 2 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Article/"),
        (d % 40).cast("string"),
        F.when(d % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.lit("?utm_source=feed&utm_campaign=x"))
        .when(d % 4 == 1, F.lit("?utm_medium=a&ref=2"))
        .otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup (the first dedup pass of CCNet/C4-class pipelines):
    canonicalize crawl URLs (fragment / utm_* / dangling '?' / default
    port / host case / trailing slash) and keep the lowest-doc_id page per
    canonical URL. The wrapper synthesizes messy URLs from doc_id
    arithmetic so both engines see identical inputs — the pii_scrub
    injection precedent."""
    pages = corpus.read_table(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", _messy_url().alias("url")
    )
    return url_dedup(pages)


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed ROUND-5 curation pipeline, end-to-end in ONE lazy plan
    over this round's new operators: URL-canonical dedup winners (the
    first pass of a crawl pipeline) → DSIR importance weights over the
    survivors → keep reference-like mass (log_weight > 0) →
    concat-and-chunk sequence packing. The oracle recomputes the whole
    composition from the shared CTE fragments, so the stage interfaces are
    verified jointly — the training_pipeline precedent, for the r5 ops."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    pages = docs.select("doc_id", _messy_url().alias("url"))
    winners = (
        url_dedup(pages).filter(F.col("keep")).select("doc_id")
    )
    # survivors feed BOTH the dsir gram explode and the final text join —
    # materialize once (the bm25/dsir checkpoint rule)
    dk = ckpt(docs.join(winners, "doc_id"))
    w = textstats.dsir_weights(dk, target=(F.col("doc_id") % 10 == 7))
    sel = dk.join(
        w.filter(F.col("log_weight") > 0).select("doc_id"), "doc_id"
    )
    return compose.pack_sequences(sel, budget=128, n_shards=4)


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: media table -> Arrow-batched feature extraction
    (decode stubbed deterministically; schema/partitioning real)."""
    media = multimodal.media_table(corpus.web_pages(spark, sf_dir))
    feats = multimodal.extract_image_features(media)
    cols = [F.element_at("features", i + 1).alias(f"f{i}") for i in range(8)]
    return feats.select("url", "width", "height", "n_channels", *cols)


def q_image_features_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-decode path (engine-new; the reference has no multimodal):
    PNG payloads synthesized worker-side with the scanline filter cycling
    all five types, decoded by the stdlib-only codec (png.py — zlib inflate
    + full filter reconstruction) inside one Arrow pass. Features are
    integer-valued byte statistics, exact in float32, recomputed in closed
    form by the oracle from doc_id arithmetic — one wrong reconstructed
    pixel anywhere mismatches a sum/min/max/distinct-count."""
    media = multimodal.png_media_table(corpus.web_pages(spark, sf_dir))
    feats = multimodal.extract_image_features(media, use_real_decoder=True)
    cols = [
        F.element_at("features", i + 1).cast("double").alias(f"f{i}")
        for i in range(8)
    ]
    return feats.select("url", "width", "height", "n_channels", *cols)


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (third modality): the JVM-side
    explode from duration metadata (one row per 5 s sample point — the
    payload is NEVER exploded, only metadata) feeding the Arrow-batched
    per-frame decode stage, whose deterministic fake frames stand in for
    the ffmpeg seam. Emitted as the frame's md5 hex so the whole
    metadata→explode→decode chain is oracled, not just row counts."""
    media = multimodal.media_table(corpus.web_pages(spark, sf_dir))
    frames = multimodal.sample_frames(media, every_ms=5000)
    return frames.select(
        "url",
        "frame_idx",
        "frame_ts_ms",
        F.lower(F.hex(F.col("frame"))).alias("frame_md5"),
    )


def q_audio_features_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-decode path (engine-new; r4-verdict item 5 — the png.py
    move applied to the second modality): RIFF/WAVE payloads synthesized
    worker-side from pure doc_id arithmetic, decoded by the stdlib ``wave``
    codec inside one Arrow pass. Features are integer-valued sample
    statistics (sum/min/max/first/last/distinct/zero-crossings/abs-sum),
    exact in float32, recomputed in closed form by the oracle."""
    media = multimodal.wav_media_table(corpus.web_pages(spark, sf_dir))
    feats = multimodal.extract_audio_features(media, use_real_decoder=True)
    cols = [
        F.element_at("features", i + 1).cast("double").alias(f"f{i}")
        for i in range(8)
    ]
    return feats.select("url", "n_channels", "sample_rate", "n_frames", *cols)


def q_containment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13 argument-containment audit (reference test.py:7-27): every
    canonical gold triple checked for token-bounded containment of both
    args within one sentence of the extracted page text. Variant-rendered
    org objects fail ('Acme Corporation' !∋ token 'Acme Corp')."""
    pages = corpus.web_pages(spark, sf_dir, with_text=True)
    en = pages.filter(F.col("lang") == "en").select("url", "text")
    gold = corpus.gold_triples(spark, sf_dir, canonical=True)
    audited = textstats.containment_audit(
        gold.join(en, "url"),
        args_col=F.array("subj", "obj"),
        text_col="text",
        seg_re="[.。\\n]",
        boundary=True,
    )
    return audited.select(
        "url", "pred", "subj", "obj", F.col("passed").cast("long").alias("passed")
    )


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-summary aggregate (hash agg with map-side combine). Money is
    summed in exact integer cents so Spark/DuckDB agree bit-for-bit."""
    l = corpus.read_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    tax = F.round(F.col("l_tax") * 100).cast("long")
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.round(F.col("l_quantity")).cast("long")).alias("sum_qty"),
        F.sum(cents).alias("sum_base_cents"),
        F.sum(cents * (100 - disc)).alias("sum_disc_x100"),
        F.sum(cents * (100 - disc) * (100 + tax)).alias("sum_charge_x10000"),
        F.count(F.lit(1)).alias("count_order"),
    )


def q_tpch_q3ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-table join (customer ⋈ orders ⋈ lineitem): broadcast the dims,
    shuffle only the fact; revenue in exact integer cents."""
    c = corpus.read_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = corpus.read_table(spark, sf_dir, "orders")
    l = corpus.read_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.sum(cents * (100 - disc)).alias("revenue_x100"),
             F.count(F.lit(1)).alias("n_lines"))
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag + gap>30min cumsum over the event stream —
    the windowed-analytics pattern."""
    ev = corpus.read_table(spark, sf_dir, "events", "event_id", "ts", "user_id", "value")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ: route through ltz (session TZ pinned UTC)
    tsec = F.col("ts").cast("timestamp_ltz").cast("long")
    gap = F.when(tsec - F.lag(tsec).over(w) > 1800, F.lit(1)).otherwise(F.lit(0))
    sess = ev.withColumn("new_sess", gap).withColumn(
        "session_id", F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sess_value"),
    ).withColumn("session_id", F.col("session_id").cast("long"))


def q_event_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection over the event stream: hourly per-type counts,
    per-type population z-score from EXACT integer moments (n, Σc, Σc² as
    longs — mean/variance are then IEEE-exact in both engines; sqrt is
    correctly rounded per IEEE-754), buckets with z ≥ 2 flagged. The
    traffic-anomaly / crawl-storm monitor over web event logs.

    Plan: the hourly table is checkpointed once and feeds both the moment
    aggregation and the z join (else the two-level aggregate re-scans the
    source — the recompute class the plan pins guard); zero-variance types
    are excluded by an exact integer predicate (n·Σc² > (Σc)²)."""
    ev = corpus.read_table(spark, sf_dir, "events", "event_type", "ts")
    hour = F.date_format(
        F.date_trunc("hour", F.col("ts").cast("timestamp_ltz")),
        "yyyy-MM-dd HH:00:00",
    )
    hourly = ckpt(
        ev.groupBy("event_type", hour.alias("hour"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt")),
        eager=True,
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cnt").cast("long").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("ss"),
    )
    mean = F.col("s") / F.col("n").cast("double")
    var = F.col("ss") / F.col("n").cast("double") - mean * mean
    z = F.round((F.col("cnt") - mean) / F.sqrt(var), 6)
    return (
        hourly.join(stats, "event_type")
        .filter(F.col("ss") * F.col("n") > F.col("s") * F.col("s"))
        .select("event_type", "hour", "cnt", z.alias("z"))
        .filter(F.col("z") >= 2.0)
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct counts per event_type — users (exact 150,
    inside the linear-counting regime) and event_ids (~2000, the raw
    harmonic-estimator regime) — each beside its exact answer and relative
    error. The register build is a map-side-combinable max over 64 buckets
    per group, so the key set itself never shuffles; the harmonic sum is
    EXACT integer arithmetic (terms 2^(56-reg) as longs, one final IEEE
    division of a shared constant), and the linear-counting ln is absorbed
    by round(·, 6). Source checkpointed once for the three consumers."""
    ev = ckpt(
        corpus.read_table(spark, sf_dir, "events", "event_type", "user_id", "event_id"),
        eager=True,
    )
    est_u = sketch.hll_estimate(
        sketch.hll_registers(ev, "user_id", ["event_type"], seed="#hllu"),
        ["event_type"],
        "hll_users",
    )
    est_e = sketch.hll_estimate(
        sketch.hll_registers(ev, "event_id", ["event_type"], seed="#hlle"),
        ["event_type"],
        "hll_events",
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users"),
        F.countDistinct("event_id").cast("long").alias("exact_events"),
    )

    def _err(est: F.Column, exact_col: str) -> F.Column:
        return F.round(F.abs(est - F.col(exact_col)) / F.col(exact_col), 6)

    return (
        exact.join(est_u, "event_type")
        .join(est_e, "event_type")
        .select(
            "event_type",
            "exact_users",
            "hll_users",
            _err(F.col("hll_users"), "exact_users").alias("err_users"),
            "exact_events",
            "hll_events",
            _err(F.col("hll_events"), "exact_events").alias("err_events"),
        )
    )


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) distinct char-4-gram count per language (~970 true
    grams per lang, k = 64 — the estimator regime), beside the exact
    count and relative error. The sketch ships at most k longs per group
    after a map-side distinct; the estimator (k-1)·2^60/h_(k) is one IEEE
    division of an exactly-representable float constant by an exact long.
    The gram explode is checkpointed once and feeds both the sketch and
    the exact count."""
    docs = corpus.read_table(spark, sf_dir, "documents", "lang", "text")
    grams = ckpt(
        docs.select(
            "lang", F.explode(dedup.char_shingles(F.col("text"), 4)).alias("g")
        ),
        eager=True,
    )
    est = sketch.kmv_distinct(grams, "g", ["lang"], k=64)
    exact = (
        grams.distinct()
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_grams"))
    )
    return exact.join(est, "lang").select(
        "lang",
        "exact_grams",
        "n_kept",
        "kmv_estimate",
        F.round(
            F.abs(F.col("kmv_estimate") - F.col("exact_grams"))
            / F.col("exact_grams"),
            6,
        ).alias("rel_err"),
    )


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over a deterministically skewed key
    (key k_j occurs ~2^(j-1) times per 1024 events — the Zipf-ish shape a
    viral-host column has; synthesized identically in both engines from
    event_id arithmetic, the pii_scrub precedent). The sketch is 4×8
    longs regardless of corpus size; width is deliberately undersized so
    the one-sided collision overestimate is VISIBLE and oracled. Keys with
    estimate ≥ 100 are reported with their exact count and overestimate —
    the CMS guarantee (estimate ≥ exact, no false negatives) as columns."""
    hkey = F.concat(
        F.lit("k"),
        F.length(
            F.conv(((F.col("event_id") % 1024) + 1).cast("string"), 10, 2)
        ).cast("string"),
    )
    ev = ckpt(
        corpus.read_table(spark, sf_dir, "events", "event_id")
        .select(hkey.alias("hkey")),
        eager=True,
    )
    counters = sketch.cms_counters(ev, "hkey", d=sketch.CMS_D, w=sketch.CMS_W)
    exact = ev.groupBy("hkey").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt")
    )
    est = sketch.cms_point_estimates(
        exact.select("hkey"), counters, "hkey", d=sketch.CMS_D, w=sketch.CMS_W
    )
    return (
        exact.join(est, "hkey")
        .filter(F.col("cms_estimate") >= 100)
        .select(
            "hkey",
            "exact_cnt",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_cnt"))
            .cast("long")
            .alias("overestimate"),
        )
    )


def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning: orders probed against a 1024-bit /
    3-hash filter built from nation-2 customers, reported per order
    priority as (n_orders, n_pass, n_true, n_false_pos, n_missed). The
    filter materializes as a ≤1024-row position table that BROADCASTS —
    at 100 TB this is the shape that filters the fact table with a
    kilobyte of bits before any exchange. The probe decorates the DISTINCT
    key domain once, then broadcasts the decorated keys back onto the fact
    table. n_missed (true matches the filter dropped) is the no-false-
    negative guarantee as an oracled column: always 0."""
    cust = ckpt(
        corpus.read_table(spark, sf_dir, "customer", "c_custkey", "c_nationkey")
        .filter(F.col("c_nationkey") == 2)
        .select("c_custkey"),
        eager=True,
    )
    ord_proj = ckpt(
        corpus.read_table(spark, sf_dir, "orders", "o_custkey", "o_orderpriority"),
        eager=True,
    )
    okeys = ord_proj.select("o_custkey").distinct()
    bits = sketch.bloom_bits(cust, "c_custkey")
    flags = sketch.bloom_probe_keys(okeys, bits, "o_custkey")
    truth = okeys.join(
        F.broadcast(cust), okeys["o_custkey"] == cust["c_custkey"], "left"
    ).select("o_custkey", F.col("c_custkey").isNotNull().alias("true_match"))
    keyed = flags.join(truth, "o_custkey")
    return (
        ord_proj.join(F.broadcast(keyed), "o_custkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0))
            .cast("long")
            .alias("n_pass"),
            F.sum(F.when(F.col("true_match"), 1).otherwise(0))
            .cast("long")
            .alias("n_true"),
            F.sum(
                F.when(F.col("bloom_pass") & ~F.col("true_match"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_false_pos"),
            F.sum(
                F.when(F.col("true_match") & ~F.col("bloom_pass"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_missed"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            "n_pass",
            "n_true",
            "n_false_pos",
            "n_missed",
        )
    )


def q_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL mergeability — THE property that makes sketches 100 TB-shaped:
    per-shard register tables (events split 8 ways by event_id, i.e.
    independent partition-local passes) merged by per-bucket max equal the
    globally-built sketch EXACTLY. The invariant ships as a column
    (merged_eq_direct, always true) next to the exact count and the
    relative error, so the oracle verifies associativity itself, not just
    one estimate. Same register build as q_hll_distinct: map-side
    combinable max, at most 64 longs per (group, shard) cross the wire."""
    ev = ckpt(
        corpus.read_table(spark, sf_dir, "events", "event_type", "user_id", "event_id")
        .select(
            "event_type",
            "user_id",
            (F.col("event_id") % 8).cast("int").alias("shard"),
        ),
        eager=True,
    )
    sharded = sketch.hll_registers(
        ev, "user_id", ["event_type", "shard"], seed="#hllu"
    )
    est_m = sketch.hll_estimate(
        sketch.hll_merge(sharded, ["event_type"]), ["event_type"], "hll_merged"
    )
    est_d = sketch.hll_estimate(
        sketch.hll_registers(ev, "user_id", ["event_type"], seed="#hllu"),
        ["event_type"],
        "hll_direct",
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    return (
        exact.join(est_d, "event_type")
        .join(est_m, "event_type")
        .select(
            "event_type",
            "exact_users",
            "hll_direct",
            "hll_merged",
            (F.col("hll_merged") == F.col("hll_direct")).alias(
                "merged_eq_direct"
            ),
            F.round(
                F.abs(F.col("hll_merged") - F.col("exact_users"))
                / F.col("exact_users"),
                6,
            ).alias("rel_err"),
        )
    )


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-stratum vocabulary overlap from bottom-k sketches (Beyer et
    al. 2007): for every language pair, the KMV Jaccard / intersection
    estimates of the word-vocabulary overlap beside the exact values —
    the corpus-comparison report (crawl-vs-crawl, source-vs-source) that
    at 100 TB must come from sketches because the exact pairwise distinct
    join is quadratic in strata and linear in corpus. One checkpointed
    word explode feeds both the sketches and the exact sets."""
    words = ckpt(
        corpus.read_table(spark, sf_dir, "documents", "lang", "text")
        .select("lang", F.explode(F.split(F.col("text"), " ")).alias("w")),
        eager=True,
    )
    # the sketch (<= 64 longs per lang) and the distinct word sets each
    # feed several joins downstream — materialize both once, or every
    # pair-join branch re-runs the window/distinct over the corpus
    kept = ckpt(
        sketch.kmv_kept(words, "w", ["lang"], k=64, seed="#kmvo"), eager=True
    )
    est = sketch.kmv_jaccard(kept, "lang", k=64).withColumnsRenamed(
        {"ga": "lang_a", "gb": "lang_b"}
    )
    dw = ckpt(words.distinct())
    sizes = dw.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    inter = (
        co_key_pairs(dw, "lang", ["w"])
        .groupBy(F.col("id_a").alias("lang_a"), F.col("id_b").alias("lang_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    na = sizes.withColumnsRenamed({"lang": "lang_a", "n": "na"})
    nb = sizes.withColumnsRenamed({"lang": "lang_b", "n": "nb"})
    exact = (
        inter.join(na, "lang_a")
        .join(nb, "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "exact_inter",
            F.round(
                F.col("exact_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("exact_inter")).cast(
                    "double"
                ),
                6,
            ).alias("exact_jaccard"),
        )
    )
    return exact.join(est, ["lang_a", "lang_b"]).select(
        "lang_a",
        "lang_b",
        "exact_inter",
        "exact_jaccard",
        "n_union_kept",
        "kmv_jaccard",
        "kmv_inter",
        F.round(F.abs(F.col("kmv_jaccard") - F.col("exact_jaccard")), 6).alias(
            "jaccard_abs_err"
        ),
    )


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream (signup → view →
    click → purchase, each step's first occurrence strictly AFTER the
    previous step's): per-step reached-user counts and step-over-step
    conversion rates — the product-analytics primitive. Each step is one
    user-keyed equi-join + min aggregation (no window over the whole
    event history, no per-row Python); the event projection is
    checkpointed once and feeds all four step filters."""
    ev = ckpt(
        corpus.read_table(spark, sf_dir, "events", "user_id", "event_type", "ts"),
        eager=True,
    )
    t1 = ckpt(
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t")),
        eager=True,
    )

    def step(prev: DataFrame, etype: str) -> DataFrame:
        # each step table is materialized: step N feeds both step N+1 and
        # its own count, and at web scale a per-user table re-derived
        # through three chained joins is exactly the recompute to avoid
        e = ev.filter(F.col("event_type") == etype).select(
            "user_id", F.col("ts").alias("ets")
        )
        return ckpt(
            e.join(prev, "user_id")
            .filter(F.col("ets") > F.col("t"))
            .groupBy("user_id")
            .agg(F.min("ets").alias("t")),
            eager=True,
        )

    t2 = step(t1, "view")
    t3 = step(t2, "click")
    t4 = step(t3, "purchase")
    parts = [
        df.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
            F.lit(i).cast("int").alias("step_idx"),
            F.lit(name).alias("step"),
            "n_users",
        )
        for i, (name, df) in enumerate(
            [("signup", t1), ("view", t2), ("click", t3), ("purchase", t4)],
            start=1,
        )
    ]
    steps = parts[0].union(parts[1]).union(parts[2]).union(parts[3])
    prev_n = F.lag("n_users").over(W.orderBy("step_idx"))
    return steps.select(
        "step_idx",
        "step",
        "n_users",
        F.round(
            F.col("n_users").cast("double")
            / F.coalesce(prev_n, F.col("n_users")).cast("double"),
            6,
        ).alias("conv_from_prev"),
    )


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention over the event stream: users cohorted by first-
    signup day, per-(cohort, day-offset) active-user counts and retention
    rates — the other product-analytics table. Activity is the distinct
    (user, day) projection (one map-side-combinable distinct); the
    cohort table joins it user-keyed. Dates are UTC-session-stable and
    emitted as strings (the event_bursts idiom)."""
    ev = ckpt(
        corpus.read_table(spark, sf_dir, "events", "user_id", "event_type", "ts"),
        eager=True,
    )
    coh = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.to_date(F.min("ts")).alias("cd"))
    )
    sizes = coh.groupBy("cd").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    act = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    ret = (
        act.join(coh, "user_id")
        .filter(F.col("d") >= F.col("cd"))
        .groupBy("cd", F.datediff("d", "cd").alias("offset_days"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    return ret.join(sizes, "cd").select(
        F.date_format("cd", "yyyy-MM-dd").alias("cohort_day"),
        F.col("offset_days").cast("int").alias("offset_days"),
        "n_active",
        "cohort_users",
        F.round(
            F.col("n_active").cast("double")
            / F.col("cohort_users").cast("double"),
            6,
        ).alias("retention"),
    )


def q_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-snapshot crawl delta — the recrawl planner's core table: pages
    classified added / gone / changed / unchanged between crawl A and
    crawl B by a full-outer url-keyed join of (url, content-digest)
    projections. Membership and the changed-content mark are synthesized
    deterministically from doc_id arithmetic (the pii_scrub identical-
    inputs precedent): A misses doc_id%10==0, B misses doc_id%10==1,
    doc_id%5==2 changes content between snapshots. At 100 TB this is ONE
    equi-join of two digest projections — bodies never move, and the
    output feeds fetch scheduling (recrawl changed, discover added)."""
    d = F.col("doc_id")
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text").select(
        F.concat(
            F.lit("https://h"),
            (d % 50).cast("string"),
            F.lit(".example/p/"),
            d.cast("string"),
        ).alias("url"),
        "doc_id",
        "text",
    )
    dig_a = dedup.portable_hash64(F.col("text"), "#crawlA")
    dig_b = F.when(
        d % 5 == 2, dedup.portable_hash64(F.concat(F.col("text"), F.lit(" v2")), "#crawlA")
    ).otherwise(dig_a)
    a = docs.filter(d % 10 != 0).select("url", dig_a.alias("dig_a"))
    b = docs.filter(d % 10 != 1).select("url", dig_b.alias("dig_b"))
    j = a.join(b, "url", "full_outer")
    status = (
        F.when(F.col("dig_a").isNull(), F.lit("added"))
        .when(F.col("dig_b").isNull(), F.lit("gone"))
        .when(F.col("dig_a") == F.col("dig_b"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    # 4 rows; without this the total's crossJoin branch re-runs the
    # full two-snapshot join a second time
    counts = ckpt(
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pages")),
        eager=True,
    )
    total = counts.agg(F.sum("n_pages").cast("long").alias("tot"))
    return counts.crossJoin(F.broadcast(total)).select(
        "status",
        "n_pages",
        F.round(F.col("n_pages").cast("double") / F.col("tot").cast("double"), 6).alias(
            "pct"
        ),
    )


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length distribution report (min / p25 / p50 /
    p75 / p90 / p99 / max of n_chars) — the curation dashboard's length
    panel, and the table that sizes truncation budgets. Exact percentiles
    with linear interpolation over integer lengths (both engines define
    rank = p·(n-1) and interpolate identically in doubles; round-6
    absorbed); ONE percentile aggregation, no window over the corpus."""
    docs = corpus.read_table(spark, sf_dir, "documents", "lang", "n_chars")
    ps = [0.25, 0.5, 0.75, 0.9, 0.99]
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.expr(
            f"percentile(n_chars, array({', '.join(str(p) for p in ps)}))"
        ).alias("q"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )
    cols = [
        F.round(F.col("q")[i], 6).alias(f"p{int(p * 100)}")
        for i, p in enumerate(ps)
    ]
    return agg.select(
        "lang", "n_docs", "min_chars", *cols, "max_chars"
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling (Efraimidis & Spirakis 2006, A-Res):
    50 docs per language drawn with probability proportional to length —
    the length-balanced subcorpus draw. Each doc gets the deterministic
    uniform u = (h+1)/2^60 from its portable hash; the A-Res priority
    u^(1/w) is rank-equivalent to ln(u)/w, which is ONE libm ln and one
    division — rounded to 9 decimals with a doc_id tiebreak so the top-50
    cut is an engine-portable total order (the tfidf_keywords idiom).
    One window per language over a weight projection; bodies never move."""
    docs = corpus.read_table(spark, sf_dir, "documents", "lang", "doc_id", "n_chars").select(
        "lang", "doc_id", F.col("n_chars").cast("long").alias("w")
    )
    u = (
        dedup.portable_hash64(F.col("doc_id").cast("string"), "#wres") + 1
    ).cast("double") / F.lit(float(1 << 60))
    key = F.round(F.log(u) / F.col("w").cast("double"), 9)
    win = W.partitionBy("lang").orderBy(F.desc("key"), F.asc("doc_id"))
    return (
        docs.select("lang", "doc_id", "w", key.alias("key"))
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= 50)
        .select("lang", "rank", "doc_id", "w", "key")
    )


def q_journey_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey Markov transitions: P(next event type | event type)
    from per-user ts-ordered event sequences (lead over a (ts, event_id)-
    tiebroken user window — the deterministic total order) — the
    behavioral model behind funnel design and next-action prediction.
    One window pass + one pair aggregation; the per-from normalizer is a
    second map-side-combinable count, never a broadcast of the corpus."""
    ev = corpus.read_table(spark, sf_dir, "events", "user_id", "event_type", "ts", "event_id")
    win = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ckpt(
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(win).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n")),
        eager=True,
    )
    tot = pairs.groupBy("from_type").agg(F.sum("n").cast("long").alias("tot"))
    return pairs.join(tot, "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.col("tot").cast("double"), 6).alias(
            "prob"
        ),
    )


def q_kg_fact_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal KG: the SCD-2 versioned fact timeline for the functional
    predicate born_in — one row per value segment with [valid_from,
    valid_to_excl) crawl-time bounds, version number, and is_current
    (valid_to_excl = -1 marks the open segment). The point-in-time query
    surface a production KG keeps next to the resolved snapshot that
    kg_resolve emits."""
    return output.fact_history(
        _pipeline_triples(spark, sf_dir), preds=["born_in"]
    )


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve: per 100-doc corpus slice, new
    never-seen-before token types, cumulative types vs cumulative tokens,
    and the running type-token ratio — the diversity-saturation
    diagnostic that tells a data curator when more of the same crawl
    stops adding vocabulary. First occurrence = min(bucket) per type (one
    map-side-combinable agg, no ordered scan); the token explode is
    checkpointed once for its two consumers."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    tok = ckpt(
        docs.select(
            F.expr("doc_id div 100").alias("bucket"),
            F.explode(F.split(F.col("text"), " ")).alias("tk"),
        ),
        eager=True,
    )
    newb = (
        tok.groupBy("tk")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_types"))
    )
    tokc = tok.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    docc = docs.groupBy(F.expr("doc_id div 100").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    base = (
        docc.join(tokc, "bucket")
        .join(newb, "bucket", "left")
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            "n_docs",
            "n_tokens",
            F.coalesce(F.col("n_new_types"), F.lit(0))
            .cast("long")
            .alias("n_new_types"),
        )
    )
    cum = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    return base.select(
        "bucket",
        "n_docs",
        "n_tokens",
        "n_new_types",
        F.sum("n_tokens").over(cum).cast("long").alias("tokens_cum"),
        F.sum("n_new_types").over(cum).cast("long").alias("types_cum"),
    ).select(
        "*",
        F.round(
            F.col("types_cum").cast("double") / F.col("tokens_cum").cast("double"),
            6,
        ).alias("ttr"),
    )


ASOF_T1 = 8_000_000
ASOF_T2 = 22_000_000


def _asof(hist: DataFrame, t: int) -> DataFrame:
    """Point-in-time filter over an SCD-2 fact-history table: the segment
    containing crawl-time ``t`` (open segments marked valid_to_excl=-1)."""
    return hist.filter(
        (F.col("valid_from") <= t)
        & ((F.col("valid_to_excl") == -1) | (F.col("valid_to_excl") > t))
    )


def q_kg_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time KG snapshot: born_in facts as the crawl knew them at
    T1 — the temporal-KG query the SCD-2 history table exists to answer
    (audits, retroactive evals, training-data time travel). One filter
    over kg_fact_history's segments; nothing rescans the corpus."""
    hist = output.fact_history(
        _pipeline_triples(spark, sf_dir), preds=["born_in"]
    )
    return _asof(hist, ASOF_T1).select(
        "subj", "pred", "obj", "version", "valid_from"
    )


def q_kg_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What changed between two points in KG time: the T1 vs T2 snapshot
    diff (added / removed / changed / same per (subj, pred)) from ONE
    materialized fact-history table filtered twice and full-outer-joined
    on the fact key — the change-report a temporal KG serves without
    re-extracting anything."""
    hist = ckpt(
        output.fact_history(_pipeline_triples(spark, sf_dir), preds=["born_in"])
    )
    a = _asof(hist, ASOF_T1).select(
        "subj", "pred", F.col("obj").alias("obj_t1")
    )
    b = _asof(hist, ASOF_T2).select(
        "subj", "pred", F.col("obj").alias("obj_t2")
    )
    j = a.join(b, ["subj", "pred"], "full_outer")
    status = (
        F.when(F.col("obj_t1").isNull(), F.lit("added"))
        .when(F.col("obj_t2").isNull(), F.lit("removed"))
        .when(F.col("obj_t1") == F.col("obj_t2"), F.lit("same"))
        .otherwise(F.lit("changed"))
    )
    return j.select(
        "subj",
        "pred",
        F.coalesce(F.col("obj_t1"), F.lit("")).alias("obj_t1"),
        F.coalesce(F.col("obj_t2"), F.lit("")).alias("obj_t2"),
        status.alias("status"),
    )


def q_boolean_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive boolean retrieval over an inverted index: documents
    containing ALL of the corpus's three most frequent tokens (terms
    data-derived by the portable (count desc, token asc) total order) —
    the posting-list-intersection primitive under every AND query. The
    token explode is checkpointed once (term pick + postings); the 3-row
    term set broadcasts; the intersection is a groupBy-having count, not
    an all-pairs join."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "lang", "text")
    tok = ckpt(
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tk")),
        eager=True,
    )
    top3 = (
        tok.groupBy("tk")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tk"))
        .limit(3)
        .select("tk")
    )
    hits = (
        tok.distinct()
        .join(F.broadcast(top3), "tk")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("nt"))
        .filter(F.col("nt") == 3)
    )
    return docs.join(hits, "doc_id").select("doc_id", "lang")


def q_lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language-ID against the corpus
    labels: (true_lang, pred_lang, n, share of the true class) — the
    model-card evaluation table for the lang_id operator, composed from
    the same prediction the lang_id query emits."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "lang", "text")
    pred = textstats.lang_id(docs).select("doc_id", "lang_pred")
    joined = ckpt(
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", F.col("lang_pred").alias("pred_lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("n")),
        eager=True,
    )
    tot = joined.groupBy("true_lang").agg(
        F.sum("n").cast("long").alias("tot")
    )
    return joined.join(tot, "true_lang").select(
        "true_lang",
        "pred_lang",
        "n",
        F.round(F.col("n").cast("double") / F.col("tot").cast("double"), 6).alias(
            "share_of_true"
        ),
    )


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-points k-NN graph over the embeddings (sign-LSH candidate
    buckets + exact cosine re-rank, every vector a query) with the
    MUTUAL flag — the construction under graph-based ANN indexes and
    density clustering, and the mutual-kNN graph is what embedding-space
    community detection runs on. One (table, bucket) equi-join generates
    candidates; the edge table is materialized once and self-joined for
    mutuality."""
    vecs = corpus.read_table(spark, sf_dir, "embeddings")
    edges = ckpt(
        similarity.ann_topk(vecs, vecs, k=5, n_planes=3, n_tables=4), eager=True
    )
    rev = edges.select(
        F.col("neighbor_id").alias("query_id"),
        F.col("query_id").alias("neighbor_id"),
        F.lit(True).alias("m"),
    )
    return (
        edges.join(rev, ["query_id", "neighbor_id"], "left")
        .select(
            F.col("query_id").alias("src"),
            F.col("neighbor_id").alias("dst"),
            "cosine",
            "rank",
            F.coalesce(F.col("m"), F.lit(False)).alias("mutual"),
        )
    )


def q_dedup_best_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-argmax canonical selection per near-dup cluster — the
    production survivor policy (keep the BEST copy, not the lowest id):
    minhash dedup labels composed with the composite quality score, a
    portable two-step argmax (max quality -> min doc_id among ties), and
    the `moved` flag counting where the policy disagrees with min-id.
    quality is exact 0.25 multiples, so the float-equality join is
    engine-safe."""
    docs = corpus.read_table(spark, sf_dir, "documents")
    labeled = dedup.dedup_documents(
        docs, "doc_id", "text", method="minhash", threshold=0.8
    )
    scored = textstats.quality_score(labeled)
    t = ckpt(
        scored.select(
            F.col("keep_id").alias("cluster_id"), "doc_id", "quality"
        ),
        eager=True,
    )
    mx = t.groupBy("cluster_id").agg(
        F.max("quality").alias("q"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )
    sv = (
        t.join(mx.select("cluster_id", "q"), "cluster_id")
        .filter(F.col("quality") == F.col("q"))
        .groupBy("cluster_id")
        .agg(F.min("doc_id").cast("long").alias("survivor_id"))
    )
    return mx.join(sv, "cluster_id").select(
        "cluster_id",
        "n_members",
        "survivor_id",
        F.round(F.col("q"), 6).alias("survivor_quality"),
        (F.col("survivor_id") != F.col("cluster_id")).alias("moved"),
    )


def q_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-language length-outlier detection (median + MAD, the
    estimator that survives the very garbage it hunts): docs with
    |n_chars − median| > k·MAD (k=2 on this tight synthetic length
    distribution — real web corpora use 3-5) — truncated fragments and concatenation
    blobs, the pre-training garbage filter. Two exact percentile
    aggregations (the proven interpolation-parity class), one broadcast
    join back onto the corpus; no window over the corpus."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "lang", "n_chars")
    med = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.5)").alias("med")
    )
    dev = docs.join(F.broadcast(med), "lang").select(
        "lang", F.abs(F.col("n_chars") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("lang").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    stats = med.join(mad, "lang")
    return (
        docs.join(F.broadcast(stats), "lang")
        .filter(
            F.abs(F.col("n_chars") - F.col("med")) > F.lit(2.0) * F.col("mad")
        )
        .select(
            "lang",
            "doc_id",
            "n_chars",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
        )
    )


def q_host_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host language entropy — the mixed-language-host spam signal
    (scraper/spam hosts interleave languages; organic hosts are
    near-monolingual): H = ln(n) − Σ c·ln(c) / n from EXACT integer
    per-(host, lang) counts, so the whole entropy is two ln-of-integer
    terms per language (the collocations one-ln idiom) — no float
    fractions accumulate before the final round."""
    host = F.concat(
        F.lit("site"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(0))
        .otherwise(F.col("doc_id") % KS.N_HOSTS)
        .cast("string"),
        F.lit(".example.com"),
    )
    hl = ckpt(
        corpus.read_table(spark, sf_dir, "documents", "doc_id", "lang")
        .select(host.alias("host"), "lang")
        .groupBy("host", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("c")),
        eager=True,
    )
    agg = hl.groupBy("host").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias(
            "sclnc"
        ),
    )
    ent = F.log(F.col("n").cast("double")) - F.col("sclnc") / F.col("n").cast(
        "double"
    )
    return agg.select(
        "host", "n", "n_langs", F.round(ent, 6).alias("lang_entropy")
    )


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit per language: OLS of ln(frequency) on ln(rank) over
    the top-100 token head — alpha (the Zipf exponent), intercept, and r²
    per language, the naturalness diagnostic that separates organic text
    from templated/generated spam (which flattens or breaks the power
    law). Ranking uses the portable (count desc, token asc) total order;
    the OLS sums are the one accepted float-sum class (round-6 absorbs
    ordering noise, the lm_perplexity/dsir precedent)."""
    docs = corpus.read_table(spark, sf_dir, "documents", "lang", "text")
    counts = (
        docs.select("lang", F.explode(F.split(F.col("text"), " ")).alias("tk"))
        .groupBy("lang", "tk")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    win = W.partitionBy("lang").orderBy(F.desc("c"), F.asc("tk"))
    head = counts.withColumn("rn", F.row_number().over(win)).filter(
        F.col("rn") <= 100
    )
    x = F.log(F.col("rn").cast("double"))
    y = F.log(F.col("c").cast("double"))
    agg = head.select(
        "lang", x.alias("x"), y.alias("y")
    ).groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / denx
    return agg.select(
        "lang",
        F.col("n").cast("long").alias("n_head"),
        F.round(-slope, 6).alias("alpha"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round(num * num / (denx * deny), 6).alias("r2"),
    )


def q_dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-banding recall evaluation: the exhaustive exact-Jaccard pair
    set (prefix-filter join, threshold 0.5) as ground truth vs the
    MinHash 16-perm/8-band candidate pipeline at the same threshold —
    per-Jaccard-band found/true counts and recall, i.e. the measured form
    of the 1-(1-j^r)^b banding curve and the table that TUNES a dedup
    config before a 100 TB run. Banding uses the bitwise-portable
    floor(j·10) bucketing (the jaccard_sweep idiom) on the identical
    integer-ratio jaccard both engines compute."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    truth = dedup.jaccard_dup_pairs(docs, "doc_id", "text", threshold=0.5)
    pred = dedup.minhash_dup_pairs(
        docs, "doc_id", "text", threshold=0.5
    ).select("id_a", "id_b", F.lit(True).alias("m"))
    j = truth.join(pred, ["id_a", "id_b"], "left")
    band = F.floor(F.col("jaccard") * 10).cast("int")
    return (
        j.select(band.alias("band"), F.col("m").isNotNull().alias("found"))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.sum(F.when(F.col("found"), 1).otherwise(0))
            .cast("long")
            .alias("n_found"),
        )
        .select(
            "band",
            "n_true",
            "n_found",
            F.round(
                F.col("n_found").cast("double") / F.col("n_true").cast("double"),
                6,
            ).alias("recall"),
        )
    )


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the corpus mean document
    length — the error bar every corpus-level metric needs at 100 TB,
    where resampling N docs with replacement is impossible but Poisson(1)
    weights make the bootstrap ONE scan: each (doc, resample) pair draws
    its weight from the deterministic uniform u = h/2^60 through the
    inverse-CDF table (pure-codegen CASE — hash-derandomized, so both
    engines draw identical resamples). Per-resample sums are EXACT
    integers (weight × n_chars as longs); each mean is one IEEE division;
    the percentile interval over the 32 means reuses the proven
    linear-interpolation parity (length_quantiles). Output: one row —
    point estimate, 2.5% / 97.5% bootstrap bounds, resample count."""
    B = 32
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "n_chars")
    pairs = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("b"),
    )
    u = (
        dedup.portable_hash64(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit("|"),
                F.col("b").cast("string"),
            ),
            "#boot",
        )
    ).cast("double") / F.lit(float(1 << 60))
    # inverse CDF of Poisson(1): cumulative 0.3679, 0.7358, 0.9197,
    # 0.9810, 0.9963 (exact float literals shared with the oracle)
    w = (
        F.when(u < 0.36787944117144233, 0)
        .when(u < 0.7357588823428847, 1)
        .when(u < 0.9196986029286058, 2)
        .when(u < 0.9810118431238462, 3)
        .when(u < 0.9963401531726563, 4)
        .otherwise(5)
        .cast("long")
    )
    means = (
        pairs.select("b", (w * F.col("n_chars")).alias("wx"), w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum("wx").cast("long").alias("s"),
            F.sum("w").cast("long").alias("n"),
        )
        .select(
            F.round(F.col("s").cast("double") / F.col("n").cast("double"), 6).alias(
                "m"
            )
        )
    )
    point = docs.agg(
        F.round(
            F.sum("n_chars").cast("long").cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_chars")
    )
    ci = means.agg(
        F.round(F.expr("percentile(m, 0.025)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)"), 6).alias("ci_hi"),
        F.count(F.lit(1)).cast("long").alias("n_resamples"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "mean_chars", "ci_lo", "ci_hi", "n_resamples"
    )


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): grouping-sets aggregation."""
    l = corpus.read_table(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(F.sum(F.round(F.col("l_quantity")).cast("long")).alias("sum_qty"),
             F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "sum_qty", "n",
        )
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one): each 'error' event matched to
    the user's most recent 'signup' at or before it — union + last-value
    IGNORE NULLS window, one shuffle, no range explosion."""
    ev = corpus.read_table(
        spark, sf_dir, "events", "event_id", "user_id", "event_type", "ts"
    ).filter(F.col("event_type").isin("signup", "error"))
    tsec = F.col("ts").cast("timestamp_ltz").cast("long")
    u = ev.select("event_id", "user_id", "event_type", tsec.alias("tsec"))
    w = (
        W.partitionBy("user_id")
        .orderBy("tsec", F.desc("event_type"), "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    asof = u.withColumn(
        "asof_signup_tsec",
        F.last(
            F.when(F.col("event_type") == "signup", F.col("tsec")), ignorenulls=True
        ).over(w),
    )
    return asof.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.col("tsec").alias("error_tsec"), "asof_signup_tsec"
    )


def q_json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 nested-object flattening analog (dataset/duie.py:38-67): pull a
    typed field out of a JSON column, null-safe, then aggregate."""
    ev = corpus.read_table(spark, sf_dir, "events", "event_type", "props")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.withColumn("k_val", F.coalesce(k, F.lit(-1)))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k_val").alias("sum_k"),
            F.max("k_val").alias("max_k"),
        )
    )


def q_spo_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 DuIE nested-object flattening (dataset/duie.py:38-67): struct-typed
    spo with object/object_type role maps → composed slot map with '[None]'
    gap fill, exploded to scalar rows."""
    ev = corpus.read_table(spark, sf_dir, "events")
    spo = F.struct(
        F.col("event_type").alias("predicate"),
        F.when(F.col("event_id") % 7 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("user"), F.col("user_id").cast("string")))
        .alias("subject"),
        F.lit("用户").alias("subject_type"),
        F.create_map(
            F.lit("@value"), F.concat(F.lit("ev"), F.col("event_id").cast("string")),
            F.lit("detail"),
            F.when(F.col("event_id") % 5 == 0, F.lit("")).otherwise(F.col("event_type")),
        ).alias("object"),
        F.create_map(
            F.lit("@value"), F.lit("事件"), F.lit("detail"), F.lit("类型")
        ).alias("object_type"),
    )
    flat = nested.flatten_spo(ev.withColumn("spo", spo))
    return flat.select(
        "event_id", F.explode("assigned").alias("slot", "value")
    )


def q_perm_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+P7 permutation-expansion training-data generation
    (dataset/duee.py:70-105, duie.py:69-104): all k! slot orders × prefix
    positions over gold event tuples, deduped by (cond, text)."""
    ge = corpus.gold_events(spark, sf_dir)
    tuples = ge.groupBy("url", "etype").agg(
        F.map_from_entries(F.collect_list(F.struct("role", "value"))).alias("assigned")
    )
    slots = None
    from autoextraction_spark import schema as S  # noqa: PLC0415
    for etype, ev_s in S.EVENTS.items():
        arr = F.array(*[F.lit(r) for r in ev_s["roles"]])
        slots = F.when(F.col("etype") == etype, arr) if slots is None else slots.when(
            F.col("etype") == etype, arr
        )
    inp = tuples.select(
        F.col("url").alias("text"), F.col("etype").alias("rel"),
        slots.alias("slots"), "assigned",
    )
    out = nested.permutation_examples(inp)
    return out.select(
        "cond", F.col("text").alias("url"), F.array_join("labels", "|").alias("labels")
    )


def q_perm_examples_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5's SAMPLED-permutation branch (dataset/duee_fin.py:86-100): at
    arity 5 the k! enumeration explodes, so perm_dimension emits 10
    deterministic md5-shuffle orders instead. Arity-5 DuEE-fin-style tuples
    are synthesized from doc_id arithmetic (every 10th doc; every 3rd of
    those misses its 5th role → the '[None]' fill path); the oracle
    regenerates the same 10 orders and the full prefix-grammar expansion +
    sort-merge dedup in SQL."""
    roles = KS.SAMPLED_EVENT_ROLES
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id").filter(
        F.col("doc_id") % 10 == 2
    )
    vals = [
        F.concat(
            F.lit("v"), ((F.col("doc_id") * (2 * k + 1) + k) % 7).cast("string")
        )
        for k in range(len(roles))
    ]
    def mk_map(n: int):
        pairs = []
        for r, v in zip(roles[:n], vals[:n]):
            pairs += [F.lit(r), v]
        return F.create_map(*pairs)
    assigned = F.when(F.col("doc_id") % 3 == 0, mk_map(4)).otherwise(
        mk_map(5)
    )
    inp = docs.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("text"),
        F.lit(KS.SAMPLED_EVENT_TYPE).alias("rel"),
        F.array(*[F.lit(r) for r in roles]).alias("slots"),
        assigned.alias("assigned"),
    )
    out = nested.permutation_examples(inp)
    return out.select(
        "cond", F.col("text").alias("doc_key"),
        F.array_join("labels", "|").alias("labels"),
    )


def q_budget_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 prompt-budget truncation (duee_fin.py:92-94): drop trailing cond
    segments until token(cond)+token(text)+3 fits the budget."""
    ev = corpus.read_table(spark, sf_dir, "events", "event_id", "event_type", "props")
    m = F.get_json_object("props", "$.k").cast("int") % 40
    df = ev.select(
        "event_id",
        F.concat(
            F.col("event_type"), F.lit("；arg："),
            F.repeat(F.lit("tok "), m), F.lit("；next："),
        ).alias("cond"),
        F.repeat(F.lit("w "), 30).alias("text"),
    )
    return nested.truncate_cond(df, budget=50).select("event_id", "cond_trunc")


def q_tokenize_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 pair encoding with offsets (Environment.py:56-62, nyt.py:138-147):
    [CLS] cond [SEP] text [SEP] with token_type_ids + offset_mapping,
    truncated to 512 — one flat row per encoded position."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "lang", "text").select(
        "doc_id",
        F.concat(F.lit("language "), F.col("lang")).alias("cond"),
        "text",
    )
    return tokenize.encode_pairs(docs, id_cols=["doc_id"])


def q_span_labels_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 token-match span labeling (nyt.py:122-136,148-153): find every
    gold subj/obj token-subsequence in the encoded pair, keep matches whose
    endpoints both lie in the text segment; e exclusive."""
    t = corpus.gold_fact_tuples(spark, sf_dir)
    slots = F.array(
        F.struct(F.lit("subj").alias("slot"), F.col("subj").alias("value")),
        F.struct(F.lit("obj").alias("slot"), F.col("obj").alias("value")),
    )
    inp = t.select(
        "url", "i", F.col("rel").alias("cond"),
        F.col("sentence").alias("text"), slots.alias("slots"),
    )
    return tokenize.label_spans_search(inp, id_cols=["url", "i"])


def q_span_labels_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 char-span span labeling (webnlg.py:114-137, duee.py:136-160):
    gold char spans mapped to token spans via the offset mapping; e
    inclusive (labels[s][e] = 1)."""
    t = corpus.gold_fact_tuples(spark, sf_dir)
    spans = F.array(
        F.struct(F.lit("subj").alias("slot"), F.col("subj").alias("value"),
                 F.col("subj_start").alias("start")),
        F.struct(F.lit("obj").alias("slot"), F.col("obj").alias("value"),
                 F.col("obj_start").alias("start")),
    )
    inp = t.select(
        "url", "i", F.col("rel").alias("cond"),
        F.col("sentence").alias("text"), spans.alias("spans"),
    )
    return tokenize.label_spans_char(inp, id_cols=["url", "i"])


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9 frequency vocab (ljqpy.py:232-247): token counts, cutoff, dense id."""
    docs = corpus.read_table(spark, sf_dir, "documents", "text")
    tok = docs.select(F.explode(F.split("text", " ")).alias("token"))
    vc = tok.groupBy("token").count().filter(F.col("count") >= 100)
    w = W.orderBy(F.desc("count"), F.asc("token"))
    return vc.select(
        "token",
        F.col("count").cast("long").alias("cnt"),
        F.row_number().over(w).cast("long").alias("token_id"),
    )


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF keywords (whitespace tokens): the corpus
    card / search-index descriptor extractor. One checkpointed (doc, token)
    explode feeds tf, df and the one-row N broadcast; rank orders by the
    ROUNDED score with term tiebreak (engine-portable total order)."""
    return textstats.tfidf_keywords(
        corpus.read_table(spark, sf_dir, "documents", "doc_id", "text"), top_k=5
    )


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram collocation mining by PMI over adjacent whitespace tokens —
    the phrase-vocabulary miner upstream of tokenizer training. All PMI
    inputs are exact integer counts inside ONE ln (round-6 absorbed);
    pairs built with zip_with over array slices BEFORE the explode."""
    return textstats.collocations(
        corpus.read_table(spark, sf_dir, "documents", "doc_id", "text"), min_count=5
    )


def q_kg_reach_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth profile of the ``acquired`` ownership closure: pairs reachable
    at each BFS-minimal depth, cumulative counts and cumulative fraction —
    the how-deep-do-control-chains-go audit over the materialized KG
    (the effective-diameter table; at web scale the exact closure is
    replaced by HyperANF-style neighborhood sketches, same output shape)."""
    closure = graph.transitive_closure(_acquired_edges(spark, sf_dir), max_depth=8)
    d = closure.groupBy("depth").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    w_cum = W.orderBy("depth").rowsBetween(W.unboundedPreceding, 0)
    w_all = W.orderBy("depth").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return d.select(
        "depth",
        "n_pairs",
        F.sum("n_pairs").over(w_cum).cast("long").alias("cum_pairs"),
        F.round(
            F.sum("n_pairs").over(w_cum)
            / F.sum("n_pairs").over(w_all).cast("double"),
            9,
        ).alias("frac"),
    )


def q_rel2id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 rel2id generation (predict.py:26-28, gen_rels.ipynb)."""
    ev = corpus.read_table(spark, sf_dir, "events", "event_type").distinct()
    w = W.orderBy("event_type")
    return ev.select(
        F.col("event_type").alias("rel_type"),
        (F.row_number().over(w) - 1).cast("long").alias("rel_id"),
    )


def q_cooccur_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 co-occurrence self-join (dataset/nyt.py:62-90 second-hop analog)."""
    ev = corpus.read_table(spark, sf_dir, "events", "user_id", "event_type", "ts")
    a = ev.filter(F.col("event_type") == "signup").alias("a")
    b = ev.filter(F.col("event_type") == "purchase").alias("b")
    return (
        a.join(b, (F.col("a.user_id") == F.col("b.user_id")) & (F.col("a.ts") < F.col("b.ts")))
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by full text (hash groupBy; S11 RemoveDupRows)."""
    docs = corpus.read_table(spark, sf_dir, "documents", "doc_id", "text")
    return docs.groupBy("text").agg(
        F.min("doc_id").cast("long").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("keep_id", "n_copies")


def q_score2prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 score2prob (Environment.py:90-99) as a DataFrame aggregate:
    softmax over raw scores, prob = Σ softmax per group, score = max."""
    ev = corpus.read_table(spark, sf_dir, "events", "event_type", "value").select(
        "event_type", F.exp(F.col("value") / 100).alias("w"), "value"
    )
    total = ev.agg(F.sum("w").alias("total"))
    return (
        ev.groupBy("event_type")
        .agg(F.sum("w").alias("sw"), F.max("value").alias("mx"))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("event_type").alias("mention"),
            F.round(F.col("sw") / F.col("total"), 6).alias("prob"),
            F.round("mx", 6).alias("score"),
        )
    )


def q_argmax_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 greedy argmax ordering (predict.py:90-92) as windowed top-1."""
    ev = corpus.read_table(spark, sf_dir, "events", "user_id", "event_type", "event_id", "value")
    w = W.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_type"), F.asc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("top_event"),
                F.round("value", 6).alias("top_value"))
    )


def q_metric_f1_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 MetricF1 on two derived keysets (set-intersection P/R/F1)."""
    orders = corpus.read_table(spark, sf_dir, "orders")
    pred = orders.filter(F.col("o_orderstatus") == "O").select("o_orderkey")
    gold = orders.filter(F.col("o_totalprice") > 150000).select("o_orderkey")
    m = output.metric_f1(pred, gold, keys=["o_orderkey"])
    return m.select(
        "correct", "output", "golden",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )


def _detected_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    txt = corpus.web_pages(spark, sf_dir, with_text=True, emit_html=False)
    return detect.detect_relations(txt).filter(F.col("rel").isin(KS.REL_NAMES))


def q_rl_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13 experience collection: one Arrow pass over the detection gate
    emits the replay-buffer table (ε = 0 under the default ``sequence``
    policy, which is what zero-init weights pick; relations only so the
    oracle stays two-step)."""
    tr = rl_train.generate_transitions(_detected_relations(spark, sf_dir))
    return tr.select(
        "url", "rel", "step", "given", "action",
        F.round("reward", 6).alias("reward"),
        F.col("done").cast("int").alias("done"),
        "n_next",
    )


def q_rl_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13 over the 3-role EVENT episodes (en + zh): the arity-3 fork path
    of experience collection, sequence-ordered under ε = 0."""
    txt = corpus.web_pages(spark, sf_dir, with_text=True, emit_html=False)
    det = detect.detect_relations(txt).filter(F.col("rel").isin(KS.EVENT_NAMES))
    tr = rl_train.generate_transitions(det)
    return tr.select(
        "url", "rel", "step", "given", "action",
        F.round("reward", 6).alias("reward"),
        F.col("done").cast("int").alias("done"),
        "n_next",
    )


def q_dqn_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E14's distributed TD pass, oracled: iteration 1 of fitted-Q under the
    FIXED probe weights (rl_train.PROBE_W current net, PROBE_W_TARGET target
    net — different, so the target-network path is exercised). Runs the real
    machinery — one Arrow rollout pass (E13) then the pure-codegen
    ``td_columns`` scoring (zip_with dots, per-fork array_max, chunk-mean,
    γ(1−done) gating; ref RL_utils/dqn.py:126-152) — and emits one row per
    buffered transition with its q_pred / TD target / TD error, which the
    DuckDB oracle recomputes in closed form (weights fixed ⇒ the TD pass is
    one SQL expression; see oracle.dqn_td_sql's precision contract). The
    full ITERATIVE loop (prioritized race minibatch, SGD, target sync, ε
    decay) is pytest-verified in test_rl_train."""
    tr = rl_train.generate_transitions(_detected_relations(spark, sf_dir))
    scored = rl_train.td_columns(tr, rl_train.PROBE_W, rl_train.PROBE_W_TARGET)
    return scored.select(
        "url", "rel", "step", "given", "action",
        F.round("q_pred", 6).alias("q_pred"),
        F.round("td_target", 6).alias("td_target"),
        F.round(F.col("q_pred") - F.col("td_target"), 6).alias("td_err"),
    )


def q_rl_learned_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployment of a trained E14 policy, oracled: ``first_actions`` runs
    ``scorers.choose_slot`` with a ``learned:<weights>`` policy string (the
    exact inference path a trained model ships through) under the FIXED
    PROBE_POLICY_W, whose opening-action margin flips on the presence of an
    alt-rendered fact — the paper's order-sensitivity signal
    (data_filter.py:174-207). The oracle recomputes the argmax in closed
    form. TRAINING to such weights from scratch (fitted_q_train under the
    lookahead reward reaching P/R = 1.0) is pytest-verified in
    test_rl_train.test_trained_policy_full_corpus_parity."""
    det = _detected_relations(spark, sf_dir)
    return rl_train.first_actions(det, rl_train.PROBE_POLICY_W)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every ``q_<name>`` function of this module, keyed by ``<name>``."""
    return {k[2:]: f for k, f in globals().items() if k.startswith("q_")}


def oracle_sql() -> dict[str, str]:
    return {
        "kg_triples": oracle.gold_triples_sql(canonical=False),
        "kg_detect": oracle.detect_sql(),
        "detector_train": oracle.detector_train_sql(
            lr=detect.DETECTOR_LR, iters=detect.DETECTOR_ITERS
        ),
        "detector_score": oracle.detector_score_sql(
            lr=detect.DETECTOR_LR, iters=detect.DETECTOR_ITERS
        ),
        "detector_calibration": oracle.detector_calibration_sql(
            lr=detect.DETECTOR_LR, iters=detect.DETECTOR_ITERS
        ),
        "kg_metric_f1": oracle.metric_f1_perfect_sql(),
        "kg_slot_f1": oracle.slot_f1_sql(),
        "kg_events": oracle.events_sql(),
        "kg_triples_canonical": oracle.gold_triples_sql(canonical=True),
        "kg_linking": oracle.linking_map_sql(),
        "minhash_dedup": oracle.minhash_pairs_sql(threshold=0.8),
        "simhash": oracle.simhash_sql(),
        "connected_components": oracle.cc_lang_star_sql(),
        "ngram_jaccard": oracle.ngram_jaccard_sql(threshold=0.5),
        "doc_dedup": oracle.doc_dedup_sql(threshold=0.8),
        "dup_profile": oracle.dup_profile_sql(threshold=0.8),
        "host_profile": oracle.host_profile_sql(threshold=0.8),
        "jaccard_sweep": oracle.jaccard_sweep_sql(min_threshold=0.3, buckets=20),
        "boilerplate_grams": oracle.boilerplate_grams_sql(n=5, min_hosts=3),
        "pq_codes": oracle.pq_sql(m=4, k=4, iters=2, dim=64),
        "winnow": oracle.winnow_sql(k=8, w=15),
        "quote_pairs": oracle.quote_pairs_sql(k=8, w=15, min_shared=3,
                                              max_docs=20),
        "order_split": oracle.order_split_sql(),
        "char_f1": oracle.char_f1_sql(),
        "cond_roundtrip": oracle.cond_roundtrip_sql(),
        "embed_neardup": oracle.embed_neardup_lsh_sql(
            threshold=0.4, n_planes=2, n_tables=4, dim=64
        ),
        "semantic_dedup": oracle.semantic_dedup_sql(
            threshold=0.4, n_planes=2, n_tables=4, dim=64
        ),
        "token_stats": oracle.token_stats_sql(),
        "quality": oracle.quality_sql(),
        "repetition": oracle.repetition_sql(),
        "c4_filters": oracle.c4_filters_sql(),
        "kg_pagerank": oracle.pagerank_sql(damping=0.85, iters=3),
        "kg_infer": oracle.rule_inference_sql(INFERENCE_RULES),
        "kg_closure": oracle.transitive_closure_sql(pred="acquired", max_depth=8),
        "kg_reach": oracle.bfs_sql(REACH_SEEDS, max_depth=6),
        "kg_triangles": oracle.triangles_sql(),
        "kg_kcore": oracle.k_core_sql(k=3),
        "kg_scc": oracle.scc_sql(pred="acquired", max_depth=8),
        "kg_toposort": oracle.toposort_sql(pred="acquired", max_depth=8),
        "kg_pmi": oracle.entity_pmi_sql(),
        "kg_paths": oracle.canonical_paths_sql(pred="acquired", max_depth=8),
        "kg_centrality": oracle.harmonic_centrality_sql(max_depth=4),
        "kg_delta": oracle.incremental_delta_sql(mod=10),
        "kg_transe": oracle.transe_sql(),
        "kg_distmult": oracle.distmult_sql(),
        "kg_complex": oracle.complex_sql(),
        "kg_link_predict": oracle.link_predict_sql(query_pred="founded"),
        "kg_link_predict_ann": oracle.link_predict_ann_sql(query_pred="founded"),
        "kg_export": oracle.export_ids_sql(),
        "kg_conjunctive": oracle.conjunctive_sql(CONJUNCTIVE_PATTERNS),
        "kg_schema": oracle.schema_induction_sql(TYPE_DICTS),
        "kg_similar": oracle.shared_neighbor_sql(min_shared=2),
        "kg_adamic": oracle.adamic_adar_sql(min_shared=2),
        "mixture_plan": oracle.mixture_plan_sql(tau=0.5),
        "kg_ppr": oracle.personalized_pagerank_sql(REACH_SEEDS),
        "kg_communities": oracle.label_propagation_sql(iters=3),
        "kg_modularity": oracle.modularity_sql(iters=3),
        "kg_shortest_paths": oracle.shortest_paths_sql(REACH_SEEDS, max_iter=8),
        "event_bursts": oracle.event_bursts_sql(z_min=2.0),
        "hll_distinct": oracle.hll_distinct_sql(),
        "kmv_distinct": oracle.kmv_distinct_sql(k=64),
        "cms_heavy_hitters": oracle.cms_heavy_hitters_sql(threshold=100),
        "bloom_prune": oracle.bloom_prune_sql(nationkey=2),
        "hll_merge": oracle.hll_merge_sql(),
        "kmv_overlap": oracle.kmv_overlap_sql(k=64),
        "event_funnel": oracle.event_funnel_sql(),
        "retention_cohorts": oracle.retention_cohorts_sql(),
        "crawl_diff": oracle.crawl_diff_sql(),
        "length_quantiles": oracle.length_quantiles_sql(),
        "weighted_sample": oracle.weighted_sample_sql(k=50),
        "journey_transitions": oracle.journey_transitions_sql(),
        "kg_fact_history": oracle.fact_history_sql(pred="born_in"),
        "vocab_growth": oracle.vocab_growth_sql(),
        "kg_rule_mining": oracle.rule_mining_sql(min_support=5),
        "kg_rule_apply": oracle.apply_mined_rules_sql(min_support=5, min_confidence=0.2),
        "bootstrap_ci": oracle.bootstrap_ci_sql(b=32),
        "zipf_fit": oracle.zipf_fit_sql(top=100),
        "length_outliers": oracle.length_outliers_sql(k=2.0),
        "host_lang_entropy": oracle.host_lang_entropy_sql(),
        "dedup_recall_eval": oracle.dedup_recall_eval_sql(threshold=0.5),
        "knn_graph": oracle.knn_graph_sql(k=5, n_planes=3, n_tables=4),
        "video_frames": oracle.video_frames_sql(every_ms=5000),
        "dedup_best_survivor": oracle.dedup_best_survivor_sql(threshold=0.8),
        "kg_implications": oracle.implication_rules_sql(min_support=2),
        "kg_as_of": oracle.kg_as_of_sql(ASOF_T1, pred="born_in"),
        "kg_snapshot_diff": oracle.kg_snapshot_diff_sql(
            ASOF_T1, ASOF_T2, pred="born_in"
        ),
        "boolean_retrieval": oracle.boolean_retrieval_sql(n_terms=3),
        "lang_id_eval": oracle.lang_id_eval_sql(),
        "kg_resolve": oracle.resolve_recency_sql(pred="born_in"),
        "kg_fuse": oracle.fuse_sql(),
        "kg_rank_eval": oracle.rank_eval_sql(test_pred="born_in"),
        "kg_rank_eval_filtered": oracle.rank_eval_sql(test_pred="born_in", filtered=True),
        "kg_ntriples": oracle.ntriples_sql(),
        "kg_walks": oracle.hash_walks_sql(steps=3),
        "kg_infer_canonical": oracle.rule_inference_sql(
            INFERENCE_RULES, canonical=True),
        "quality_classifier": oracle.quality_classifier_sql(lr=2.0, iters=3),
        "classifier_score": oracle.classifier_score_sql(CLASSIFIER_WEIGHTS),
        "lm_perplexity": oracle.lm_perplexity_sql(k=0.5, ref_lang="en"),
        "mixture_sample": oracle.mixture_sample_sql(MIXTURE_RATES),
        "pack_sequences": oracle.pack_sequences_sql(budget=512, n_shards=8),
        "curation_pipeline": oracle.curation_pipeline_sql(),
        "training_pipeline": oracle.training_pipeline_sql(
            CLASSIFIER_WEIGHTS, MIXTURE_RATES, threshold=0.4377,
            budget=256, n_shards=4),
        "domain_cap": oracle.cap_per_group_sql(group_col="source", n=10),
        "hash_split": oracle.hash_split_sql(
            {"train": 0.9, "val": 0.05, "test": 0.05}),
        "latest_event": oracle.latest_event_sql(),
        "paragraph_dedup": oracle.paragraph_dedup_sql(chunk=8),
        "substring_dedup": oracle.substring_dedup_sql(length=8),
        "url_dedup": oracle.url_dedup_sql(),
        "bm25_select": oracle.bm25_sql(BM25_QUERY),
        "dsir_select": oracle.dsir_sql(),
        "incremental_dedup": oracle.incremental_minhash_sql(),
        "kmeans_centroids": oracle.kmeans_sql(),
        "link_graph": oracle.link_graph_sql(),
        "host_authority": oracle.host_authority_sql(damping=0.85, iters=3),
        "host_authority_weighted": oracle.host_authority_weighted_sql(
            damping=0.85, iters=3
        ),
        "crawl_frontier": oracle.crawl_frontier_sql(damping=0.85, iters=3),
        "crawl_schedule": oracle.crawl_schedule_sql(damping=0.85, iters=3),
        "anchor_names": oracle.anchor_names_sql(),
        "kg_degree_dist": oracle.degree_dist_sql(),
        "ccnet_buckets": oracle.ccnet_buckets_sql(k=0.5, ref_lang="en"),
        "kg_entity_cards": oracle.entity_cards_sql(),
        "temperature_mix": oracle.temperature_mixture_sql(tau=0.5),
        "chunk_docs": oracle.chunk_tokens_sql(window=32, stride=24),
        "mirror_hosts": oracle.mirror_hosts_sql(max_hosts_per_digest=20),
        "bpe_train": oracle.bpe_train_sql(n_merges=8),
        "bpe_vocab": oracle.bpe_vocab_sql(n_merges=8),
        "bpe_fertility": oracle.bpe_fertility_sql(n_merges=8),
        "semdedup": oracle.semdedup_sql(),
        "decontaminate": oracle.decontaminate_sql(n=5, threshold=0.05),
        "pii_scrub": oracle.pii_scrub_sql(),
        "lang_id": oracle.lang_id_sql(),
        "fingerprint": oracle.fingerprint_sql(),
        "containment_audit": oracle.containment_audit_sql(),
        "cosine_topk": oracle.cosine_topk_sql(k=5, n_queries=10),
        "ann_topk": oracle.ann_topk_sql(k=5, n_queries=10),
        "ivf_topk": oracle.ivf_topk_sql(k=5, n_queries=10, n_centroids=16, n_probe=4),
        "host_counts": oracle.host_counts_sql(),
        "image_features": oracle.image_features_sql(),
        "image_features_real": oracle.image_features_real_sql(),
        "audio_features_real": oracle.audio_features_real_sql(),
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
                   CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                        * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_x100,
                   CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                        * (100 - CAST(round(l_discount*100) AS BIGINT))
                        * (100 + CAST(round(l_tax*100) AS BIGINT))) AS BIGINT) AS sum_charge_x10000,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3ish": """
            SELECT o.o_orderkey, o.o_orderpriority,
                   CAST(sum(CAST(round(l.l_extendedprice*100) AS BIGINT)
                        * (100 - CAST(round(l.l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_x100,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
            GROUP BY o.o_orderkey, o.o_orderpriority
        """,
        "sessionize": """
            WITH e AS (SELECT user_id, event_id, value, ts,
                              CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
            s AS (SELECT user_id, event_id, value, ts,
                         CASE WHEN tsec - lag(tsec) OVER
                              (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                              THEN 1 ELSE 0 END AS new_sess
                  FROM e),
            s2 AS (SELECT user_id, value,
                          sum(new_sess) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
                   FROM s)
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 4) AS sess_value
            FROM s2 GROUP BY user_id, session_id
        """,
        "cube_agg": """
            SELECT coalesce(l_returnflag, 'ALL') AS rf,
                   coalesce(l_linestatus, 'ALL') AS ls,
                   CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(count(*) AS BIGINT) AS n
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "asof_join": """
            WITH u AS (
              SELECT event_id, user_id, event_type,
                     CAST(floor(epoch(ts)) AS BIGINT) AS tsec
              FROM events WHERE event_type IN ('signup', 'error')
            ),
            a AS (
              SELECT event_id, user_id, event_type, tsec,
                     last_value(CASE WHEN event_type = 'signup' THEN tsec END
                                IGNORE NULLS)
                       OVER (PARTITION BY user_id
                             ORDER BY tsec, event_type DESC, event_id
                             ROWS UNBOUNDED PRECEDING) AS asof_signup_tsec
              FROM u
            )
            SELECT event_id, user_id, tsec AS error_tsec, asof_signup_tsec
            FROM a WHERE event_type = 'error'
        """,
        "json_flatten": """
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(coalesce(CAST(json_extract(props, '$.k') AS BIGINT), -1)) AS BIGINT) AS sum_k,
                   CAST(max(coalesce(CAST(json_extract(props, '$.k') AS BIGINT), -1)) AS BIGINT) AS max_k
            FROM events GROUP BY event_type
        """,
        "spo_flatten": oracle.spo_flatten_sql(),
        "perm_examples": oracle.perm_examples_sql(),
        "perm_examples_sampled": oracle.perm_examples_sampled_sql(),
        "budget_truncate": oracle.budget_truncate_sql(budget=50),
        "tokenize_offsets": oracle.tokenize_offsets_sql(),
        "span_labels_search": oracle.span_labels_search_sql(),
        "span_labels_char": oracle.span_labels_char_sql(),
        "tfidf_keywords": oracle.tfidf_sql(top_k=5),
        "collocations": oracle.collocations_sql(min_count=5),
        "kg_reach_profile": oracle.reach_profile_sql("acquired", max_depth=8),
        "kg_entity_types": oracle.entity_types_sql(KS.RELATIONS),
        "cdc_chunks": oracle.cdc_sql(k=8, mask=64),
        "vocab_topk": """
            WITH t AS (SELECT unnest(str_split(text, ' ')) AS token FROM documents),
            c AS (SELECT token, count(*) AS n FROM t GROUP BY token HAVING count(*) >= 100)
            SELECT token, CAST(n AS BIGINT) AS cnt,
                   CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS token_id
            FROM c
        """,
        "rel2id": """
            SELECT event_type AS rel_type,
                   CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT) AS rel_id
            FROM (SELECT DISTINCT event_type FROM events)
        """,
        "cooccur_pairs": """
            SELECT a.user_id AS user_id, CAST(count(*) AS BIGINT) AS n_pairs
            FROM events a JOIN events b
              ON a.user_id = b.user_id AND a.ts < b.ts
            WHERE a.event_type = 'signup' AND b.event_type = 'purchase'
            GROUP BY a.user_id
        """,
        "exact_dedup": """
            SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
                   CAST(count(*) AS BIGINT) AS n_copies
            FROM documents GROUP BY text
        """,
        "score2prob": """
            WITH e AS (SELECT event_type, exp(value/100) AS w, value FROM events)
            SELECT event_type AS mention,
                   round(sum(w) / (SELECT sum(w) FROM e), 6) AS prob,
                   round(max(value), 6) AS score
            FROM e GROUP BY event_type
        """,
        "argmax_order": """
            SELECT user_id, event_type AS top_event, round(value, 6) AS top_value
            FROM (SELECT user_id, event_type, value,
                         row_number() OVER (PARTITION BY user_id
                             ORDER BY value DESC, event_type, event_id) AS rn
                  FROM events)
            WHERE rn = 1
        """,
        "metric_f1_sets": """
            WITH p AS (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O'),
            g AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 150000),
            s AS (SELECT (SELECT count(*) FROM p JOIN g USING (o_orderkey)) AS c,
                         (SELECT count(*) FROM p) AS o,
                         (SELECT count(*) FROM g) AS gl)
            SELECT CAST(c AS BIGINT) AS correct, CAST(o AS BIGINT) AS output,
                   CAST(gl AS BIGINT) AS golden,
                   round(c * 1.0 / greatest(o, 1), 6) AS precision,
                   round(c * 1.0 / greatest(gl, 1), 6) AS recall,
                   round(2.0 * (c * 1.0 / greatest(o, 1)) * (c * 1.0 / greatest(gl, 1))
                         / greatest(c * 1.0 / greatest(o, 1) + c * 1.0 / greatest(gl, 1),
                                    0.000000001), 6) AS f1
            FROM s
        """,
        "rl_transitions": oracle.rl_transitions_sql(),
        "rl_event_transitions": oracle.rl_event_transitions_sql(),
        "dqn_train": oracle.dqn_td_sql(),
        "rl_learned_policy": oracle.learned_policy_sql(),
    }
