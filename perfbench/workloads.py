"""The benchmark workloads: ``extract`` and ``dedup``.

Each workload writes its inputs from a seed (``generate``), computes the
expected outputs once per seed with DuckDB (``expect``), runs one timed pass
through the library's public API (``run_pass``), checks a pass's outputs
outside the timed region (``check``), and runs one traced pass that calls
each layer under its own Spark job group (``trace``).

The expected outputs come from the DuckDB reference in
``autoextraction_spark.oracle``: the ``oracle_sql()`` queries, and, for the
entity-graph analytics traced inside ``extract``, the label-propagation and
rule-inference SQL with its gold-graph CTE pointed at the generator's planted
canonical triple table.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import time
from decimal import Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from tracing import dir_bytes

#: property-chain rules of the entity-graph analytics (those of ``kg_infer``)
RULES = [
    ("works_for", "based_in", "employed_in"),
    ("founded", "based_in", "founded_in"),
]
LPA_ITERS = 3


def _norm(v):
    return float(v) if isinstance(v, Decimal) else v


def digest(table: pa.Table) -> str:
    """Order-insensitive digest of a result table: column names plus the
    sorted rows, with DECIMAL and DOUBLE values compared as floats."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = sorted(repr(tuple(_norm(v) for v in row)) for row in zip(*data))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()


def _oracle(name: str) -> str:
    import __spark_entry__

    return __spark_entry__.oracle_sql()[name]


def oracle_table(in_dir: str, name: str) -> pa.Table:
    """The ``oracle_sql()`` query ``name`` run by DuckDB over the generated
    ``documents.parquet``."""
    con = duckdb.connect()
    path = os.path.join(in_dir, "documents.parquet")
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    return con.sql(_oracle(name)).arrow()


def vocab_props(triples: pa.Table) -> dict:
    """Mention vocabulary size and the driver-footprint estimates that
    select ``linking.canonical_mapping``'s and
    ``canonicalize.connected_components``' execution paths."""
    from autoextraction_spark.operators import canonicalize, linking
    from autoextraction_spark.schema import REL_OBJ_TYPE, REL_SUBJ_TYPE

    t = triples.to_pydict()
    vocab = {(REL_SUBJ_TYPE[p], s) for p, s in zip(t["pred"], t["subj"])}
    vocab |= {(REL_OBJ_TYPE[p], o) for p, o in zip(t["pred"], t["obj"])}
    avg = sum(len(m) + len(e) for e, m in vocab) / max(len(vocab), 1)
    # variant edges: mentions that share a prefix block and pass the
    # abbreviation-variant test (the same test the linking verifier applies)
    blocks: dict = {}
    for e, m in vocab:
        key = (e, " ".join(tok[: linking.MIN_ABBREV_LEN] for tok in m.lower().split(" ")))
        blocks.setdefault(key, []).append(m)
    edges = sum(
        linking._variant_pair_py(ms[i], ms[j])
        for ms in blocks.values()
        for i in range(len(ms))
        for j in range(i + 1, len(ms))
    )
    edge_key_bytes = 2 * (avg + 1)
    cc_bound = (
        inspect.signature(canonicalize.connected_components)
        .parameters["small_graph_max_bytes"].default
    )
    return {
        "vocab_rows": len(vocab),
        "vocab_est_bytes": int(len(vocab) * (avg + linking._DRIVER_MAP_ROW_OVERHEAD)),
        "driver_map_max_bytes": linking._DRIVER_MAP_MAX_BYTES,
        "variant_edges": int(edges),
        "edge_graph_est_bytes": int(
            edges * (edge_key_bytes + canonicalize._UF_EDGE_OVERHEAD_BYTES)
        ),
        "small_graph_max_bytes": cc_bound,
    }


def _sample_extract_us(in_dir: str, n: int = 300) -> float:
    """Mean in-process ``extract_text`` time per page, over pages
    ``corpus.build_html`` renders for the first ``n`` generated documents."""
    from autoextraction_spark import corpus
    from autoextraction_spark.operators.text_extract import extract_text
    from autoextraction_spark.schema import doc_lang

    docs = pq.read_table(os.path.join(in_dir, "documents.parquet")).slice(0, n)
    html = [
        corpus.build_html(d, doc_lang(lang)).encode("utf-8")
        for d, lang in zip(docs["doc_id"].to_pylist(), docs["lang"].to_pylist())
    ]
    t0 = time.perf_counter()
    for h in html:
        extract_text(h)
    return (time.perf_counter() - t0) / len(html) * 1e6


class Workload:
    name = ""
    #: timed passes a run makes at least. Pass times keep falling for many
    #: passes after the warm-up as the JVM compiles hot code, so every run
    #: takes its median at the same point of that curve.
    min_passes = 1

    def __init__(self, in_dir: str, work_dir: str):
        self.in_dir = in_dir
        self.work_dir = work_dir
        self.expected: dict[str, str] = {}
        self.n_input = 0
        #: properties of inputs the traced pass generates for itself
        self.traced_input: dict = {}

    def generate(self, seed: int) -> dict:
        raise NotImplementedError

    def expect(self) -> dict:
        """Fill ``self.expected``; return measured properties of the input."""
        raise NotImplementedError

    def run_pass(self, spark) -> dict[str, pa.Table]:
        """One timed pass; returns its outputs collected to the driver."""
        raise NotImplementedError

    def check(self, outputs: dict[str, pa.Table]) -> list[str]:
        """Names of the outputs that differ from the expected ones."""
        return [k for k, t in outputs.items() if digest(t) != self.expected.get(k)]

    def trace(self, tr, spark) -> dict[str, float]:
        """Call each layer under ``tr``; return the metrics the spans do
        not give. Sets ``replay_s``: the wall of the spans that redo the
        timed pass's work, against which the tracing overhead is taken."""
        raise NotImplementedError


class Extract(Workload):
    """Stages A-D in the fused hop: skeleton → episodes → triples.

    The traced pass also builds the KG with ``KgPipeline`` (cold, then a
    resume) and runs the entity-graph analytics (``EntityGraph``) on a triple
    table generated from the same seed, so the pipeline, detect, linking,
    canonicalize, graph and kge layers are measured here too."""

    name = "extract"
    n_docs = 2000
    min_passes = 12

    def generate(self, seed):
        self.seed = seed
        return gen.documents(self.in_dir, seed, self.n_docs)

    def expect(self):
        gold = oracle_table(self.in_dir, "kg_triples")
        self.expected = {"triples": digest(gold)}
        self.n_input = self.n_docs
        return vocab_props(gold)

    def run_pass(self, spark):
        from autoextraction_spark import corpus
        from autoextraction_spark.operators import output, slot_fill

        skel = corpus.doc_skeleton(spark, self.in_dir)
        eps = slot_fill.episodes_from_skeleton(skel, policy="rl", dedup_assignments=True)
        triples = output.to_triples(output.completed_filter(eps), assume_unique=True)
        return {"triples": triples.toArrow()}

    def _verify(self, outputs: dict, oracle_queries: dict[str, str]) -> None:
        """Check traced-pass outputs against ``oracle_sql()`` queries."""
        bad = [
            k for k, df in outputs.items()
            if digest(df.toArrow()) != digest(oracle_table(self.in_dir, oracle_queries[k]))
        ]
        if bad:
            raise RuntimeError(f"traced outputs differ from the oracle: {bad}")

    def trace(self, tr, spark):
        t0 = time.perf_counter()
        fused = self._trace_fused_hop(tr, spark)
        self.replay_s = time.perf_counter() - t0
        graph = EntityGraph(os.path.join(self.work_dir, "graph"))
        self.traced_input = {"graph": graph.prepare(self.seed)}
        return {
            **fused,
            **self._trace_pipeline(tr, spark),
            **graph.trace(tr, spark),
        }

    def _trace_fused_hop(self, tr, spark):
        from autoextraction_spark import corpus
        from autoextraction_spark.operators import output, slot_fill

        tr.span("corpus.skeleton", lambda: corpus.doc_skeleton(spark, self.in_dir))
        skel = tr.materialize(
            "input.skeleton", lambda: corpus.doc_skeleton(spark, self.in_dir)
        )
        tr.span("corpus.pages", lambda: corpus.pages_from_skeleton(skel))

        def episodes():
            return slot_fill.episodes_from_skeleton(
                skel, policy="rl", dedup_assignments=True
            )

        tr.span("slot_fill.episodes", episodes)
        eps = tr.materialize("input.episodes", episodes)
        triples = tr.span(
            "output.to_triples",
            lambda: output.to_triples(output.completed_filter(eps), assume_unique=True),
        )
        self._verify({"triples": triples}, {"triples": "kg_triples"})
        n_eps = eps.count()
        return {
            "corpus.partitions": skel.rdd.getNumPartitions(),
            "text_extract.us_per_doc": _sample_extract_us(self.in_dir),
            "slot_fill.completed_ratio": output.completed_filter(eps).count() / max(n_eps, 1),
            "output.triples_per_doc": triples.count() / self.n_docs,
        }

    def _trace_pipeline(self, tr, spark):
        from autoextraction_spark.operators import detect
        from autoextraction_spark.pipeline import KgPipeline

        kg_dir = os.path.join(self.work_dir, "kg")
        tr.span("pipeline.run", lambda: KgPipeline(spark, self.in_dir, kg_dir).run())
        written, files = dir_bytes(kg_dir)
        canon = tr.span("pipeline.resume", lambda: KgPipeline(spark, self.in_dir, kg_dir).run())
        self._verify(
            {"canonical": canon.select("url", "pred", "subj", "obj")},
            {"canonical": "kg_triples_canonical"},
        )

        def stage(name):
            path = os.path.join(kg_dir, f"stage={name}")
            return spark.read.parquet(path).drop("_stage", "_part_id")

        detected = tr.span("detect.relations", lambda: detect.detect_relations(stage("text")))
        return {
            "pipeline.bytes_written_mb": written / 2**20,
            "pipeline.files_written": files,
            "detect.pairs_per_doc": detected.count() / self.n_docs,
        }

def _swap_gold_graph(sql: str) -> str:
    """Point an oracle query's gold-graph CTE at the ``canon`` table."""
    from autoextraction_spark import oracle

    gold = oracle._gold_graph_ctes()
    if gold not in sql:
        raise RuntimeError("oracle query no longer starts from the gold-graph CTE")
    return sql.replace(gold, "g AS (SELECT DISTINCT pred, subj, obj FROM canon)")


class EntityGraph:
    """Entity-graph analytics over a generated triple table, traced inside
    ``extract``: linking on the distributed path, connected components,
    label propagation, rule inference and TransE. Outputs are checked
    against the planted variant groups, the oracle's label-propagation and
    rule-inference SQL over the planted canonical table, and TransE's
    shape."""

    n_triples = 2500

    def __init__(self, in_dir: str):
        self.in_dir = in_dir

    def prepare(self, seed: int) -> dict:
        """Write the triple table, compute the expected outputs, and return
        the input's measured properties."""
        from autoextraction_spark import oracle

        n = self.n_triples
        props, planted = gen.triple_table(
            self.in_dir, seed, n, n_persons=int(n * 0.6), n_orgs=int(n * 0.15),
            n_cities=int(n * 0.2),
        )
        raw = pq.read_table(os.path.join(self.in_dir, "triples.parquet"))
        t = raw.to_pydict()
        rows = {
            (u, p, planted.get(s, s), planted.get(o, o))
            for u, p, s, o in zip(t["url"], t["pred"], t["subj"], t["obj"])
        }
        canon = pa.table(dict(zip(["url", "pred", "subj", "obj"], map(list, zip(*rows)))))
        con = duckdb.connect()
        con.register("canon", canon)
        self.expected = {
            "canonical": digest(canon),
            "lpa": digest(con.sql(_swap_gold_graph(oracle.label_propagation_sql(LPA_ITERS))).arrow()),
            "rules": digest(con.sql(_swap_gold_graph(oracle.rule_inference_sql(RULES))).arrow()),
        }
        ents = set(canon["subj"].to_pylist()) | set(canon["obj"].to_pylist())
        self.transe_rows = (len(ents) + len(set(t["pred"]))) * 4
        return {**props, **vocab_props(raw)}

    def trace(self, tr, spark):
        from autoextraction_spark.operators import canonicalize, graph, kge, linking

        raw = spark.read.parquet(os.path.join(self.in_dir, "triples.parquet"))
        tr.span("linking.vocab", lambda: linking.mention_vocab(raw))
        vocab = tr.materialize("input.vocab", lambda: linking.mention_vocab(raw))
        # an explicit blocker selects the distributed blocked-join path,
        # which a vocabulary above the driver bound would take on its own
        tr.span("linking.mapping", lambda: linking.canonical_mapping(vocab, blocker="prefix"))
        mapping = tr.materialize(
            "input.mapping", lambda: linking.canonical_mapping(vocab, blocker="prefix")
        )
        edges = tr.materialize("input.variant_edges", lambda: linking.variant_edges(vocab))
        tr.span(
            "canonicalize.cc",
            lambda: canonicalize.connected_components(edges, check_every=2),
        )
        out = {"canonical": tr.span(
            "linking.rewrite", lambda: linking.canonical_triples(raw, mapping)
        )}
        canon = tr.materialize("input.canonical", lambda: linking.canonical_triples(raw, mapping))
        out["lpa"] = tr.span(
            "graph.lpa",
            lambda: graph.label_propagation(graph.triple_edges(canon), iters=LPA_ITERS),
        )
        out["rules"] = tr.span("graph.rules", lambda: graph.rule_inference(canon, RULES))
        transe = tr.span("kge.transe", lambda: kge.transe_embeddings(canon)).toArrow()
        bad = [k for k, df in out.items() if digest(df.toArrow()) != self.expected[k]]
        if transe.num_rows != self.transe_rows or sorted(transe.column_names) != [
            "d", "kind", "name", "val"
        ]:
            bad.append("transe")
        if bad:
            raise RuntimeError(f"traced graph outputs are wrong: {bad}")
        return {
            "linking.vocab_rows": vocab.count(),
            "canonicalize.edges": edges.count(),
            "graph.lpa_jobs_per_round": tr.spans["graph.lpa"]["jobs"] / LPA_ITERS,
        }


DEDUP_QUERIES = {"minhash": "minhash_dedup", "simhash": "simhash",
                 "winnow": "winnow", "quote_pairs": "quote_pairs"}


class Dedup(Workload):
    """MinHash/LSH pairs, SimHash, winnowing fingerprints and quote pairs."""

    name = "dedup"
    n_docs = 500
    min_passes = 5

    def generate(self, seed):
        return gen.documents(self.in_dir, seed, self.n_docs)

    def expect(self):
        self.expected = {k: digest(oracle_table(self.in_dir, q)) for k, q in DEDUP_QUERIES.items()}
        self.n_input = self.n_docs
        return {}

    def run_pass(self, spark):
        from pyspark.sql import functions as F

        from autoextraction_spark.operators import dedup, textstats

        docs = spark.read.parquet(os.path.join(self.in_dir, "documents.parquet"))
        pairs = dedup.minhash_dup_pairs(docs, "doc_id", "text", threshold=0.8)
        fps = textstats.winnow_fingerprints(docs.select("doc_id", "text"), k=8, w=15)
        return {
            "minhash": pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")).toArrow(),
            "simhash": dedup.simhash64(docs, "doc_id", "text").toArrow(),
            "winnow": fps.withColumnRenamed("id", "doc_id").toArrow(),
            "quote_pairs": textstats.shared_fingerprint_pairs(
                fps, min_shared=3, max_docs_per_fp=20
            ).toArrow(),
        }

    def trace(self, tr, spark):
        from pyspark.sql import functions as F

        from autoextraction_spark.operators import dedup, textstats

        t0 = time.perf_counter()
        docs = tr.materialize(
            "input.documents",
            lambda: spark.read.parquet(os.path.join(self.in_dir, "documents.parquet")),
        )

        def minhash():
            pairs = dedup.minhash_dup_pairs(docs, "doc_id", "text", threshold=0.8)
            return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))

        out = {"minhash": tr.span("dedup.minhash", minhash)}
        sets = dedup.shingle_sets(docs, "doc_id", dedup.word_shingles(F.col("text"), 3))
        sig = dedup.minhash_signature_from_sets(sets, dedup.DEFAULT_NUM_PERM)
        cands = tr.materialize(
            "input.lsh_candidates",
            lambda: dedup.lsh_candidate_pairs(sig, dedup.DEFAULT_NUM_PERM, dedup.DEFAULT_BANDS),
        ).count()
        out["simhash"] = tr.span("dedup.simhash", lambda: dedup.simhash64(docs, "doc_id", "text"))
        text = docs.select("doc_id", "text")
        tr.span("textstats.winnow", lambda: textstats.winnow_fingerprints(text, k=8, w=15))
        fps = tr.materialize(
            "input.fingerprints", lambda: textstats.winnow_fingerprints(text, k=8, w=15)
        )
        out["winnow"] = fps.withColumnRenamed("id", "doc_id")
        out["quote_pairs"] = tr.span(
            "textstats.quote_pairs",
            lambda: textstats.shared_fingerprint_pairs(fps, min_shared=3, max_docs_per_fp=20),
        )
        self.replay_s = time.perf_counter() - t0
        bad = self.check({k: df.toArrow() for k, df in out.items()})
        if bad:
            raise RuntimeError(f"traced outputs differ from the oracle: {bad}")
        return {
            "dedup.lsh_candidates": cands,
            "dedup.verify_ratio": out["minhash"].count() / max(cands, 1),
        }


WORKLOADS = {w.name: w for w in (Extract, Dedup)}
