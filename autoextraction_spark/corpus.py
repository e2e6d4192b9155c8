"""Deterministic synthetic Common-Crawl-style web corpus.

Builds the pipeline input table ``(url, warc_ts, html, text, lang)`` (per
BASELINE.json input_hint) from the driver's ``documents.parquet`` skeleton:
``doc_id`` supplies scale + language mix, all content is pure integer
arithmetic on ``doc_id`` (schema.py) so a DuckDB SQL oracle can recompute the
expected triples without running the pipeline.

Generation runs distributed via ``mapInPandas`` (Arrow batches) — at 10^12
documents this is an embarrassingly parallel map over the id-space, no
shuffle, no driver-side loop.
"""

from __future__ import annotations

import datetime as _dt
import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import schema as S

WEB_PAGES_SCHEMA = (
    "doc_id long, url string, warc_ts timestamp, html binary, "
    "text string, lang string"
)

WEB_PAGES_SCHEMA_NO_HTML = (
    "doc_id long, url string, warc_ts timestamp, text string, lang string"
)

#: The declared columns of every input table an sf dir holds (see
#: read_table), typed as Spark's footer inference types them. pyarrow
#: writes tz-naive timestamps, which Spark reads as ``timestamp_ntz``.
_TABLES = {
    name: dict(col.split(" ", 1) for col in ddl.split(", "))
    for name, ddl in {
        "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
        "events": "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
                  "value double, props string",
        "embeddings": "vec_id bigint, embedding array<float>, label int",
        "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
                    "l_quantity double, l_extendedprice double, l_discount double, "
                    "l_tax double, l_returnflag string, l_linestatus string, "
                    "l_shipdate timestamp_ntz",
        "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
                  "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
        "customer": "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
                    "c_mktsegment string",
    }.items()
}
#: footer integer types that a declared ``bigint`` column widens from
_WIDENS_TO_BIGINT = ("tinyint", "smallint", "int")

_EPOCH = _dt.datetime(2024, 1, 1)


def build_html(doc_id: int, lang: str) -> str:
    """Pure function doc_id -> html. The ONLY producer of page content."""
    parts = [
        f'<html><head><title>Doc {doc_id}</title><meta charset="utf-8"/></head><body>',
        f"<h1>Report {doc_id}</h1>",
    ]
    for i in range(S.n_facts(doc_id)):
        parts.append(f"<p>{S.fact_sentence(doc_id, i, lang)}</p>")
        if (doc_id + i) % 3 == 0:
            parts.append(f"<p>{S.FILLERS[(doc_id * 5 + i) % len(S.FILLERS)]}</p>")
    if S.has_event(doc_id, lang):
        parts.append(f"<p>{S.event_sentence(doc_id, lang)}</p>")
    parts.append('<script>var tracker = "t0";</script></body></html>')
    return "".join(parts)


def warc_ts(doc_id: int) -> _dt.datetime:
    return _EPOCH + _dt.timedelta(days=doc_id % 365, seconds=(doc_id * 7) % 86400)


def _gen(with_text: bool, emit_html: bool = True):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .operators.text_extract import extract_text

        for pdf in batches:
            doc_ids = pdf["doc_id"].astype("int64")
            langs = pdf["lang"].map(S.doc_lang)
            html = [
                build_html(d, lg).encode("utf-8")
                for d, lg in zip(doc_ids, langs)
            ]
            out = {
                "doc_id": doc_ids,
                "url": [S.page_url(d) for d in doc_ids],
                "warc_ts": [warc_ts(d) for d in doc_ids],
                "html": html,
                "text": [extract_text(h) for h in html] if with_text else None,
                "lang": langs,
            }
            if not emit_html:
                del out["html"]
            yield pd.DataFrame(out)

    return run


def web_pages(
    spark: SparkSession,
    sf_dir: str,
    with_text: bool = False,
    emit_html: bool = True,
) -> DataFrame:
    """Synthesize the input table from the documents skeleton at ``sf_dir``.

    ``text`` is NULL — stage A (text_extract) fills it; the per-row invariant
    is byte-identical extraction per url. ``with_text=True`` runs the SAME
    frozen ``extract_text`` inside the generator pass: a real deployment
    reads pages from storage and extracts in ONE python stage, and fusing
    the (sandbox-only) generator with extraction restores that production
    python-op depth — the html bytes otherwise cross the Arrow boundary
    twice, which measurably caps throughput.

    ``emit_html=False`` omits the ``html`` column from the OUTPUT (the bytes
    are still built internally when extraction needs them). ``mapInPandas``
    output cannot be column-pruned into the python side — a downstream
    ``.drop("html")`` still pays full Arrow serialization of the largest
    column — so every consumer that only wants extracted text should ask for
    the html-free schema here instead of dropping the column after.
    """
    skel = doc_skeleton(spark, sf_dir)
    return pages_from_skeleton(skel, with_text=with_text, emit_html=emit_html)


#: Order of magnitude only: ~119 B/doc on sf0.1's documents.parquet, ~255
#: B/doc on perfbench's generated corpora (2000 docs in ~510 kB);
#: doc_skeleton's clamp to [parallelism, cap] bounds the error.
_SKEL_BYTES_PER_DOC = 120
#: Docs per python task. Re-measured after ``pydaemon`` removed the
#: per-task worker setup: local[4] on a 4-vCPU VM, a 40k-doc skeleton (sf0.1
#: replicated 8x) sized by this value with the wave cap lifted,
#: ``pipeline.skeleton_triples(skel).count()``, 8 interleaved passes each,
#: median (min) wall: 500 docs/task (80 tasks) 2.92 (2.40) s, 1000 (40)
#: 2.08 (2.00) s, 2500 (16) 2.02 (1.90) s, 5000 (8) 2.27 (2.21) s, 10000
#: (4) 2.19 (1.96) s. 2500 stays, the fastest setting measured: below it
#: each extra task pays 30-55 ms of fixed python-task cost, above it fewer,
#: longer tasks leave a straggler's work unshared.
_MIN_DOCS_PER_TASK = 2500


def _estimate_doc_count(spark: SparkSession, sf_dir: str) -> int | None:
    """Estimate the skeleton row count from the parquet byte size via the
    Hadoop FS API (works for single files and directories, any scheme) —
    a metadata call, no Spark job. Returns None when the path cannot be
    sized (caller falls back to the fixed wave cap)."""
    try:
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(f"{sf_dir}/documents.parquet")
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        size = fs.getContentSummary(path).getLength()
        return max(1, int(size) // _SKEL_BYTES_PER_DOC)
    except Exception:
        return None


def _footer_schema(spark: SparkSession, path: str) -> T.StructType:
    """The Spark schema of one parquet file, converted from its footer on
    the driver the way Spark's own inference converts it: a metadata read,
    no Spark job."""
    jvm = spark._jvm
    meta = getattr(jvm, "org.apache.parquet.hadoop.ParquetFileReader").readFooter(
        spark._jsc.hadoopConfiguration(),
        getattr(jvm, "org.apache.hadoop.fs.Path")(getattr(jvm, "java.net.URI")(path)),
    )
    converter = getattr(
        jvm, "org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter"
    )(spark._jsparkSession.sessionState().conf())
    schema = converter.convert(meta.getFileMetaData().getSchema())
    return T.StructType.fromJson(json.loads(schema.json()))


def read_table(spark: SparkSession, sf_dir: str, name: str, *columns: str) -> DataFrame:
    """``{sf_dir}/{name}.parquet``, read with the catalog's declared types
    (``_TABLES``) of ``columns``, or of every catalog column when none are
    named. Without a schema, ``spark.read.parquet`` runs a one-task Spark
    job on every call to infer it from the footers: building
    ``doc_skeleton`` at sf0.01 took 94-106 ms that way and 27-33 ms with
    the declared schema and the footer check below (median of 20, 4-vCPU
    VM).

    A declared read turns a missing column into NULLs (and a NULL ``lang``
    into English pages), so one file's footer is checked instead, as
    Spark's inference reads one file's footer unless ``mergeSchema`` is
    set: each column read must be there with its declared type, where a
    narrower integer widens to a declared ``bigint``. Anything else is a
    ``ValueError`` naming the file."""
    types = _TABLES[name]
    columns = columns or tuple(types)
    ddl = ", ".join(f"{c} {types[c]}" for c in columns)
    df = spark.read.schema(ddl).parquet(f"{sf_dir}/{name}.parquet")
    # the JVM array, not DataFrame.inputFiles(): py4j would fetch every
    # listed file name in its own round trip
    files = df._jdf.inputFiles()
    if len(files) == 0:
        raise ValueError(f"{sf_dir}/{name}.parquet: no parquet files to read")
    first = files[0]
    found = {f.name: f.dataType.simpleString() for f in _footer_schema(spark, first).fields}
    bad = [
        f"{c} is {found.get(c, 'missing')}"
        for c in columns
        if found.get(c) != types[c]
        and not (types[c] == "bigint" and found.get(c) in _WIDENS_TO_BIGINT)
    ]
    if bad:
        raise ValueError(f"{first}: the read declares {ddl}; {', '.join(bad)}")
    return df


def doc_skeleton(
    spark: SparkSession,
    sf_dir: str,
    replicate: int = 1,
    where=None,
    waves_per_core: int = 4,
) -> DataFrame:
    """The (doc_id, lang) id-space the corpus is generated from.

    Split out of ``web_pages`` so load/scaling harnesses can materialize it
    ONCE (localCheckpoint) and time only the pipeline over it — the skeleton
    bootstrap (tiny parquet read, repartition shuffle, max-id agg, replica
    explode) is sandbox scaffolding standing in for "the crawl is already in
    storage", not pipeline work.

    ``replicate=k`` scales the corpus k× for load/scaling runs: replica r
    shifts ids by r·(max_id+1), producing distinct urls AND distinct facts
    (all content is doc_id arithmetic).

    The read is ``read_table``'s declared ``doc_id bigint, lang string``,
    so planning it runs no Spark job; a file without an integer ``doc_id``
    or a string ``lang`` column is a ``ValueError``. Any ``lang`` value other
    than ``'zh'``, NULL included, generates an English page
    (``schema.doc_lang``), as the oracle's ``CASE WHEN lang = 'zh'`` does.
    """
    docs = read_table(spark, sf_dir, "documents", "doc_id", "lang")
    if where is not None:
        # applied BELOW the generator mapInPandas: Catalyst pushes a doc_id
        # predicate into the parquet scan (incremental-crawl partition prune)
        docs = docs.filter(where)
    # Repartition the tiny skeleton BEFORE generation: the skeleton is 1-2
    # parquet tasks, and everything generated from it would otherwise run at
    # that parallelism — a serial bottleneck that caps scaling. A real
    # Common-Crawl read has thousands of input splits and needs no such step.
    # waves_per_core (default 4, the CAP): the generated-corpus stage's tail
    # is 1/(waves·cores) of the work, so one straggling partition (or one of
    # this VM's documented 10-20s stalls) costs a sliver, not a wave — the
    # serial floor that capped scaling efficiency at 2 waves/core. The
    # scaling harness uses 8: finer tasks let the scheduler route a stalled
    # core's remaining work elsewhere, and the stall tax drops from a whole
    # wave to stall/cores — measured worth ~7% of wall at local[16].
    #
    # SCALE-ADAPTIVE: partitions = clamp(est_docs/_MIN_DOCS_PER_TASK,
    # parallelism, cap), docs estimated from the parquet footprint (a
    # filesystem metadata call, zero Spark jobs). A corpus under
    # parallelism·_MIN_DOCS_PER_TASK docs runs one wave of parallelism
    # full-size tasks; at scale the cap keeps the straggler-absorbing waves
    # (it reproduces the r5 big-run layout). The per-task cost being
    # amortized sat in the python worker, not the JVM protocol: at task
    # start pyspark's worker calls importlib.invalidate_caches()
    # (worker_util.setup_spark_files), which on Python 3.11 re-reads the zip
    # directory behind every zipimporter — ~14 pyspark.zip entries at 6-12 ms
    # and two spark-core_2.13-4.1.2.jar entries at 26-55 ms: 150-290 ms per
    # task against ~7 ms of JVM CPU (4-vCPU VM). That came from the session,
    # not the install: session.get_spark starts workers from ``pydaemon``,
    # which imports the installed pyspark instead of Spark's archives, and
    # the call then costs under 0.2 ms; 30-55 ms of fixed cost per python
    # task remains (measured at _MIN_DOCS_PER_TASK).
    par = spark.sparkContext.defaultParallelism
    est_docs = _estimate_doc_count(spark, sf_dir)
    cap = max(par * int(waves_per_core), 16)
    if est_docs is None:
        n_parts = cap
    else:
        est_docs *= max(int(replicate), 1)
        n_parts = min(cap, max(par, -(-est_docs // _MIN_DOCS_PER_TASK)))
    if replicate > 1:
        # shift derives from the DATA (max id + 1), so replicas can never
        # collide with base ids however large the skeleton grows (ADVICE.md);
        # one tiny agg job, only on replicated (scaling-bench) runs
        shift = (docs.agg(F.max("doc_id")).first()[0] or 0) + 1
        docs = docs.select(
            F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))).alias("r"),
            "doc_id",
            "lang",
        ).select((F.col("doc_id") + F.col("r") * shift).alias("doc_id"), "lang")
    # Repartition AFTER the replica explode: partitioning the 5k-row seed
    # first gives every partition ~78 whole documents ×k identical replicas,
    # so partition cost inherits the doc-length distribution's skew (spread
    # measured 12.5→17.4 s at local[16]); round-robin over the exploded rows
    # mixes replicas of ALL documents into every partition — near-identical
    # per-task cost at the same shuffle price (the rows are two skinny
    # columns either way, and this is untimed bootstrap scaffolding).
    return docs.repartition(n_parts)


def pages_from_skeleton(
    skel: DataFrame, with_text: bool = False, emit_html: bool = True
) -> DataFrame:
    """Generate pages from an existing (doc_id, lang) skeleton DataFrame."""
    return skel.mapInPandas(
        _gen(with_text, emit_html),
        schema=WEB_PAGES_SCHEMA if emit_html else WEB_PAGES_SCHEMA_NO_HTML,
    )


def gold_triples(spark: SparkSession, sf_dir: str, canonical: bool = False) -> DataFrame:
    """Expected (url, pred, subj, obj) — derived from the same fact math.

    Used as the gold side of MetricF1 and as pytest fixtures. ``canonical``
    selects post-entity-linking surfaces.
    """
    docs = read_table(spark, sf_dir, "documents", "doc_id", "lang")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, src_lang in zip(pdf["doc_id"].astype("int64"), pdf["lang"]):
                lang = S.doc_lang(src_lang)
                url = S.page_url(int(d))
                for rel, subj, obj, obj_canon in S.gold_facts(int(d), lang):
                    rows.append((url, rel, subj, obj_canon if canonical else obj))
            yield pd.DataFrame(rows, columns=["url", "pred", "subj", "obj"])

    return docs.mapInPandas(gen, schema="url string, pred string, subj string, obj string").distinct()


def gold_fact_tuples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold (url, i, rel, subj, obj, sentence, subj_start, obj_start) rows —
    one per planted fact, with the CHAR offsets of both entities in the
    rendered sentence.

    This is the training-data-generation input shape: the reference's dataset
    files carry gold tuples next to the text (nyt.py relation_list) and, for
    DuEE, explicit ``argument_start_index`` char offsets (duee.py:38-64) —
    exactly what the P10 (token-match) and P11 (char-span) span-labeling
    operators consume.
    """
    docs = read_table(spark, sf_dir, "documents", "doc_id", "lang")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, src_lang in zip(pdf["doc_id"].astype("int64"), pdf["lang"]):
                d = int(d)
                lang = S.doc_lang(src_lang)
                url = S.page_url(d)
                for i in range(S.n_facts(d)):
                    rel, subj, conn, obj, tail = S.fact_parts(d, i, lang)
                    obj_canon = S.fact_surfaces(d, i, lang)[3]
                    rows.append(
                        (url, i, lang, rel, subj, obj, obj_canon,
                         f"{subj}{conn}{obj}{tail}", 0, len(subj) + len(conn))
                    )
            yield pd.DataFrame(
                rows,
                columns=["url", "i", "lang", "rel", "subj", "obj", "obj_canon",
                         "sentence", "subj_start", "obj_start"],
            )

    return docs.mapInPandas(
        gen,
        schema="url string, i long, lang string, rel string, subj string, "
               "obj string, obj_canon string, sentence string, "
               "subj_start long, obj_start long",
    )


def gold_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected (url, etype, role, value) rows of the event pipeline."""
    docs = read_table(spark, sf_dir, "documents", "doc_id", "lang")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, src_lang in zip(pdf["doc_id"].astype("int64"), pdf["lang"]):
                d = int(d)
                lang = S.doc_lang(src_lang)
                if not S.has_event(d, lang):
                    continue
                etype, vals = S.event_surfaces(d, lang)
                for role, v in zip(S.EVENTS[etype]["roles"], vals):
                    rows.append((S.page_url(d), etype, role, v))
            yield pd.DataFrame(
                rows, columns=["url", "etype", "role", "value"]
            )

    return docs.mapInPandas(
        gen, schema="url string, etype string, role string, value string"
    ).distinct()
