"""Structured Streaming ingestion: incremental crawl -> exactly-once triples."""

import glob

from pyspark.sql import functions as F

from autoextraction_spark import corpus
from autoextraction_spark.streaming import ingest


def test_incremental_ingest_matches_batch(spark, sf_dir, tmp_path):
    in_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")

    pages = corpus.web_pages(spark, sf_dir).cache()
    # land the corpus in two separate file drops
    pages.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(in_dir)
    q = ingest.stream_kg_pipeline(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(300)

    pages.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(in_dir)
    q2 = ingest.stream_kg_pipeline(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(300)

    all_rows = spark.read.parquet(out_dir).select("url", "pred", "subj", "obj")
    # exactly-once: the epoch-partition-overwrite sink must leave ZERO
    # duplicate triples (no .distinct() crutch — each page lands in exactly
    # one epoch and to_triples dedups within a batch)
    assert all_rows.count() == all_rows.distinct().count()
    got = all_rows.distinct()
    gold = corpus.gold_triples(spark, sf_dir)
    assert got.exceptAll(gold).isEmpty()
    assert gold.exceptAll(got).isEmpty()
    # second drop processed only the NEW files (streaming checkpoint):
    # epochs from the first run must not be re-emitted
    epochs = spark.read.parquet(out_dir).select("_epoch").distinct().count()
    assert epochs >= 2
    assert glob.glob(f"{ckpt}/offsets/*")


def test_stateful_dedup_across_batches(spark, sf_dir, tmp_path):
    # duplicates landed in a LATER micro-batch must be dropped by the
    # cross-batch digest state (applyInPandasWithState)
    in_dir = str(tmp_path / "landing3")
    out_dir = str(tmp_path / "survivors")
    ckpt = str(tmp_path / "ckpt3")
    pages = corpus.web_pages(spark, sf_dir, with_text=True).filter(
        F.col("doc_id") < 40
    ).cache()
    # drop 1: docs 0-19; drop 2: docs 10-39 (10-19 are exact re-crawls)
    pages.filter(F.col("doc_id") < 20).write.mode("append").parquet(in_dir)

    def drain():
        # a digest emits AT MOST ONCE over the query lifetime (the state
        # bit), so a plain parquet append is exactly-once per digest
        q = (
            ingest.stateful_exact_dedup(ingest.stream_pages(spark, in_dir))
            .writeStream.outputMode("update")
            .foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    drain()
    assert spark.read.parquet(out_dir).count() == 20
    pages.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 40)).write.mode(
        "append"
    ).parquet(in_dir)
    drain()
    urls = [r.url for r in spark.read.parquet(out_dir).collect()]
    # 40 distinct docs total; the 10 re-crawled pages appear exactly once
    assert len(urls) == len(set(urls)) == 40


def test_windowed_counts_stream(spark, sf_dir, tmp_path):
    in_dir = str(tmp_path / "landing2")
    corpus.web_pages(spark, sf_dir).write.mode("append").parquet(in_dir)
    stream = ingest.stream_pages(spark, in_dir)
    agg = ingest.windowed_page_counts(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("page_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.sql("SELECT sum(n_pages) AS total FROM page_counts").collect()[0]
    assert out.total == 500


def test_stateful_dedup_rocksdb_with_ttl(spark, sf_dir, tmp_path):
    # RocksDB-backed state + processing-time TTL: within the TTL duplicates
    # are dropped; once a digest's state expires (its timer fires in an idle
    # micro-batch) the same content is RE-ADMITTED — the bounded-memory
    # trade documented on stateful_exact_dedup. Timers need a continuous
    # trigger (availableNow stops before idle timer batches can fire).
    import time

    from autoextraction_spark.session import ROCKSDB_STATE_PROVIDER

    in_dir = str(tmp_path / "landing4")
    out_dir = str(tmp_path / "survivors4")
    ckpt = str(tmp_path / "ckpt4")
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_PROVIDER
    )
    q = None
    try:
        pages = corpus.web_pages(spark, sf_dir, with_text=True).filter(
            F.col("doc_id") < 10
        ).cache()
        pages.filter(F.col("doc_id") < 5).write.mode("append").parquet(in_dir)
        q = (
            ingest.stateful_exact_dedup(
                ingest.stream_pages(spark, in_dir), ttl_ms=4000
            )
            .writeStream.outputMode("update")
            .foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )

        def rows():
            try:
                return spark.read.parquet(out_dir).count()
            except Exception:
                return 0

        def wait_rows(n, timeout_s=120):
            deadline = time.time() + timeout_s
            while rows() < n and time.time() < deadline:
                time.sleep(1)
            return rows()

        assert wait_rows(5) == 5  # first drop: all unique
        time.sleep(8)  # TTL (4s) expires; timers fire in idle batches
        pages.write.mode("append").parquet(in_dir)  # re-crawl ALL 10
        # 0-4 re-admitted (state expired) + 5-9 new -> 10 more rows
        assert wait_rows(15) == 15
        urls = [r.url for r in spark.read.parquet(out_dir).collect()]
        assert len(set(urls)) == 10
        # RocksDB actually backs the store (provider-specific checkpoint layout)
        assert glob.glob(f"{ckpt}/state/**/*.zip", recursive=True) or glob.glob(
            f"{ckpt}/state/**/*.changelog", recursive=True
        )
    finally:
        if q is not None:
            q.stop()
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_online_training_stream(spark, sf_dir, tmp_path):
    """Online E13/E14: weights improve across micro-batches while the crawl
    streams in; replay buffer is epoch-idempotent; the newest artifact
    yields a deployable learned: policy."""
    import json
    import os

    from autoextraction_spark import scorers
    from autoextraction_spark.streaming import online_train

    in_dir = str(tmp_path / "landing")
    wd = str(tmp_path / "rl")
    ckpt = str(tmp_path / "ckpt")

    pages = corpus.web_pages(spark, sf_dir).cache()
    pages.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(in_dir)
    q = online_train.stream_online_training(
        spark, in_dir, wd, ckpt, iters_per_batch=3, seed=9
    )
    q.awaitTermination(300)
    arts = sorted(glob.glob(wd + "/weights_epoch_*.json"))
    assert arts, "no weight artifacts written"
    with open(arts[-1]) as f:
        first = json.load(f)
    assert len(first["weights"]) == scorers.FEATURE_DIM
    assert first["weights"] != [0.0] * scorers.FEATURE_DIM

    # second drop: training continues FROM the stored weights and ε decays
    pages.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(in_dir)
    q2 = online_train.stream_online_training(
        spark, in_dir, wd, ckpt, iters_per_batch=3, seed=9
    )
    q2.awaitTermination(300)
    arts2 = sorted(glob.glob(wd + "/weights_epoch_*.json"))
    assert len(arts2) > len(arts)
    with open(sorted(arts2, key=lambda p: json.load(open(p))["epoch"])[-1]) as f:
        last = json.load(f)
    assert last["epoch"] > first["epoch"]
    assert last["epsilon"] < first["epsilon"]
    assert last["weights"] != first["weights"]

    # buffer is epoch-partitioned with no duplicate (url, rel, step, given,
    # action) rows across retries
    buf = spark.read.parquet(wd + "/replay_buffer")
    key = buf.select("_epoch", "url", "rel", "step", "given", "action")
    assert key.count() == key.distinct().count()

    # deployable policy string
    pol = online_train.current_policy(wd)
    assert pol.startswith("learned:")
    assert scorers.choose_slot(
        "Alice Stone works for Acme Corp.", "works_for", "en", {},
        ["subject", "object"], pol,
    ) in ("subject", "object")


def test_online_training_buffer_retention(spark, sf_dir, tmp_path):
    """The trainer owns replay-buffer storage retention: _epoch partitions
    aged past window_epochs + retention_margin_epochs are dropped after
    each epoch, training still works, and resume from the newest artifact
    is unaffected (VERDICT r3 item 7 / ADVICE window upper bound)."""
    import json
    import os

    from autoextraction_spark.streaming import online_train

    in_dir = str(tmp_path / "landing")
    wd = str(tmp_path / "rl")
    ckpt = str(tmp_path / "ckpt")
    pages = corpus.web_pages(spark, sf_dir).cache()

    # five micro-batches -> five epochs, window 1 + margin 1
    for k in range(5):
        pages.filter(F.col("doc_id") % 5 == k).write.mode("append").parquet(in_dir)
        q = online_train.stream_online_training(
            spark, in_dir, wd, ckpt, iters_per_batch=2, seed=4,
            window_epochs=1, retention_margin_epochs=1,
        )
        q.awaitTermination(300)

    parts = sorted(
        int(p.rsplit("=", 1)[-1])
        for p in glob.glob(wd + "/replay_buffer/_epoch=*")
    )
    arts = sorted(
        json.load(open(p))["epoch"]
        for p in glob.glob(wd + "/weights_epoch_*.json")
    )
    last = arts[-1]
    # storage keeps only epochs > last - window - margin
    assert parts, "buffer empty"
    assert min(parts) > last - 2, (parts, last)
    assert max(parts) == last
    # the deployable policy still resolves from the newest artifact
    assert online_train.current_policy(wd).startswith("learned:")


def test_streaming_quality_gate_matches_batch(spark, sf_dir, tmp_path):
    """streaming/score.py: the SAME classify+mixture operator code gates a
    stream; the streamed corpus equals the batch result exactly, and a
    resumed run re-emits nothing (exactly-once sink)."""
    from autoextraction_spark.streaming import score

    in_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "gated")
    ckpt = str(tmp_path / "ckpt_gate")
    weights = [0.1, 0.2, 0.0, 0.3, -0.1]
    rates = {"en": 1.0, "fr": 0.5, "de": 0.0, "es": 0.25, "zh": 0.5}

    pages = corpus.web_pages(spark, sf_dir, with_text=True).cache()
    pages.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(in_dir)
    score.run_scored_ingest(
        spark, in_dir, out_dir, ckpt, weights, rates, threshold=0.4
    ).awaitTermination(300)
    pages.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(in_dir)
    score.run_scored_ingest(
        spark, in_dir, out_dir, ckpt, weights, rates, threshold=0.4
    ).awaitTermination(300)

    got = spark.read.parquet(out_dir).select("doc_id", "lang", "score")
    # bit-identical to the batch path over the same pages (unified API)
    want = score.score_stream(pages, weights, rates, threshold=0.4).select(
        "doc_id", "lang", "score"
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    # the gate actually gates: de docs are all dropped, en all kept (rate 1.0
    # cannot drop a doc the classifier admitted)
    assert got.filter(F.col("lang") == "de").count() == 0
    # resume with no new files: nothing new lands, nothing duplicates
    n_before = got.count()
    score.run_scored_ingest(
        spark, in_dir, out_dir, ckpt, weights, rates, threshold=0.4
    ).awaitTermination(300)
    assert spark.read.parquet(out_dir).count() == n_before


def test_streaming_kg_maintenance_fact_store(spark, sf_dir, tmp_path):
    from autoextraction_spark.streaming import kg_update

    in_dir = str(tmp_path / "landing")
    store = str(tmp_path / "kg_store")
    ckpt = str(tmp_path / "ckpt")

    pages = corpus.web_pages(spark, sf_dir).cache()
    pages.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(in_dir)
    kg_update.stream_kg_maintenance(spark, in_dir, store, ckpt).awaitTermination(300)

    pages.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(in_dir)
    kg_update.stream_kg_maintenance(spark, in_dir, store, ckpt).awaitTermination(300)

    rows = spark.read.parquet(store)
    facts = rows.select("pred", "subj", "obj")
    # the store holds each fact EXACTLY once across all epochs
    assert facts.count() == facts.distinct().count()
    # and the union of epochs equals the distinct gold fact set
    gold = corpus.gold_triples(spark, sf_dir).select("pred", "subj", "obj").distinct()
    assert facts.exceptAll(gold).isEmpty()
    assert gold.exceptAll(facts).isEmpty()
    # provenance url is the minimal url among the fact's sightings UP TO its
    # first epoch (deterministic within-batch pick)
    assert rows.filter(F.col("url").isNull()).isEmpty()
    # second run appended only new epochs (streaming checkpoint resume)
    assert rows.select("_epoch").distinct().count() >= 2


def test_streaming_kg_maintenance_retry_idempotent(spark, sf_dir, tmp_path):
    """Re-running an epoch against a store that already contains its own
    partition must reproduce the SAME rows (the _epoch < epoch_id bound)."""
    from autoextraction_spark.streaming import kg_update

    pages = corpus.web_pages(spark, sf_dir).filter(F.col("doc_id") < 40).cache()
    store = str(tmp_path / "kg_store")

    run = kg_update._maintain_batch(store)
    run(pages, 0)
    first = {tuple(r) for r in spark.read.parquet(store).collect()}
    run(pages, 0)  # simulated foreachBatch retry with the same epoch id
    second = {tuple(r) for r in spark.read.parquet(store).collect()}
    assert first == second and len(first) > 0


def test_streaming_url_dedup_across_batches(spark, sf_dir, tmp_path):
    # batch 2 lands tracking-param/host-case variants of batch-1 URLs:
    # the canonical-URL dedup state must drop them across micro-batches
    in_dir = str(tmp_path / "landing_url")
    out_dir = str(tmp_path / "url_survivors")
    ckpt = str(tmp_path / "ckpt_url")
    pages = corpus.web_pages(spark, sf_dir, with_text=True).filter(
        F.col("doc_id") < 20
    ).cache()
    b1 = pages.withColumn(
        "url", F.concat(F.lit("https://www.example.com/a/"), F.col("doc_id"))
    )
    b1.write.mode("append").parquet(in_dir)

    def drain():
        q = (
            ingest.streaming_url_dedup(ingest.stream_pages(spark, in_dir))
            .writeStream.outputMode("append")
            .foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    drain()
    assert spark.read.parquet(out_dir).count() == 20
    # variants of the SAME resources: host case + utm params + fragment
    b2 = pages.filter(F.col("doc_id") < 10).withColumn(
        "url",
        F.concat(
            F.lit("https://WWW.Example.COM/a/"),
            F.col("doc_id"),
            F.lit("?utm_source=feed#top"),
        ),
    )
    b2.write.mode("append").parquet(in_dir)
    drain()
    surv = spark.read.parquet(out_dir)
    assert surv.count() == 20  # all variants deduped
    assert surv.select("url_canonical").distinct().count() == 20


def test_streaming_link_graph_accumulates(spark, tmp_path):
    import datetime as dt

    from autoextraction_spark.streaming import link_graph as lg
    from autoextraction_spark.streaming.ingest import PAGES_DDL

    in_dir = str(tmp_path / "lg_landing")
    store = str(tmp_path / "lg_store")
    ckpt = str(tmp_path / "lg_ckpt")
    ts = dt.datetime(2024, 1, 1)

    def page(i, url, html):
        return (i, url, ts, html.encode(), None, "en")

    b1 = spark.createDataFrame(
        [page(1, "https://a.com/p1",
              '<a href="https://b.com/x">t</a><a href="https://b.com/y">u</a>'),
         page(2, "https://b.com/q", '<a href="https://a.com/">w</a>')],
        PAGES_DDL,
    )
    b1.write.mode("append").parquet(in_dir)
    lg.stream_link_graph(spark, in_dir, store, ckpt).awaitTermination(300)
    got1 = {
        (r.src_host, r.dst_host): (r.n_links, r.n_pages)
        for r in lg.current_link_graph(spark, store).collect()
    }
    assert got1 == {("a.com", "b.com"): (2, 1), ("b.com", "a.com"): (1, 1)}

    # second drop: another a.com page linking b.com once
    spark.createDataFrame(
        [page(3, "https://a.com/p2", '<a href="https://b.com/z">v</a>')],
        PAGES_DDL,
    ).write.mode("append").parquet(in_dir)
    lg.stream_link_graph(spark, in_dir, store, ckpt).awaitTermination(300)
    got2 = {
        (r.src_host, r.dst_host): (r.n_links, r.n_pages)
        for r in lg.current_link_graph(spark, store).collect()
    }
    assert got2 == {("a.com", "b.com"): (3, 2), ("b.com", "a.com"): (1, 1)}

    # exactly-once: re-running with the same checkpoint must change nothing
    lg.stream_link_graph(spark, in_dir, store, ckpt).awaitTermination(300)
    got3 = {
        (r.src_host, r.dst_host): (r.n_links, r.n_pages)
        for r in lg.current_link_graph(spark, store).collect()
    }
    assert got3 == got2


def test_streaming_cardinality_matches_batch_sketch(spark, sf_dir, tmp_path):
    from autoextraction_spark.operators import sketch
    from autoextraction_spark.streaming import cardinality

    in_dir = str(tmp_path / "landing")
    store = str(tmp_path / "hll_store")
    ckpt = str(tmp_path / "ckpt")

    pages = corpus.web_pages(spark, sf_dir).cache()
    # two file drops -> at least two epochs of shard-local registers
    pages.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(in_dir)
    q = cardinality.stream_cardinality(spark, in_dir, store, ckpt)
    q.awaitTermination(300)
    pages.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(in_dir)
    q2 = cardinality.stream_cardinality(spark, in_dir, store, ckpt)
    q2.awaitTermination(300)

    got = {
        r.lang: r.hll_estimate
        for r in cardinality.current_estimate(spark, store).collect()
    }
    # mergeability across epochs: folded streamed registers == the
    # one-shot batch sketch, estimate for estimate, bit for bit
    want = {
        r.lang: r.hll_estimate
        for r in sketch.hll_estimate(
            sketch.hll_registers(pages, "url", ["lang"], seed="#shll"),
            ["lang"],
        ).collect()
    }
    assert got == want
    # and the estimate tracks the exact per-lang url count
    exact = {
        r.lang: r.n
        for r in pages.groupBy("lang")
        .agg(F.countDistinct("url").alias("n"))
        .collect()
    }
    for lang, est in got.items():
        assert abs(est - exact[lang]) / exact[lang] < 0.35
    # at least two epoch partitions landed
    eps = spark.read.parquet(store).select("_epoch").distinct().count()
    assert eps >= 2


def test_epoch_store_reads_are_declared(spark, sf_dir, tmp_path, monkeypatch, jobs_in_group):
    """Every read of a store the streams wrote goes through store.read,
    which declares the schema write_epoch recorded beside the partitions:
    the fact store's prior-facts read and the trainer's replay-buffer read
    (inside the micro-batches), current_link_graph and current_estimate
    build with no Spark job and see the schema a footer read infers."""
    import os

    from autoextraction_spark import store
    from autoextraction_spark.streaming import cardinality, kg_update, online_train
    from autoextraction_spark.streaming import link_graph as lg
    from autoextraction_spark.streaming.ingest import PAGES_DDL

    in_dir = str(tmp_path / "landing")
    dirs = {n: str(tmp_path / n) for n in ("facts", "links", "regs", "rl")}
    buffer_dir = os.path.join(dirs["rl"], "replay_buffer")
    links = spark.createDataFrame(
        [(10**6 + i, f"https://a.com/p{i}", None, b'<a href="https://b.com/x">t</a>', None, "en")
         for i in range(6)],
        PAGES_DDL,
    )
    pages = corpus.web_pages(spark, sf_dir).filter(F.col("doc_id") < 40)
    pages.unionByName(links).repartition(6).write.parquet(in_dir)

    read, reads = store.read, []
    monkeypatch.setattr(store, "read", lambda s, path: reads.append(path) or read(s, path))
    for q in (
        kg_update.stream_kg_maintenance(spark, in_dir, dirs["facts"], str(tmp_path / "c1")),
        lg.stream_link_graph(spark, in_dir, dirs["links"], str(tmp_path / "c2")),
        cardinality.stream_cardinality(spark, in_dir, dirs["regs"], str(tmp_path / "c3")),
        online_train.stream_online_training(
            spark, in_dir, dirs["rl"], str(tmp_path / "c4"), iters_per_batch=1
        ),
    ):
        q.awaitTermination(300)
    # six files at maxFilesPerTrigger=4 land as two micro-batches: the fact
    # store's second epoch and every trainer epoch read their store
    assert dirs["facts"] in reads and buffer_dir in reads

    for path in (dirs["facts"], dirs["links"], dirs["regs"], buffer_dir):
        assert jobs_in_group(f"read-{os.path.basename(path)}", lambda: read(spark, path)) == 0
        assert read(spark, path).schema.simpleString() == (
            spark.read.parquet(path).schema.simpleString()
        )
    assert jobs_in_group("link-graph", lambda: lg.current_link_graph(spark, dirs["links"])) == 0
    assert jobs_in_group("estimate", lambda: cardinality.current_estimate(spark, dirs["regs"])) == 0
