"""Checkpoint/resume orchestration (pipeline.py over store.stage) + salted
skew handling."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from autoextraction_spark import corpus, store
from autoextraction_spark.pipeline import KgPipeline, salted_host_counts


def _dir(wd, stage):
    return os.path.join(wd, f"stage={stage}")


def _manifest_path(wd, stage):
    return os.path.join(_dir(wd, stage), store.MANIFEST)


def _is_done(p, stage):
    m = store.manifest(_dir(p.workdir, stage))
    return m is not None and m["fingerprint"] == p.fingerprints()[stage]


def test_full_run_writes_manifests(spark, sf_dir, tmp_path):
    wd = str(tmp_path / "run1")
    p = KgPipeline(spark, sf_dir, wd)
    canonical = p.run(resume=False)
    assert canonical.count() > 0
    m = {x["stage"]: x for x in p.metrics()}
    assert set(m) == {"text", "triples", "linking_map", "canonical"}
    assert m["triples"]["rows"] > 0
    # lineage columns present in every checkpoint; rows observed by the write
    for stage in m:
        df = spark.read.parquet(os.path.join(wd, f"stage={stage}"))
        assert "_stage" in df.columns and "_part_id" in df.columns
        assert m[stage]["rows"] == df.count()
    # stage G layout: canonical triples partitioned by predicate
    assert glob.glob(os.path.join(wd, "stage=canonical", "pred=*"))


def test_write_observes_exact_rows_empty_and_partitioned(spark, tmp_path):
    df = spark.range(0, 1000, 1, 4).withColumn("k", F.col("id") % 7)
    part, empty = str(tmp_path / "stage=part"), str(tmp_path / "stage=empty")
    store.stage(part, "fp", lambda: df, partition_by=["k"])
    store.stage(empty, "fp", lambda: df.filter("id < 0"))

    def rows(path):
        return store.manifest(path)["rows"]

    assert (rows(part), rows(empty)) == (1000, 0)
    assert spark.read.parquet(part).count() == 1000


def test_resume_skips_completed_stages(spark, sf_dir, tmp_path):
    wd = str(tmp_path / "run2")
    p = KgPipeline(spark, sf_dir, wd)
    p.run(resume=False)
    before = {s: os.path.getmtime(_manifest_path(wd, s)) for s in ("text",)}

    # simulate a crash after 'text': delete downstream outputs
    for stage in ("triples", "linking_map", "canonical"):
        os.remove(_manifest_path(wd, stage))

    p2 = KgPipeline(spark, sf_dir, wd)
    out = p2.run(resume=True)
    assert out.count() > 0
    # upstream manifests untouched -> stages were skipped, not recomputed
    after = {s: os.path.getmtime(_manifest_path(wd, s)) for s in ("text",)}
    assert before == after
    assert os.path.exists(_manifest_path(wd, "canonical"))


def test_resume_rebuilds_on_config_change(spark, sf_dir, tmp_path):
    # a workdir built under one policy must NOT serve stale stage outputs to
    # a resume under another policy (fingerprint mismatch -> rebuild)
    wd = str(tmp_path / "run3")
    KgPipeline(spark, sf_dir, wd, policy="rl").run(resume=False)
    p_seq = KgPipeline(spark, sf_dir, wd, policy="sequence")
    assert not _is_done(p_seq, "text")  # recorded fingerprint differs
    before = os.path.getmtime(_manifest_path(wd, "triples"))
    p_seq.run(resume=True)
    assert os.path.getmtime(_manifest_path(wd, "triples")) > before
    # sequence policy misses alt-phrased facts: strictly fewer triples
    m = {x["stage"]: x for x in p_seq.metrics()}
    assert m["triples"]["fingerprint"] == p_seq.fingerprints()["triples"]


def test_resume_rebuilds_on_code_change(spark, sf_dir, tmp_path, monkeypatch):
    # a workdir built by one version of the package sources must NOT serve
    # stale stage outputs to a resume under changed code
    wd = str(tmp_path / "run4")
    p = KgPipeline(spark, sf_dir, wd)
    p.run(resume=False)
    assert _is_done(p, "text")
    monkeypatch.setattr(store, "source_digest", lambda: "changed-code")
    assert not _is_done(p, "text")
    before = os.path.getmtime(_manifest_path(wd, "triples"))
    p.run(resume=True)
    assert os.path.getmtime(_manifest_path(wd, "triples")) > before


def test_killed_rebuild_is_not_served_under_the_old_fingerprint(spark, sf_dir, tmp_path,
                                                               killed_manifest_write):
    # a rebuild under another policy is killed after its triples committed:
    # a resume under the first policy must rebuild them, not serve them
    wd = str(tmp_path / "run5")
    want = KgPipeline(spark, sf_dir, wd).run(resume=False).count()
    with killed_manifest_write(_dir(wd, "triples")):
        KgPipeline(spark, sf_dir, wd, policy="sequence").run()
    assert store.manifest(_dir(wd, "triples")) is None
    got = KgPipeline(spark, sf_dir, wd)
    assert got.run().count() == want
    m = {x["stage"]: x for x in got.metrics()}
    assert m["triples"]["fingerprint"] == got.fingerprints()["triples"]


@pytest.mark.parametrize("content", ["", '{"fingerprint": "A", "sch'], ids=["empty", "truncated"])
def test_damaged_manifest_means_rebuild(spark, tmp_path, content):
    path = str(tmp_path / "stage=x")
    store.stage(path, "A", lambda: spark.range(3))
    with open(os.path.join(path, store.MANIFEST), "w") as f:
        f.write(content)
    built = []
    out = store.stage(path, "A", lambda: built.append(1) or spark.range(4))
    assert built == [1] and out.count() == 4
    assert store.manifest(path)["fingerprint"] == "A"


def test_resume_of_a_completed_pipeline_runs_no_spark_job(spark, sf_dir, tmp_path, jobs_in_group):
    # every stage is read back with the schema its manifest declares, so
    # resuming builds the canonical plan without a footer-inference job
    # (four of them, one per stage, before the manifests recorded schemas)
    wd = str(tmp_path / "run6")
    first = KgPipeline(spark, sf_dir, wd).run(resume=False)
    out = []
    assert jobs_in_group("kg-resume", lambda: out.append(KgPipeline(spark, sf_dir, wd).run())) == 0
    assert out[0].columns == first.columns == spark.read.parquet(_dir(wd, "canonical")).columns
    assert out[0].columns[-1] == "pred"
    assert sorted(out[0].collect()) == sorted(first.collect())
    # the checkpointed chain builds the same canonical graph as the query
    import __spark_entry__ as entry

    key = ["url", "pred", "subj", "obj"]
    want = entry.q_kg_triples_canonical(spark, sf_dir).select(*key)
    assert sorted(out[0].select(*key).collect()) == sorted(want.collect())


def test_salted_host_counts_match_direct(spark, sf_dir):
    pages = corpus.web_pages(spark, sf_dir)
    salted = {r.host: r.n_pages for r in salted_host_counts(pages, 16).collect()}
    direct = {
        r.host: r.n
        for r in pages.withColumn(
            "host", F.regexp_extract("url", r"https://([^/]+)/", 1)
        )
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert salted == direct
    # the corpus really is skewed: host 0 carries ~20% of pages
    total = sum(direct.values())
    assert direct["site0.example.com"] / total > 0.15


def test_incremental_delta_emits_only_novel_facts(spark):
    from autoextraction_spark.pipeline import incremental_delta

    new = spark.createDataFrame(
        [
            ("u9", "works_for", "alice", "acme"),   # already in KG
            ("u9", "based_in", "acme", "oslo"),     # novel
            ("u8", "based_in", "acme", "oslo"),     # same novel fact, 2nd url
        ],
        "url string, pred string, subj string, obj string",
    )
    kg = spark.createDataFrame(
        [("u1", "works_for", "alice", "acme"), ("u2", "born_in", "bob", "rome")],
        "url string, pred string, subj string, obj string",
    )
    got = {(r.url, r.pred, r.subj, r.obj) for r in incremental_delta(new, kg).collect()}
    # novelty is at the FACT level; both source urls of the novel fact survive
    assert got == {
        ("u9", "based_in", "acme", "oslo"),
        ("u8", "based_in", "acme", "oslo"),
    }


def test_canonical_url_rules(spark):
    from autoextraction_spark.pipeline import url_dedup

    cases = [
        # (input, expected canonical)
        (1, "https://WWW.Example.COM:443/Article/3#frag",
         "https://www.example.com/Article/3"),
        (2, "https://www.example.com/Article/3?utm_source=a&utm_campaign=b",
         "https://www.example.com/Article/3"),
        # utm strip leaves an orphaned '&' -> re-anchored to '?'
        (3, "http://news.site.org/p?utm_medium=a&ref=2",
         "http://news.site.org/p?ref=2"),
        (4, "http://news.site.org:80/p/", "http://news.site.org/p"),
        # path case preserved; non-default port preserved
        (5, "https://Host.Org:8080/CaseSensitive/Path",
         "https://host.org:8080/CaseSensitive/Path"),
        (6, "not-a-url/", "not-a-url"),
        (7, "https://a.b/p?", "https://a.b/p"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u, _ in cases], "doc_id long, url string"
    )
    got = {r.doc_id: r.url_canonical for r in url_dedup(df).collect()}
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_url_dedup_keeps_lowest_id(spark):
    from autoextraction_spark.pipeline import url_dedup

    df = spark.createDataFrame(
        [
            (10, "https://A.com/x?utm_source=1"),
            (11, "https://a.com:443/x#top"),
            (12, "https://a.com/y"),
        ],
        "doc_id long, url string",
    )
    rows = {r.doc_id: r for r in url_dedup(df).collect()}
    assert rows[10].url_canonical == rows[11].url_canonical == "https://a.com/x"
    assert rows[10].keep and not rows[11].keep and rows[12].keep
