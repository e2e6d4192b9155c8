"""The input-table read: declared schemas that plan without a Spark job,
and a loud error for a table that lacks its columns."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry
from autoextraction_spark import corpus, pipeline


def _skeleton(tmp_path, **columns):
    d = tmp_path / "sf"
    d.mkdir()
    pq.write_table(pa.table(columns), str(d / "documents.parquet"))
    return str(d)


def test_building_the_skeleton_plan_runs_no_spark_job(spark, sf_dir, jobs_in_group):
    """Declaring the schema removes the footer-inference job that an
    undeclared ``spark.read.parquet`` runs on every call."""
    built = []
    build = lambda: built.append(pipeline.skeleton_triples(corpus.doc_skeleton(spark, sf_dir)))
    assert jobs_in_group("skeleton-plan-build", build) == 0
    assert jobs_in_group("skeleton-inferred-read",
                         lambda: spark.read.parquet(f"{sf_dir}/documents.parquet")) == 1
    assert built[0].columns == ["url", "pred", "subj", "obj"]


def test_declared_read_equals_inferred_read(spark, sf_dir):
    for table in corpus._TABLES:
        inferred = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        declared = corpus.read_table(spark, sf_dir, table)
        assert declared.schema == inferred.schema, table
        assert sorted(map(repr, declared.collect())) == sorted(map(repr, inferred.collect()))
        named = inferred.columns[::-2]  # a narrowed read, in another order
        narrowed = corpus.read_table(spark, sf_dir, table, *named)
        assert narrowed.schema == inferred.select(*named).schema, table


@pytest.mark.parametrize("table", list(corpus._TABLES))
@pytest.mark.parametrize("fault", ["missing", "mistyped"])
def test_malformed_table_raises(spark, sf_dir, tmp_path, table, fault):
    """Every catalog table: a dropped column and a column of the wrong type
    are each a ValueError naming the file and the column."""
    data = pq.read_table(f"{sf_dir}/{table}.parquet")
    if fault == "missing":
        col = data.column_names[0]
        data, message = data.drop([col]), f"{col} is missing"
    else:
        col = data.column_names[-1]
        data = data.set_column(data.num_columns - 1, col, pa.array([True] * data.num_rows))
        message = f"{col} is boolean"
    pq.write_table(data, str(tmp_path / f"{table}.parquet"))
    with pytest.raises(ValueError, match=rf"{table}\.parquet: .*\b{message}$"):
        corpus.read_table(spark, str(tmp_path), table)


def test_building_headline_plans_runs_no_spark_job(spark, sf_dir, jobs_in_group):
    """The declared reads leave these headline plans with no job at build
    time; an undeclared read ran one footer-inference job in each."""
    for name in ("simhash", "tpch_q1", "vocab_topk", "cooccur_pairs", "training_pipeline"):
        query = entry.queries()[name]
        assert jobs_in_group(f"{name}-plan-build", lambda: query(spark, sf_dir)) == 0, name


def test_int32_doc_id_and_null_lang_read(spark, tmp_path):
    """An int32 ``doc_id`` widens to long; a NULL ``lang`` generates the
    same English page as ``lang = 'en'``."""
    sf = _skeleton(
        tmp_path,
        doc_id=pa.array([7, 8, 9], pa.int32()),
        lang=pa.array([None, "en", "zh"], pa.string()),
    )
    skel = corpus.doc_skeleton(spark, sf)
    assert sorted(map(tuple, skel.collect())) == [(7, None), (8, "en"), (9, "zh")]
    pages = {r.doc_id: r for r in corpus.pages_from_skeleton(skel, with_text=True).collect()}
    assert [pages[d].lang for d in (7, 8, 9)] == ["en", "en", "zh"]
    as_en = corpus.pages_from_skeleton(
        spark.createDataFrame([(7, "en")], "doc_id long, lang string"), with_text=True
    ).first()
    assert (pages[7].html, pages[7].text) == (as_en.html, as_en.text)


READERS = {
    "doc_skeleton": corpus.doc_skeleton,
    "gold_triples": corpus.gold_triples,
    "gold_fact_tuples": corpus.gold_fact_tuples,
    "gold_events": corpus.gold_events,
}


@pytest.mark.parametrize("reader", READERS.values(), ids=READERS.keys())
@pytest.mark.parametrize(
    "columns, message",
    [
        ({"doc_id": pa.array([1, 2], pa.int64())}, "lang is missing"),
        ({"lang": pa.array(["en", "zh"])}, "doc_id is missing"),
        ({"doc_id": pa.array(["1", "2"]), "lang": pa.array(["en", "zh"])},
         "doc_id is string"),
        ({"doc_id": pa.array([1.0, 2.5]), "lang": pa.array(["en", "zh"])},
         "doc_id is double"),
        ({"doc_id": pa.array([1, 2], pa.int64()), "lang": pa.array([1, 2], pa.int64())},
         "lang is bigint"),
    ],
    ids=["no-lang", "no-doc_id", "string-doc_id", "double-doc_id", "integer-lang"],
)
def test_malformed_skeleton_raises(spark, tmp_path, reader, columns, message):
    """A declared read would turn a missing column into NULLs, and a NULL
    ``lang`` into English pages; the footer check keeps these loud."""
    sf = _skeleton(tmp_path, text=pa.array(["a", "b"]), **columns)
    with pytest.raises(ValueError, match=message):
        reader(spark, sf)


def test_empty_skeleton_directory_raises(spark, tmp_path):
    (tmp_path / "documents.parquet").mkdir()
    with pytest.raises(ValueError, match="no parquet files"):
        corpus.doc_skeleton(spark, str(tmp_path))
