"""Sources/sinks: vector collection DDL/upsert/catalog, CSV roundtrip,
PDF page extraction (fallback kernel), formatted chunk dump."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from legalchatbot_vectordb_exp_spark.sinks.text import write_chunk_dump
from legalchatbot_vectordb_exp_spark.sources.collection import VectorCollection
from legalchatbot_vectordb_exp_spark.sources.csvio import (
    read_cases_csv,
    write_cases_csv,
)
from legalchatbot_vectordb_exp_spark.sources.pdf import read_pdf_pages


def make_df(spark, rows):
    return spark.createDataFrame(rows, ["id", "vector", "text"])


def test_collection_create_upsert_catalog(spark, tmp_path):
    wh = str(tmp_path / "warehouse")
    c = VectorCollection(spark, wh, "chunks")
    df = make_df(spark, [("a", [3.0, 4.0], "t1"), ("b", [1.0, 0.0], "t2")])
    c.create(df, dim=2, metric="cosine")

    assert VectorCollection.list_collections(wh) == ["chunks"]
    assert c.properties["dim"] == 2 and c.properties["metric"] == "cosine"

    got = {r.id: r for r in c.read().collect()}
    # cosine collections are normalized at write time
    assert got["a"].vector == [0.6, 0.8]

    # upsert: replace 'a', add 'c' (last-writer-wins on id)
    c.upsert(make_df(spark, [("a", [0.0, 2.0], "t1v2"), ("c", [1.0, 1.0], "t3")]))
    got = {r.id: r for r in c.read().collect()}
    assert set(got) == {"a", "b", "c"}
    assert got["a"].text == "t1v2" and got["a"].vector == [0.0, 1.0]
    assert c.properties["dim"] == 2  # properties survive the rewrite


def test_collection_rejects_bad_dim_and_dup_ids(spark, tmp_path):
    c = VectorCollection(spark, str(tmp_path), "bad")
    with pytest.raises(ValueError, match="violate dim"):
        c.create(make_df(spark, [("a", [1.0], "t")]), dim=2)
    with pytest.raises(ValueError, match="duplicate ids"):
        c.create(
            make_df(spark, [("a", [1.0, 0.0], "t"), ("a", [0.0, 1.0], "u")]),
            dim=2,
        )


def test_csv_roundtrip_with_unicode(spark, tmp_path):
    path = str(tmp_path / "cases_csv")
    df = spark.createDataFrame(
        [("คำถามแรก, มีลูกน้ำ", "มาตรา 1336", "1319/2512"),
         ("multi\nline", "420", "2/2")],
        ["text", "answers", "case_id"],
    )
    write_cases_csv(df, path)
    back = read_cases_csv(spark, path)
    rows = {r.case_id: r for r in back.collect()}
    assert rows["1319/2512"].text == "คำถามแรก, มีลูกน้ำ"
    assert rows["2/2"].text == "multi\nline"


def test_pdf_pages_fallback_kernel(spark, tmp_path):
    pdf_dir = tmp_path / "pdfs"
    pdf_dir.mkdir()
    (pdf_dir / "doc1.pdf").write_bytes("page one\fpage two\f\f  \fpage five".encode())
    (pdf_dir / "doc2.pdf").write_bytes("solo".encode())
    out = read_pdf_pages(spark, str(pdf_dir)).collect()
    by_file = {}
    for r in out:
        by_file.setdefault(os.path.basename(r.path), []).append((r.page, r.text))
    # empty/whitespace-only pages dropped, 1-based page numbers kept
    assert sorted(by_file["doc1.pdf"]) == [(1, "page one"), (2, "page two"), (5, "page five")]
    assert by_file["doc2.pdf"] == [(1, "solo")]


def test_multi_file_glob_load_runs_no_listing_job(spark, tmp_path):
    """40 files exceed Spark's default parallel-discovery threshold
    (32); the local session lists them driver-side, so building the
    page plan runs no Spark job at all."""
    pdf_dir = tmp_path / "many"
    pdf_dir.mkdir()
    for i in range(40):
        (pdf_dir / f"doc_{i:02d}.pdf").write_bytes(f"page {i}".encode())
    sc = spark.sparkContext
    group = f"glob-listing-{os.getpid()}"
    sc.setJobGroup(group, group)
    try:
        pages = read_pdf_pages(spark, str(pdf_dir / "*.pdf"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert pages.count() == 40


def test_chunk_dump_format(spark, tmp_path):
    path = str(tmp_path / "dump")
    df = spark.createDataFrame(
        [(1, 0, "hello"), (1, 1, "world"), (2, 0, "bye")],
        ["page", "chunk_index", "text"],
    )
    write_chunk_dump(df, path)
    files = [f for f in os.listdir(path) if f.startswith("part-")]
    content = open(os.path.join(path, files[0])).read()
    assert "[Page 1 | Chunk 0]\nhello\n" in content
    assert content.index("Chunk 0]\nhello") < content.index("Chunk 1]\nworld")


def test_jsonl_roundtrip_and_corrupt_quarantine(spark, tmp_path):
    from legalchatbot_vectordb_exp_spark.sources.jsonl import (
        DOCUMENTS_SCHEMA,
        quarantine_corrupt,
        read_jsonl,
        write_jsonl,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta", "en", "web", 10),
            (2, "gamma", "de", "book", 5),
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, out, shards=2)
    back = read_jsonl(spark, out)
    clean, corrupt = quarantine_corrupt(back)
    assert corrupt.count() == 0
    assert sorted(tuple(r) for r in clean.collect()) == sorted(
        tuple(r) for r in docs.collect()
    )

    # inject a corrupt shard: one bad line, one good line.  Drop the
    # cached first read: Spark's cache is keyed on the logical plan, so
    # an identical re-read after the files changed would serve the
    # stale cached rows.
    back.unpersist()
    bad = tmp_path / "docs_jsonl" / "zz-bad.json"
    bad.write_text('{"doc_id": 3, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}\n{not json\n')
    back2 = read_jsonl(spark, out)
    clean2, corrupt2 = quarantine_corrupt(back2)
    assert clean2.count() == 3
    assert corrupt2.count() == 1
    assert "{not json" in corrupt2.collect()[0][0]
