"""Every collection write runs its source once.

A write that validates, samples or probes its input before writing
it would otherwise re-run the whole lazy source — PDF decode, the
embedding UDF — once per Spark action.  A counting embedder tallies
the rows each write embeds across all Python workers; the tally must
equal the rows the write took in.  Validation keeps its error
contract, a rejected create leaves the old collection readable, and
no write leaves a staging directory or a cached frame behind.
"""

from __future__ import annotations

import functools
import os
import uuid

import pyspark.sql.functions as F
import pytest
from pyspark import StorageLevel

from legalchatbot_vectordb_exp_spark.ml.embed import (
    CountingEmbedder,
    embed_text_udf,
)
from legalchatbot_vectordb_exp_spark.sources.collection import (
    VectorCollection,
)
from legalchatbot_vectordb_exp_spark.sources.versioned import (
    VersionedCollection,
)

DIM = 8


class Source:
    """Embedded rows ``id, text, vector`` whose embedding calls are
    counted in a per-test log file."""

    def __init__(self, spark, tmp_path):
        self.spark = spark
        self.log = str(tmp_path / f"embedded-{uuid.uuid4().hex}.log")
        open(self.log, "w").close()
        self.embed = embed_text_udf(
            dim=DIM,
            factory=functools.partial(CountingEmbedder, self.log, DIM),
        )

    def rows(self, lo: int, hi: int, dim: int = DIM, dupe: bool = False):
        base = self.spark.range(lo, hi, numPartitions=4)
        ids = (F.col("id") % 3) if dupe else F.col("id")
        df = base.select(
            ids.alias("id"),
            F.concat(F.lit("text "), F.col("id").cast("string")).alias(
                "text"
            ),
        ).withColumn("vector", self.embed("text"))
        if dim < DIM:
            df = df.withColumn("vector", F.slice("vector", 1, dim))
        return df

    def embedded(self) -> int:
        with open(self.log) as f:
            n = sum(1 for _ in f)
        open(self.log, "w").close()
        return n


@pytest.fixture
def src(spark, tmp_path):
    return Source(spark, tmp_path)


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture
def clean(spark, tmp_path):
    """After the test: no staging directory under the warehouse and no
    cached RDD the test's writes added."""
    before = _persistent_rdds(spark)
    yield
    leftovers = [
        os.path.join(root, d)
        for root, dirs, _ in os.walk(tmp_path)
        for d in dirs
        if ".staging" in d
    ]
    assert leftovers == []
    assert _persistent_rdds(spark) == before


def _uncached(df) -> bool:
    return df.storageLevel == StorageLevel.NONE


def _ids(coll) -> list[int]:
    return sorted(r["id"] for r in coll.read().select("id").collect())


# ------------------------------------------------------ VectorCollection


def test_create_embeds_each_row_once(spark, tmp_path, src, clean):
    df = src.rows(0, 40)
    coll = VectorCollection(spark, str(tmp_path / "wh"), "c").create(df, DIM)
    assert src.embedded() == 40
    assert _ids(coll) == list(range(40))
    assert _uncached(df)


def test_upsert_embeds_each_row_once(spark, tmp_path, src, clean):
    coll = VectorCollection(spark, str(tmp_path / "wh"), "u")
    coll.create(src.rows(0, 30), DIM)
    src.embedded()
    df = src.rows(20, 50)
    coll.upsert(df)
    assert src.embedded() == 30
    assert _ids(coll) == list(range(50))
    assert _uncached(df)


def test_ivf_writes_embed_each_row_once(spark, tmp_path, src, clean):
    df = src.rows(0, 60)
    coll = VectorCollection(spark, str(tmp_path / "wh"), "i")
    coll.create_ivf(df, DIM, n_clusters=4, kmeans_iters=1)
    assert src.embedded() == 60
    assert _ids(coll) == list(range(60))
    assert _uncached(df)
    df = src.rows(50, 70)
    coll.upsert_ivf(df)
    assert src.embedded() == 20
    assert _ids(coll) == list(range(70))
    assert _uncached(df)


def test_create_multi_embeds_each_row_once(spark, tmp_path, src, clean):
    df = src.rows(0, 30)
    coll = VectorCollection(spark, str(tmp_path / "wh"), "n")
    coll.create_multi(df, {"vector": {"dim": DIM}})
    assert src.embedded() == 30
    assert _ids(coll) == list(range(30))
    assert _uncached(df)


def test_caller_cache_is_left_in_place(spark, tmp_path, src, clean):
    df = src.rows(0, 40).cache()
    try:
        VectorCollection(spark, str(tmp_path / "wh"), "k").create_ivf(
            df, DIM, n_clusters=2
        )
        assert src.embedded() == 40
        assert not _uncached(df)
    finally:
        df.unpersist()


def test_rejected_create_keeps_the_old_collection(
    spark, tmp_path, src, clean
):
    coll = VectorCollection(spark, str(tmp_path / "wh"), "r")
    coll.create(src.rows(0, 10), DIM)
    with pytest.raises(ValueError, match=r"^collection r: 5 rows violate dim=8$"):
        coll.create(src.rows(100, 105, dim=DIM - 1), DIM)
    with pytest.raises(ValueError, match=r"^collection r: 27 duplicate ids$"):
        coll.create(src.rows(100, 130, dupe=True), DIM)
    assert _ids(coll) == list(range(10))
    assert coll.properties["dim"] == DIM


def test_rejected_upsert_and_ivf_keep_the_error_contract(
    spark, tmp_path, src, clean
):
    coll = VectorCollection(spark, str(tmp_path / "wh"), "e")
    coll.create(src.rows(0, 10), DIM)
    with pytest.raises(ValueError, match=r"^collection e: 4 rows violate dim=8$"):
        coll.upsert(src.rows(5, 9, dim=DIM - 1))
    with pytest.raises(ValueError, match=r"^collection e: 7 duplicate ids$"):
        coll.upsert(src.rows(0, 10, dupe=True))
    assert _ids(coll) == list(range(10))
    ivf = VectorCollection(spark, str(tmp_path / "wh"), "ivf")
    with pytest.raises(ValueError, match=r"^collection ivf: 7 duplicate ids$"):
        ivf.create_ivf(src.rows(0, 10, dupe=True), DIM, n_clusters=2)


# --------------------------------------------------- VersionedCollection


@pytest.mark.parametrize("n", [300, 1100], ids=["small", "large"])
@pytest.mark.parametrize("cluster_files", [None, 4], ids=["plain", "clustered"])
@pytest.mark.parametrize("normalize", [True, False], ids=["cos", "raw"])
def test_versioned_create_embeds_each_row_once(
    spark, tmp_path, src, clean, n, cluster_files, normalize
):
    df = src.rows(0, n)
    coll = VersionedCollection(spark, str(tmp_path / "wh"), "v")
    coll.create(df, DIM, normalize=normalize, cluster_files=cluster_files)
    assert src.embedded() == n
    assert coll.read().count() == n
    if cluster_files is not None:
        assert len(coll.manifest(0)["files"]) == cluster_files
    assert _uncached(df)


@pytest.mark.parametrize("n", [20, 1100], ids=["small", "large"])
def test_versioned_create_keeps_the_error_contract(
    spark, tmp_path, src, clean, n
):
    coll = VersionedCollection(spark, str(tmp_path / "wh"), "ve")
    with pytest.raises(ValueError, match=rf"^collection ve: {n} rows violate dim=8$"):
        coll.create(src.rows(0, n, dim=DIM - 2), DIM, cluster_files=4)
    with pytest.raises(ValueError, match=rf"^collection ve: {n - 3} duplicate ids$"):
        coll.create(src.rows(0, n, dupe=True), DIM, cluster_files=4)
    assert not coll.exists()


@pytest.mark.parametrize("normalize", [True, False], ids=["cos", "raw"])
def test_small_merge_embeds_each_row_once(
    spark, tmp_path, src, clean, normalize
):
    coll = VersionedCollection(spark, str(tmp_path / "wh"), "m")
    coll.create(src.rows(0, 40), DIM, normalize=normalize, cluster_files=2)
    src.embedded()
    df = src.rows(30, 55)
    coll.merge(df)
    assert src.embedded() == 25
    got = {r["id"]: r["vector"] for r in coll.read().collect()}
    assert sorted(got) == list(range(55))
    # the merged rows carry the same vectors a create writes
    ref = VersionedCollection(spark, str(tmp_path / "wh"), "ref")
    ref.create(src.rows(30, 55), DIM, normalize=normalize)
    for r in ref.read().collect():
        assert list(got[r["id"]]) == list(r["vector"])
    assert _uncached(df)


def test_small_merge_mor_embeds_each_row_once(spark, tmp_path, src, clean):
    coll = VersionedCollection(spark, str(tmp_path / "wh"), "mor")
    coll.create(src.rows(0, 40), DIM, cluster_files=2)
    src.embedded()
    df = src.rows(30, 55)
    coll.merge_mor(df)
    assert src.embedded() == 25
    assert _ids(coll) == list(range(55))
    assert _uncached(df)
