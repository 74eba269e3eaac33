"""Continuous index ingestion: readStream → embed → foreachBatch
upsert into a VectorCollection (streaming/ingest.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from legalchatbot_vectordb_exp_spark.sources.collection import (
    VectorCollection,
)
from legalchatbot_vectordb_exp_spark.streaming.ingest import (
    read_document_stream,
    stream_index_into_collection,
)


def _write_docs(spark, path, rows):
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(path)


def test_stream_index_builds_and_merges(spark, tmp_path):
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    _write_docs(spark, src, [(1, "alpha beta"), (2, "gamma delta")])
    _write_docs(spark, src, [(3, "epsilon zeta")])

    coll = VectorCollection(spark, str(tmp_path / "wh"), "stream_idx")
    seed = spark.createDataFrame(
        [("2", [1.0] + [0.0] * 63)], "id string, vector array<double>"
    )
    coll.create(seed, dim=64)

    q = stream_index_into_collection(
        read_document_stream(spark, src), coll, ckpt, dim=64
    )
    q.awaitTermination(120)

    rows = {r["id"]: r for r in coll.read().collect()}
    # 3 streamed ids; id "2" was overwritten (last-writer-wins), so the
    # seed vector is gone and every vector is a unit embedding
    assert set(rows) == {"1", "2", "3"}
    for r in rows.values():
        norm = sum(x * x for x in r["vector"]) ** 0.5
        assert abs(norm - 1.0) < 1e-9
    assert list(rows["2"]["vector"])[:2] != [1.0, 0.0]

    # late-arriving update: only new offsets process on restart, and the
    # keyed merge is idempotent on the updated id
    _write_docs(spark, src, [(3, "replacement text"), (4, "eta theta")])
    v3_before = list(rows["3"]["vector"])
    q2 = stream_index_into_collection(
        read_document_stream(spark, src), coll, ckpt, dim=64
    )
    q2.awaitTermination(120)

    after = {r["id"]: list(r["vector"]) for r in coll.read().collect()}
    assert set(after) == {"1", "2", "3", "4"}
    assert after["3"] != v3_before  # id 3 re-embedded from new text


def test_changes_feed_streams_one_commit_per_batch_and_resumes(
    spark, tmp_path
):
    """CDF-as-stream (E6 ⨝ E11): each micro-batch carries exactly one
    commit's changes in commit order, and a checkpointed restart after
    new commits processes ONLY the unseen spans (stage_changes_feed is
    idempotent per version)."""
    from legalchatbot_vectordb_exp_spark.sources.versioned import (
        VersionedCollection,
    )
    from legalchatbot_vectordb_exp_spark.streaming.ingest import (
        read_changes_stream,
        stage_changes_feed,
    )

    def _mkv(rows):
        return spark.createDataFrame(
            [(i, [float(i), 1.0, 0.0], lbl) for i, lbl in rows],
            "id long, vector array<double>, label long",
        )

    coll = VersionedCollection(spark, str(tmp_path / "wh"), "cdf")
    coll.create(
        _mkv([(i, 10 * i) for i in range(8)]),
        dim=3,
        metric="dot",
        normalize=False,
    )
    coll.merge(_mkv([(1, 111), (8, 88)]))   # v1: update + insert
    coll.delete_where("id = 2")             # v2: delete

    staging = str(tmp_path / "cdf_log")
    ckpt = str(tmp_path / "cdf_ckpt")
    stage_changes_feed(coll, 0, staging_dir=staging)

    batches: list[tuple[int, set, list]] = []

    def sink(batch, epoch_id):
        rows = batch.select(
            "_commit_version", "id", "_change_type"
        ).collect()
        if rows:
            batches.append(
                (
                    epoch_id,
                    {r["_commit_version"] for r in rows},
                    sorted((r["id"], r["_change_type"]) for r in rows),
                )
            )

    q = (
        read_changes_stream(spark, staging)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # one commit per micro-batch, in commit order
    assert [sorted(vs) for _, vs, _ in batches] == [[1], [2]]
    assert batches[0][2] == [
        (1, "update_postimage"),
        (1, "update_preimage"),
        (8, "insert"),
    ]
    assert batches[1][2] == [(2, "delete")]

    # new commit after the stream stopped: restage (only v3 is added)
    coll.merge(_mkv([(9, 99)]))
    import os

    before = set(os.listdir(staging))
    stage_changes_feed(coll, 0, staging_dir=staging)
    added = set(os.listdir(staging)) - before
    assert added == {"v00000003.parquet"}

    batches.clear()
    q2 = (
        read_changes_stream(spark, staging)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    # checkpointed offsets: ONLY the unseen commit is processed
    assert [sorted(vs) for _, vs, _ in batches] == [[3]]
    assert batches[0][2] == [(9, "insert")]


def test_changes_feed_crash_between_stamp_and_publish_keeps_order(
    spark, tmp_path, monkeypatch
):
    """A crash between the two filesystem steps that publish a staged
    span (stamp its commit-order mtime, rename it into place) must
    never leave a published span with its raw write mtime: the rerun
    completes the log and every span's mtime follows commit order."""
    import os

    from legalchatbot_vectordb_exp_spark.sources.versioned import (
        VersionedCollection,
    )
    from legalchatbot_vectordb_exp_spark.streaming.ingest import (
        stage_changes_feed,
    )

    def _mkv(rows):
        return spark.createDataFrame(
            [(i, [float(i), 1.0, 0.0]) for i in rows],
            "id long, vector array<double>",
        )

    coll = VersionedCollection(spark, str(tmp_path / "wh"), "crash")
    coll.create(_mkv(range(4)), dim=3, metric="dot", normalize=False)
    for i in range(4, 7):
        coll.merge(_mkv([i]))  # v1..v3
    staging = str(tmp_path / "cdf_log")
    victim = os.path.join(staging, "v00000002.parquet")

    real_replace, real_utime = os.replace, os.utime
    steps: list[str] = []

    def crash_on_second_step(fn):
        def wrapped(*args, **kwargs):
            paths = [str(a) for a in args[:2]]
            if any(p.startswith(victim) for p in paths):
                steps.append(fn.__name__)
                if len(steps) == 2:
                    raise RuntimeError("simulated crash")
            return fn(*args, **kwargs)

        return wrapped

    monkeypatch.setattr(os, "replace", crash_on_second_step(real_replace))
    monkeypatch.setattr(os, "utime", crash_on_second_step(real_utime))
    with pytest.raises(RuntimeError, match="simulated crash"):
        stage_changes_feed(coll, 0, staging_dir=staging)
    monkeypatch.undo()
    assert sorted(steps) == ["replace", "utime"]

    stage_changes_feed(coll, 0, staging_dir=staging)
    spans = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    assert spans == [f"v{v:08d}.parquet" for v in (1, 2, 3)]
    mtimes = [os.stat(os.path.join(staging, f)).st_mtime for f in spans]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
