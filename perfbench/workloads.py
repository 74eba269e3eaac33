"""The three workloads: ``ingest``, ``live_corpus`` and ``query_mix``.

Each workload has four phases, driven by ``run.py``:

* ``inputs()``  — write the seeded inputs and the benchmark's own
  expected results (not timed, not part of set-up);
* ``setup()``   — the program's one-time work before steady state
  (timed into ``setup_s``);
* ``step(i)``   — one closed-loop operation; returns an ``Op`` whose
  ``seconds`` covers only the calls into the package;
* ``check(op)`` — the correctness gate for that operation, outside
  the timer; returns a failure message or ``None``.

Layer boundaries are wrapped in ``ctx.layer(name)``: a span in the
traced run, a job group for Spark's counters, nothing otherwise.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import datagen

EMBED_DIM = 64


@dataclass
class Op:
    """One timed operation.  ``items`` counts what it delivered (chunks,
    answered questions, queries); ``payload`` is what its check needs
    (ingest: the collection; read: questions and rows; write: the
    logical bytes the user changed); ``layers`` holds the traced run's
    prefix timings and counts."""

    kind: str
    seconds: float
    items: int = 0
    payload: object = None
    layers: dict = field(default_factory=dict)

    def span(self, name: str) -> float:
        """Traced: seconds spent in spans called ``name`` in this op."""
        return self.spans.get(name, 0.0)


def hash_vectors(texts: list[str]) -> np.ndarray:
    """The package's default embedder, evaluated in the benchmark's own
    process, unit-normalised the way the embedding UDF does."""
    from legalchatbot_vectordb_exp_spark.ml.embed import _HashEmbedder

    arr = _HashEmbedder(EMBED_DIM).encode(texts)
    norms = np.sqrt((arr * arr).sum(axis=1))
    norms[norms == 0.0] = 1.0
    return arr / norms[:, None]


def py_chunks(text: str, min_len: int = 50) -> list[tuple[int, str]]:
    """``functions.text.paragraph_chunks`` recomputed in pure Python:
    split on blank lines, strip, enumerate the non-empty paragraphs,
    keep those of at least ``min_len`` characters."""
    parts = [p.strip() for p in text.split("\n\n")]
    kept = [p for p in parts if p]
    return [(i, p) for i, p in enumerate(kept) if len(p) >= min_len]


def median0(xs) -> float:
    """Median, or 0.0 when there are no samples (a kind of operation
    that failed every time)."""
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------------ ingest


class Ingest:
    """PDF → paragraph chunks → embeddings → new vector collection."""

    name = "ingest"
    PRIMARY = ("pass",)  # op kinds whose medians make one unit of work
    SCALED = ("N_PDFS",)
    N_PDFS = 40
    PAGES = 4
    PARAS = 5
    SAMPLE = 8
    # the cold pass and two more: pass time still falls over the first
    # few passes of a session
    WARM_PASSES = 3

    def __init__(self, ctx):
        self.ctx = ctx

    def inputs(self) -> None:
        from legalchatbot_vectordb_exp_spark.sources.pdf_synth import (
            encode_pdf_pages,
        )

        ctx = self.ctx
        n = self.N_PDFS * self.PAGES * self.PARAS
        docs = datagen.documents(ctx.rng, n)
        texts = [docs["text"][int(k)].as_py() for k in ctx.rng.permutation(n)]
        self.pdf_dir = os.path.join(ctx.root, "pdfs")
        os.makedirs(self.pdf_dir)
        self.expected: dict[int, str] = {}
        per_pdf = self.PAGES * self.PARAS
        for p in range(self.N_PDFS):
            block = texts[p * per_pdf:(p + 1) * per_pdf]
            pages = ["\n\n".join(block[g * self.PARAS:(g + 1) * self.PARAS])
                     for g in range(self.PAGES)]
            mode = ("latin1", "cmap")[p % 2]
            with open(os.path.join(self.pdf_dir, f"doc_{p:04d}.pdf"), "wb") as f:
                f.write(encode_pdf_pages(pages, mode=mode))
            for g, page in enumerate(pages, 1):
                for idx, chunk in py_chunks(page):
                    self.expected[p * 100_000 + g * 1000 + idx] = chunk
        ids = sorted(self.expected)
        self.sample_ids = [ids[int(k)] for k in
                           ctx.rng.choice(len(ids), self.SAMPLE, replace=False)]
        self.sample_vecs = dict(zip(
            self.sample_ids,
            hash_vectors([self.expected[i] for i in self.sample_ids])))

    def setup(self) -> tuple[int, list[str]]:
        from legalchatbot_vectordb_exp_spark.ml.embed import embed_text_udf

        self.embed = embed_text_udf(dim=EMBED_DIM)
        self.warehouse = os.path.join(self.ctx.root, "warehouse")
        msgs = [self.check(self.step(-1 - k)) for k in range(self.WARM_PASSES)]
        return self.WARM_PASSES, [m for m in msgs if m]

    def _pipeline(self, layer):
        import pyspark.sql.functions as F

        from legalchatbot_vectordb_exp_spark.functions.text import (
            paragraph_chunks,
        )
        from legalchatbot_vectordb_exp_spark.sources.pdf import read_pdf_pages

        spark = self.ctx.spark
        with layer("sources.pdf"):
            pages = read_pdf_pages(spark, os.path.join(self.pdf_dir, "*.pdf"))
        with layer("functions.text"):
            chunks = paragraph_chunks(pages)
        with layer("ml.embed.bulk"):
            doc_no = F.regexp_extract("path", r"doc_(\d+)\.pdf", 1).cast("long")
            rows = chunks.select(
                (doc_no * 100_000 + F.col("page") * 1000
                 + F.col("chunk_index")).alias("id"),
                F.col("chunk_text").alias("text"),
                "page",
                "chunk_index",
                self.embed(F.col("chunk_text")).alias("vector"),
            )
        return pages, chunks, rows

    def step(self, i: int) -> Op:
        from legalchatbot_vectordb_exp_spark.sources.collection import (
            VectorCollection,
        )

        ctx = self.ctx
        name = f"pass{i:+d}"
        t0 = time.perf_counter()
        pages, chunks, rows = self._pipeline(ctx.layer)
        with ctx.layer("sources.collection.create"):
            coll = VectorCollection(ctx.spark, self.warehouse, name).create(
                rows, dim=EMBED_DIM)
        seconds = time.perf_counter() - t0
        op = Op("pass", seconds, len(self.expected), coll)
        if ctx.tracer.enabled:
            op.layers = self._prefixes(pages, chunks, rows)
        return op

    def _prefixes(self, pages, chunks, rows) -> dict:
        """Materialise each pipeline prefix; a layer's execution cost is
        the difference between consecutive prefixes."""
        t0 = time.perf_counter()
        n_pages = pages.count()
        t1 = time.perf_counter()
        n_chunks = chunks.count()
        t2 = time.perf_counter()
        rows.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        return {"sources.pdf.exec_s": t1 - t0,
                "functions.text.exec_s": (t2 - t1) - (t1 - t0),
                "ml.embed.exec_s": (t3 - t2) - (t2 - t1),
                "sources.pdf.pages": n_pages,
                "functions.text.chunks": n_chunks}

    def check(self, op: Op) -> str | None:
        coll = op.payload
        try:
            df = coll.read()
            n = df.count()
            if n != len(self.expected):
                return f"{coll.name}: {n} rows, expected {len(self.expected)}"
            got = {r["id"]: r for r in
                   df.filter(df.id.isin(self.sample_ids)).collect()}
            for i in self.sample_ids:
                r = got.get(i)
                if r is None or r["text"] != self.expected[i]:
                    return f"{coll.name}: row {i} missing or text differs"
                if not np.allclose(r["vector"], self.sample_vecs[i],
                                   rtol=0, atol=1e-9):
                    return f"{coll.name}: vector of row {i} differs"
            return None
        finally:
            shutil.rmtree(coll.path, ignore_errors=True)

    def layers(self, ops: list[Op]) -> dict:
        def m(fn):
            return median0(fn(o) for o in ops)

        return {
            "sources.pdf.s": m(lambda o: o.span("sources.pdf")
                               + o.layers["sources.pdf.exec_s"]),
            "sources.pdf.pages": m(lambda o: o.layers["sources.pdf.pages"]),
            "functions.text.chunk_s": m(
                lambda o: o.span("functions.text")
                + o.layers["functions.text.exec_s"]),
            "functions.text.chunks": m(
                lambda o: o.layers["functions.text.chunks"]),
            "ml.embed.bulk_s": m(lambda o: o.span("ml.embed.bulk")
                                 + o.layers["ml.embed.exec_s"]),
            "sources.collection.create_s": m(
                lambda o: o.span("sources.collection.create")),
            "sources.collection.create_jobs": m(
                lambda o: o.spark["sources.collection.create"]["jobs"]),
        }


# -------------------------------------------------------------- live_corpus


class LiveCorpus:
    """RAG batches over a versioned collection amended between reads."""

    name = "live_corpus"
    PRIMARY = ("read",)
    SCALED = ("N_DOCS",)
    N_DOCS = 1500
    QUESTIONS = 8
    K = 5
    BUDGET = 800
    READS_PER_WRITE = 2
    # one rotation of write kinds; a run stops only after whole rotations
    WRITES = ("merge", "delete_mor", "update", "delete_cow", "compact")
    MERGE_ROWS = 50
    DELETE_SPAN = 24
    UPDATE_SPAN = 30
    FILES = 8
    WARM_READS = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.writes = 0
        self.fault_armed = ctx.fault == "drop_write"

    # the mirror: id -> [text, page, chunk_index, tag]; vectors by id
    def inputs(self) -> None:
        ctx = self.ctx
        docs = datagen.write_tables(ctx.data_dir, ctx.seed,
                                    n_docs=self.N_DOCS)["documents"]
        self.mirror: dict[int, list] = {}
        for doc_id, text in zip(docs["doc_id"].to_pylist(),
                                docs["text"].to_pylist()):
            for idx, chunk in py_chunks(text):
                rid = doc_id * 10 + idx
                self.mirror[rid] = [chunk, rid, idx, 0]
        self.vecs = dict(zip(self.mirror, hash_vectors(
            [v[0] for v in self.mirror.values()])))
        self.next_id = max(self.mirror) + 1
        self.recent: list[str] = []
        self.write_rng = np.random.default_rng(ctx.seed + 1)

    def setup(self) -> tuple[int, list[str]]:
        import pyspark.sql.functions as F

        from legalchatbot_vectordb_exp_spark.functions.text import (
            paragraph_chunks,
        )
        from legalchatbot_vectordb_exp_spark.io_tables import load_table
        from legalchatbot_vectordb_exp_spark.ml.embed import embed_text_udf
        from legalchatbot_vectordb_exp_spark.sources.versioned import (
            VersionedCollection,
        )

        ctx = self.ctx
        self.embed = embed_text_udf(dim=EMBED_DIM)
        docs = load_table(ctx.spark, ctx.data_dir, "documents")
        rid = F.col("doc_id") * 10 + F.col("chunk_index")
        rows = paragraph_chunks(docs).select(
            rid.alias("id"),
            F.col("chunk_text").alias("text"),
            rid.cast("int").alias("page"),
            F.col("chunk_index").cast("int").alias("chunk_index"),
            F.lit(0).alias("tag"),
            self.embed(F.col("chunk_text")).alias("vector"),
        )
        self.coll = VersionedCollection(
            ctx.spark, os.path.join(ctx.root, "warehouse"), "live")
        self.coll.create(rows, dim=EMBED_DIM, cluster_files=self.FILES)
        self.seen_files: set[str] = set()
        self._written_bytes()
        # reads before timing: the first RAG batches pay plan-cache
        # and worker warm-up that later batches do not
        msgs = [self.check(self._read(-1)) for _ in range(self.WARM_READS)]
        return self.WARM_READS, [m for m in msgs if m]

    def enough(self, attempted: int) -> bool:
        """Stop only after whole rotations of write kinds, so every run
        does the same mix of reads and writes."""
        cycle = self.READS_PER_WRITE + 1
        return attempted % (cycle * len(self.WRITES)) == 0

    # ---------------------------------------------------------- operations

    def step(self, i: int) -> Op:
        before = dict(self.coll.io_counters)
        if i % (self.READS_PER_WRITE + 1) == 0:
            op = self._write()
        else:
            op = self._read(i)
        if self.ctx.tracer.enabled:
            op.layers["io"] = {k: v - before.get(k, 0)
                               for k, v in self.coll.io_counters.items()}
            if op.kind != "read":
                op.layers["written_bytes"] = self._written_bytes()
        return op

    def _written_bytes(self) -> int:
        """Bytes of files that appeared under the table since last call."""
        new = 0
        for d, _, files in os.walk(self.coll.path):
            for f in files:
                p = os.path.join(d, f)
                if p not in self.seen_files:
                    self.seen_files.add(p)
                    new += os.path.getsize(p)
        return new

    def _questions(self) -> list[tuple[int, str, str]]:
        """(query_id, question, answers).  Half are texts of rows: the
        last two merged (so reads check read-your-writes) and random
        live ones; half are fresh word sequences."""
        rng = self.ctx.rng
        live = list(self.mirror)
        texts = self.recent[-2:]
        while len(texts) < self.QUESTIONS // 2:
            texts.append(self.mirror[live[int(rng.integers(0, len(live)))]][0])
        qs = [(q, t, t) for q, t in enumerate(texts)]
        vocab = datagen.VOCAB
        for q in range(len(qs), self.QUESTIONS):
            words = [vocab[int(k)] for k in rng.integers(0, len(vocab), 12)]
            qs.append((q, " ".join(words), ""))
        return qs

    def _read(self, i: int) -> Op:
        import pyspark.sql.functions as F

        from legalchatbot_vectordb_exp_spark.ml.generate import (
            generate_rag_answers,
        )
        from legalchatbot_vectordb_exp_spark.operators.context import (
            assemble_context,
        )
        from legalchatbot_vectordb_exp_spark.operators.evaluate import (
            with_recall_mrr,
        )
        from legalchatbot_vectordb_exp_spark.operators.topk import (
            topk_search_batch,
        )

        ctx, spark = self.ctx, self.ctx.spark
        qs = self._questions()
        t0 = time.perf_counter()
        with ctx.layer("sources.versioned.read"):
            snap = self.coll.read()
        with ctx.layer("ml.embed.query"):
            qdf = spark.createDataFrame(
                qs, "query_id int, question string, answers string")
            qv = qdf.select("query_id", self.embed("question").alias("query_vec"))
        with ctx.layer("operators.topk"):
            ranked = topk_search_batch(
                snap.select("id", "text", "page", "chunk_index", "tag",
                            "vector"),
                qv, k=self.K, vec_col="vector", id_col="id")
        with ctx.layer("operators.context"):
            context = assemble_context(ranked, budget=self.BUDGET, id_col="id")
        with ctx.layer("ml.generate"):
            answered = generate_rag_answers(
                qdf.join(context, "query_id"), question_col="question")
        with ctx.layer("operators.evaluate"):
            scored = with_recall_mrr(answered, k=self.K)
        with ctx.layer("rag.collect"):
            hits = ranked.groupBy("query_id").agg(F.sort_array(F.collect_list(
                F.struct("rank", "id", "score", "tag"))).alias("hits"))
            rows = scored.join(hits, "query_id").collect()
        seconds = time.perf_counter() - t0
        op = Op("read", seconds, len(qs), (qs, rows))
        if ctx.tracer.enabled:
            op.layers = self._read_prefixes(snap, qv, ranked, context,
                                            answered, scored)
        return op

    def _read_prefixes(self, snap, qv, ranked, context, answered,
                       scored) -> dict:
        def run(df):
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t

        t_snap = time.perf_counter()
        n_rows = snap.count()
        t_snap = time.perf_counter() - t_snap
        t_qv = run(qv)
        t_rank, t_ctx, t_ans, t_score = (
            run(ranked), run(context), run(answered), run(scored))
        scored_rows = n_rows * self.QUESTIONS
        return {"sources.versioned.scan_s": t_snap,
                "ml.embed.query.exec_s": t_qv,
                "operators.topk.exec_s": t_rank - t_snap - t_qv,
                "operators.context.exec_s": t_ctx - t_rank,
                "ml.generate.exec_s": t_ans - t_ctx,
                "operators.evaluate.exec_s": t_score - t_ans,
                "operators.topk.rows_scored": scored_rows,
                "operators.topk.kept_ratio":
                    self.K * self.QUESTIONS / max(scored_rows, 1)}

    def _write(self) -> Op:
        kind = self.WRITES[self.writes % len(self.WRITES)]
        self.writes += 1
        if kind == "merge":
            return self._merge()
        if kind == "update":
            return self._update()
        if kind == "compact":
            return self._compact()
        return self._delete(kind.removeprefix("delete_"))

    def _timed(self, kind, fn, *args, user_bytes: int = 0) -> Op:
        """A write; ``payload`` is the logical bytes the user changed."""
        t0 = time.perf_counter()
        with self.ctx.layer(f"sources.versioned.{kind}"):
            fn(*args)
        return Op(kind, time.perf_counter() - t0, 0, user_bytes)

    @staticmethod
    def _row_bytes(text: str) -> int:
        # id + page + chunk_index + tag + vector + text
        return 8 + 4 + 4 + 4 + 8 * EMBED_DIM + len(text.encode())

    def _compact(self) -> Op:
        t0 = time.perf_counter()
        with self.ctx.layer("sources.versioned.compact"):
            self.coll.compact()
        with self.ctx.layer("sources.versioned.vacuum"):
            self.coll.vacuum(keep_last=2, min_file_age_ms=0)
        return Op("compact", time.perf_counter() - t0, 0, 0)

    def _merge(self) -> Op:
        rng, ctx = self.write_rng, self.ctx
        live = sorted(self.mirror)
        upd = [live[int(k)] for k in
               rng.choice(len(live), self.MERGE_ROWS * 3 // 5, replace=False)]
        new = list(range(self.next_id, self.next_id
                         + self.MERGE_ROWS - len(upd)))
        self.next_id += len(new)
        vocab = datagen.VOCAB
        rows = []
        for rid in upd + new:
            words = [vocab[int(k)] for k in rng.integers(0, len(vocab), 14)]
            text = f"amended {self.writes} section {int(rng.integers(1, 900))} " + \
                " ".join(words)
            rows.append((rid, text, rid, 0, 0))
        src = ctx.spark.createDataFrame(
            rows, "id long, text string, page int, chunk_index int, tag int")
        src = src.withColumn("vector", self.embed("text"))
        op = self._timed("merge", self.coll.merge, src, user_bytes=sum(
            self._row_bytes(r[1]) for r in rows))
        vecs = hash_vectors([r[1] for r in rows])
        for r, v in zip(rows, vecs):
            self.mirror[r[0]] = list(r[1:])
            self.vecs[r[0]] = v
        self.recent.extend(r[1] for r in rows)
        if self.fault_armed:  # self-test: forget one acknowledged row
            self.fault_armed = False
            del self.mirror[rows[-1][0]]
        return op

    def _id_range(self, span: int) -> tuple[int, int]:
        live = sorted(self.mirror)
        lo = live[int(self.write_rng.integers(0, len(live)))]
        return lo, lo + span

    def _delete(self, mode: str) -> Op:
        lo, hi = self._id_range(self.DELETE_SPAN)
        gone = [r for r in self.mirror if lo <= r < hi]
        op = self._timed("delete", self.coll.delete_where,
                         f"id >= {lo} AND id < {hi}", 3, mode,
                         user_bytes=8 * len(gone))
        for r in gone:
            del self.mirror[r]
        return op

    def _update(self) -> Op:
        lo, hi = self._id_range(self.UPDATE_SPAN)
        hit = [r for r in self.mirror if lo <= r < hi]
        op = self._timed("update", self.coll.update_where,
                         f"id >= {lo} AND id < {hi}", {"tag": "tag + 1"},
                         user_bytes=sum(self._row_bytes(self.mirror[r][0])
                                        for r in hit))
        for r in hit:
            self.mirror[r][3] += 1
        return op

    # --------------------------------------------------------------- check

    def expected(self, questions: list[str]) -> list[list[tuple[int, float]]]:
        """Exact top-k over the mirror: score desc, id asc."""
        ids = np.fromiter(self.mirror, dtype=np.int64, count=len(self.mirror))
        mat = np.stack([self.vecs[int(i)] for i in ids])
        out = []
        for qv in hash_vectors(questions):
            scores = mat @ qv
            order = np.lexsort((ids, -scores))[: self.K]
            out.append([(int(ids[j]), float(scores[j])) for j in order])
        return out

    def _context(self, hits: list[tuple[int, float]]) -> str:
        from legalchatbot_vectordb_exp_spark.operators.context import SEPARATOR

        parts, used = [], 0
        for rid, _ in hits:
            text, page, chunk, _tag = self.mirror[rid]
            txt = text.strip()
            if not txt or used >= self.BUDGET:
                continue
            part = txt[: self.BUDGET - used]
            used += len(txt)
            parts.append(f"[Page {page} | Chunk {chunk}]\n{part}")
        return SEPARATOR.join(parts)

    def check(self, op: Op) -> str | None:
        if op.kind != "read":
            return None
        from legalchatbot_vectordb_exp_spark.ml.generate import _fake_generate

        qs, rows = op.payload
        by_q = {r["query_id"]: r for r in rows}
        if sorted(by_q) != [q for q, _, _ in qs]:
            return f"read returned queries {sorted(by_q)}"
        for (qid, question, answers), want in zip(
                qs, self.expected([q for _, q, _ in qs])):
            r = by_q[qid]
            got = [(h["id"], h["score"], h["tag"]) for h in r["hits"]]
            if [g[0] for g in got] != [w[0] for w in want]:
                return f"q{qid}: top-{self.K} ids {got} != mirror {want}"
            for (gid, gs, gtag), (_, ws) in zip(got, want):
                if abs(gs - ws) > 1e-9 or gtag != self.mirror[gid][3]:
                    return f"q{qid}: row {gid} score/tag differs from mirror"
            ctx_text = self._context(want)
            if r["context"] != ctx_text:
                return f"q{qid}: context differs from mirror"
            if r["predicted_law"] != _fake_generate(question, ctx_text):
                return f"q{qid}: generated answer differs"
            gold = list(dict.fromkeys(re.findall("[0-9]+", answers)))
            pred = re.findall("[0-9]+", r["predicted_law"])[: self.K]
            recall = (len(set(gold) & set(pred)) / len(gold)) if gold else 0.0
            first = [i for i, p in enumerate(pred, 1) if p in gold]
            mrr = 1.0 / first[0] if first else 0.0
            if abs(r["recall_at_k"] - recall) > 1e-12 or \
                    abs(r["mrr_at_k"] - mrr) > 1e-12:
                return f"q{qid}: recall/mrr differ from mirror"
        return None

    def report(self, ops: list[Op]) -> dict:
        """Figures printed beside the end-to-end metrics."""
        reads = [o.seconds for o in ops if o.kind == "read"]
        writes = [o.seconds for o in ops if o.kind != "read"]
        out = {"live_write_p50_s": (median0(writes), "s", len(writes))}
        tail = tail_percentile(reads)
        if tail:
            out[f"rag_batch_p{tail[0]}_s"] = (tail[1], "s", len(reads))
        out["live_space_amp"] = (self.space_amp(), "ratio", 1)
        return out

    def layers(self, ops: list[Op]) -> dict:
        reads = [o for o in ops if o.kind == "read"]
        writes = [o for o in ops if o.kind != "read"]

        def m(fn, among=reads):
            return median0(fn(o) for o in among)

        def w(kind, span):
            return m(lambda o: o.span(span), [o for o in writes
                                              if o.kind == kind])

        def exec_plus_build(layer, key=None):
            return m(lambda o: o.span(layer)
                     + o.layers[key or f"{layer}.exec_s"])

        out = {
            "ml.embed.query_s": exec_plus_build("ml.embed.query"),
            "operators.topk.s": exec_plus_build("operators.topk"),
            "operators.topk.rows_scored": m(
                lambda o: o.layers["operators.topk.rows_scored"]),
            "operators.topk.kept_ratio": m(
                lambda o: o.layers["operators.topk.kept_ratio"]),
            "operators.context.s": exec_plus_build("operators.context"),
            "ml.generate.s": exec_plus_build("ml.generate"),
            "operators.evaluate.s": exec_plus_build("operators.evaluate"),
            "sources.versioned.read_build_s": m(
                lambda o: o.span("sources.versioned.read")),
            "sources.versioned.scan_s": m(
                lambda o: o.layers["sources.versioned.scan_s"]),
            "sources.versioned.merge_s": w("merge", "sources.versioned.merge"),
            "sources.versioned.delete_s": w("delete",
                                            "sources.versioned.delete"),
            "sources.versioned.update_s": w("update",
                                            "sources.versioned.update"),
            "sources.versioned.compact_s": w("compact",
                                             "sources.versioned.compact"),
            "sources.versioned.vacuum_s": w("compact",
                                            "sources.versioned.vacuum"),
        }
        for side, among in (("read", reads), ("write", writes)):
            for c in ("manifest_reads", "listdirs", "checkpoint_reads",
                      "data_writes"):
                out[f"sources.versioned.{side}.{c}"] = (
                    sum(o.layers["io"].get(c, 0) for o in among)
                    / max(len(among), 1))
        m_latest = self.coll.manifest(self.coll.latest_version())
        user = sum(o.payload for o in writes)
        out.update({
            "sources.versioned.files_live": len(m_latest["files"]),
            "sources.versioned.dv_entries_live": len(m_latest.get("dv") or {}),
            "sources.versioned.bytes_written_per_user_byte":
                sum(o.layers["written_bytes"] for o in writes) / max(user, 1),
            "sources.versioned.space_amp": self.space_amp(),
        })
        return out

    def space_amp(self) -> float:
        m = self.coll.manifest(self.coll.latest_version())
        live = sum(os.path.getsize(os.path.join(self.coll.path, f))
                   for f in list(m["files"]) + list((m.get("dv") or {})))
        return dir_bytes(self.coll.path) / live


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def tail_percentile(xs: list[float]) -> tuple[int, float] | None:
    """Highest whole percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 20:
        return None
    xs = sorted(xs)
    pct = int(100 * (n - 10) / n)
    return pct, xs[max(0, int(np.ceil(pct / 100 * n)) - 1)]


# ---------------------------------------------------------------- query_mix

QUERY_MIX = (
    "revenue_by_nation", "sales_cube", "pagerank_parts", "part_affinity",
    "ann_graph_search", "dedup_minhash_pairs", "bm25_rank",
    "bpe_train_merges",
)


class QueryMix:
    """Registered queries to the noop sink, in a seeded order per pass."""

    name = "query_mix"
    PRIMARY = QUERY_MIX
    SCALED = ("N_DOCS", "N_VECS", "N_ORDERS")
    N_DOCS = 500
    N_VECS = 500
    N_ORDERS = 1500

    def __init__(self, ctx):
        self.ctx = ctx
        self.order: list[str] = []
        self.first: dict[str, float] = {}

    def inputs(self) -> None:
        ctx = self.ctx
        datagen.write_tables(ctx.data_dir, ctx.seed, n_docs=self.N_DOCS,
                             n_vecs=self.N_VECS, n_orders=self.N_ORDERS)

    def setup(self) -> tuple[int, list[str]]:
        """First pass: builds every fixture (graph cache, staged beam
        frames, cached shared frames); results are kept for the oracle
        check."""
        from legalchatbot_vectordb_exp_spark.queries import QUERIES

        self.fns = {q: QUERIES[q] for q in QUERY_MIX}
        self.results = {}
        for q in self._pass():
            t0 = time.perf_counter()
            df = self.fns[q](self.ctx.spark, self.ctx.data_dir)
            self.results[q] = (df.schema, [tuple(r) for r in df.collect()])
            self.first[q] = time.perf_counter() - t0
        return len(QUERY_MIX), self._oracle_check()

    def _pass(self) -> list[str]:
        return [QUERY_MIX[int(k)] for k in
                self.ctx.rng.permutation(len(QUERY_MIX))]

    def enough(self, attempted: int) -> bool:
        """Stop only after whole passes."""
        return attempted % len(QUERY_MIX) == 0

    def step(self, i: int) -> Op:
        if not self.order:
            self.order = self._pass()
        q = self.order.pop(0)
        ctx = self.ctx
        t0 = time.perf_counter()
        with ctx.layer(f"queries.{q}.build"):
            df = self.fns[q](ctx.spark, ctx.data_dir)
        t1 = time.perf_counter()
        with ctx.layer(f"queries.{q}.run"):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        return Op(q, t2 - t0, 1, None, {f"queries.{q}.build_s": t1 - t0})

    def check(self, op: Op) -> str | None:
        return None

    def _oracle_check(self) -> list[str]:
        import duckdb

        from legalchatbot_vectordb_exp_spark.registry import ORACLES
        from oracle_harness import canonical_rows, check_types

        con = duckdb.connect()
        for f in os.listdir(self.ctx.data_dir):
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * "
                        f"FROM '{os.path.join(self.ctx.data_dir, f)}'")
        failures = []
        for q in QUERY_MIX:
            schema, rows = self.results[q]
            rel = con.sql(ORACLES[q])
            want_rows = rel.fetchall()
            if self.ctx.fault == "oracle_row" and q == QUERY_MIX[0]:
                want_rows[0] = tuple("corrupt" for _ in want_rows[0])
            cols = [f.name for f in schema.fields]
            try:
                check_types(_Schema(schema), rel, q)
            except AssertionError as e:
                failures.append(str(e))
                continue
            if sorted(cols) != sorted(rel.columns) or canonical_rows(
                    cols, rows) != canonical_rows(list(rel.columns), want_rows):
                failures.append(f"{q}: rows differ from the DuckDB oracle")
        con.close()
        return failures

    def report(self, ops: list[Op]) -> dict:
        """First (fixture-building) and steady time of each query."""
        out = {}
        for q in QUERY_MIX:
            xs = [o.seconds for o in ops if o.kind == q]
            out[f"queries.{q}.first_s"] = (self.first[q], "s", 1)
            out[f"queries.{q}.steady_s"] = (median0(xs), "s", len(xs))
        return out

    def layers(self, ops: list[Op]) -> dict:
        out = {}
        for q in QUERY_MIX:
            mine = [o for o in ops if o.kind == q]
            steady = median0(o.seconds for o in mine)
            out[f"queries.{q}.s"] = steady
            out[f"queries.{q}.build_s"] = median0(
                o.layers[f"queries.{q}.build_s"] for o in mine)
            out[f"queries.{q}.fixture_s"] = self.first[q] - steady
        return out


class _Schema:
    """The ``.schema`` attribute ``oracle_harness.check_types`` reads."""

    def __init__(self, schema):
        self.schema = schema


WORKLOADS = {w.name: w for w in (Ingest, LiveCorpus, QueryMix)}
