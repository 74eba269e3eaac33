"""Text-analysis query family (extension E5 — SURVEY.md §2.9): the
per-document statistics a training-data pipeline computes at ingest.

Everything is a single narrow projection over the documents scan —
no shuffle at all except the distinct-count in ``text_vocab`` — so at
100 TB these run at IO speed with whole-stage codegen.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from legalchatbot_vectordb_exp_spark.functions.text import (
    LANG_STOPWORDS,
    PUNCT_PATTERN,
    TOKEN_PATTERN,
    punct_count,
    stopword_count,
    token_count,
    word_shingles,
    words,
)
from legalchatbot_vectordb_exp_spark.io_tables import load_table, spread
from legalchatbot_vectordb_exp_spark.registry import register, sql_dot, sql_words


@register(
    "text_stats",
    sql=f"""
    WITH w AS (
      SELECT doc_id, text, {sql_words('text')} AS ws FROM documents
    )
    SELECT doc_id,
           length(text)::BIGINT AS n_chars,
           len(ws)::BIGINT AS n_words,
           len(regexp_extract_all(text,
               '{TOKEN_PATTERN}'))::BIGINT AS n_tokens,
           len(regexp_extract_all(text,
               '{PUNCT_PATTERN}'))::BIGINT AS n_punct,
           round(len(list_filter(ws, x -> length(x) >= 6))::DOUBLE
                 / greatest(len(ws), 1)::DOUBLE, 6) AS long_word_ratio,
           round(length(text)::DOUBLE
                 / greatest(len(ws), 1)::DOUBLE, 6) AS chars_per_word
    FROM w
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality statistics: char/word/token/punct counts
    plus ratio features — one codegen'd projection, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    ws = words("text")
    nw = F.greatest(F.size(ws), F.lit(1)).cast("double")
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(ws).cast("bigint").alias("n_words"),
        token_count("text").cast("bigint").alias("n_tokens"),
        punct_count("text").cast("bigint").alias("n_punct"),
        F.round(
            F.size(F.filter(ws, lambda x: F.length(x) >= 6)).cast("double") / nw,
            6,
        ).alias("long_word_ratio"),
        F.round(F.length("text").cast("double") / nw, 6).alias("chars_per_word"),
    )


_LANG_SQL_CASES = "\n      UNION ALL\n".join(
    f"""      SELECT doc_id, '{lang}' AS lang,
             len(list_filter({sql_words('text')},
                 w -> list_contains({list(sw)}, lower(w)))) AS score
      FROM documents"""
    for lang, sw in sorted(LANG_STOPWORDS.items())
)


@register(
    "lang_id",
    sql=f"""
    WITH votes AS (
{_LANG_SQL_CASES}
    ),
    best AS (
      SELECT doc_id, lang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang ASC) AS rn
      FROM votes
    )
    SELECT doc_id,
           CASE WHEN score <= 0 THEN 'und' ELSE lang END AS pred_lang
    FROM best WHERE rn = 1
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language heuristic (n-gram-lite language ID):
    argmax over per-language stopword hit counts, alphabetic
    tie-break, zero hits → 'und'.

    Computed in an exact Arrow kernel (mapInPandas): the votes are
    integer set-membership counts, so there is no float-order concern —
    the kernel replicates the expression semantics literally (split on
    ASCII ``\\s+`` like Java regex, lowercase, multiplicity-counting
    membership, ``(-score, lang)`` tie-break).  This removes the five
    interpreted per-language HOF passes over every word array — the
    dominant linear constant of the text family in the 10× stress
    sweep.  The expression form stays available as
    functions.text.lang_id_from_words for composition."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lang_sets = [
        (lang, frozenset(sw)) for lang, sw in sorted(LANG_STOPWORDS.items())
    ]

    def kernel(batches):
        import re

        import pandas as pd

        # Java regex \s is ASCII-only; Python's is Unicode unless
        # re.ASCII — match the expression plan (and the DuckDB oracle's
        # regexp_split_to_array '\s+') exactly
        space = re.compile(r"\s+", re.ASCII)

        def pred(text) -> str:
            # no Python .strip(): it is Unicode-aware (would eat NBSP
            # and friends that Java's trim/\s+ keep); empty tokens from
            # leading/trailing ASCII whitespace are dropped by the filter
            ws = [w.lower() for w in space.split(text or "") if w]
            best_lang, best_score = "und", 0
            for lang, sw in lang_sets:
                score = sum(1 for w in ws if w in sw)
                if score > best_score:  # ties keep the earlier (asc) lang
                    best_lang, best_score = lang, score
            return best_lang

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "pred_lang": pdf["text"].map(pred)}
            )

    return docs.mapInPandas(kernel, schema="doc_id long, pred_lang string")


@register(
    "quality_score",
    sql=f"""
    WITH w AS (
      SELECT doc_id, text, {sql_words('text')} AS ws FROM documents
    )
    SELECT doc_id,
           round(least(len(ws)::DOUBLE / 100.0, 1.0) * 0.5
                 + (len(list_filter(ws,
                     w -> list_contains({list(LANG_STOPWORDS['en'])},
                                        lower(w))))::DOUBLE
                    / greatest(len(ws), 1)::DOUBLE) * 0.3
                 + CASE WHEN length(text) BETWEEN 100 AND 5000
                        THEN 0.2 ELSE 0.0 END, 6) AS quality
    FROM w
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document-quality score: length saturation (0.5 weight)
    + English-stopword density (0.3) + in-range length bonus (0.2) —
    the heuristic filter shape used before LLM training ingestion."""
    docs = load_table(spark, sf_dir, "documents")
    ws = words("text")
    nw = F.greatest(F.size(ws), F.lit(1)).cast("double")
    quality = (
        F.least(F.size(ws).cast("double") / 100.0, F.lit(1.0)) * 0.5
        + (stopword_count("text", LANG_STOPWORDS["en"]).cast("double") / nw) * 0.3
        + F.when(F.length("text").between(100, 5000), 0.2).otherwise(0.0)
    )
    return docs.select("doc_id", F.round(quality, 6).alias("quality"))


@register(
    "doc_fingerprint",
    sql=f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(0, greatest(len({sql_words('text')}) - 5, 0)),
               i -> array_to_string(({sql_words('text')})[i + 1 : i + 5], ' '))))
             AS shingle
      FROM documents
    )
    SELECT doc_id, min(md5(shingle)) AS fingerprint,
           count(DISTINCT shingle) AS n_shingles
    FROM sh GROUP BY doc_id
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: lexicographic min of md5 over 5-word
    shingles (winnowing-lite content signature) + shingle cardinality.

    word_shingles is already distinct, so min-md5 and the distinct
    count are *array* expressions over the un-exploded shingle array:
    a narrow single-pass projection — no explode, no shuffle (the
    explode + groupBy(doc_id) formulation re-shuffled every shingle
    only to regroup rows that started on the same line).

    ``spread`` parallelizes the per-doc shingle+md5 kernel when the
    scan arrives as a single row group (the testdata shape); on a
    many-file 100 TB input it is a no-op."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    staged = docs.select("doc_id", word_shingles("text", 5).alias("sh"))
    return staged.select(
        "doc_id",
        F.array_min(F.transform(F.col("sh"), F.md5)).alias("fingerprint"),
        F.size("sh").cast("bigint").alias("n_shingles"),
    )


@register(
    "token_vocab",
    sql=f"""
    WITH tok AS (
      SELECT lower(unnest(regexp_extract_all(text, '[A-Za-z]+'))) AS w
      FROM documents
    )
    SELECT w, count(*) AS freq
    FROM tok GROUP BY w
    HAVING count(*) >= 10
    """,
)
def q_token_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with frequencies (≥10): explode + one
    partial-aggregated groupBy — the shuffle carries only distinct
    tokens, not token instances."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(
            F.regexp_extract_all("text", F.lit("[A-Za-z]+"), F.lit(0))
        ).alias("raw")
    ).select(F.lower("raw").alias("w"))
    return (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= 10)
    )


@register(
    "bm25_rank",
    sql="""
    WITH tf AS (
      SELECT doc_id, t AS tok, count(*) AS tf
      FROM (SELECT doc_id,
                   unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
            FROM documents)
      WHERE t <> '' GROUP BY doc_id, t
    ),
    dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl
           FROM tf GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
              FROM dl),
    df AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf
           WHERE tok IN ('vector', 'stream', 'merge') GROUP BY tok),
    contrib AS (
      SELECT f.doc_id, f.tok,
             ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
               * (f.tf * 2.2)
               / (f.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS c
      FROM tf f
      JOIN df d ON f.tok = d.tok
      JOIN dl l ON f.doc_id = l.doc_id, stats s
    )
    SELECT doc_id,
           round(coalesce(max(CASE WHEN tok = 'vector' THEN c END), 0)
               + coalesce(max(CASE WHEN tok = 'stream' THEN c END), 0)
               + coalesce(max(CASE WHEN tok = 'merge' THEN c END), 0),
                 6) AS bm25
    FROM contrib GROUP BY doc_id
    """,
)
def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed 3-term query
    — the lexical scorer a legal-RAG engine runs beside cosine
    retrieval (hybrid search).

    Plan shape: tf = one (doc, token)-keyed aggregate; dl rides a
    doc-keyed aggregate of tf (co-partitioned — no extra fact
    shuffle); corpus stats and the query-term df frame are 1-row /
    3-row broadcasts.  Determinism across engines: every input to the
    float math derives from exact integer counts (tf, df, N; avgdl is
    an exact integer-sum mean), the per-term contributions are summed
    in a FIXED order (explicit per-term pivot columns, not an
    order-free SUM), and the result is rounded to 6 dp."""
    docs = load_table(spark, sf_dir, "documents")
    return _bm25_scores(docs, ["vector", "stream", "merge"])


def _bm25_scores(
    docs: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(doc_id, bm25 round-6) for docs matching ≥1 query term — the
    scoring core shared by ``bm25_rank`` and ``hybrid_rrf``."""
    tf = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.lower("text"), "[^a-z0-9]+")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tf.groupBy("doc_id").agg(
        F.sum("tf").cast("double").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
    )
    df_t = (
        tf.filter(F.col("tok").isin(terms))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("double").alias("df"))
    )
    contrib = (
        tf.join(F.broadcast(df_t), "tok")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .withColumn(
            "c",
            F.log(1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * ((1 - b) + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    per_term = [
        F.coalesce(
            F.max(F.when(F.col("tok") == t, F.col("c"))), F.lit(0.0)
        )
        for t in terms
    ]
    total = per_term[0]  # left-fold in list order: fixed across engines
    for col in per_term[1:]:
        total = total + col
    return contrib.groupBy("doc_id").agg(
        F.round(total, 6).alias("bm25")
    )


@register(
    "hybrid_rrf",
    sql="""
    WITH tf AS (
      SELECT doc_id, t AS tok, count(*) AS tf
      FROM (SELECT doc_id,
                   unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
            FROM documents)
      WHERE t <> '' GROUP BY doc_id, t
    ),
    dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl
           FROM tf GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
              FROM dl),
    df AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf
           WHERE tok IN ('vector', 'stream', 'merge') GROUP BY tok),
    contrib AS (
      SELECT f.doc_id, f.tok,
             ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
               * (f.tf * 2.2)
               / (f.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS c
      FROM tf f
      JOIN df d ON f.tok = d.tok
      JOIN dl l ON f.doc_id = l.doc_id, stats s
    ),
    bm AS (
      SELECT doc_id,
             round(coalesce(max(CASE WHEN tok = 'vector' THEN c END), 0)
                 + coalesce(max(CASE WHEN tok = 'stream' THEN c END), 0)
                 + coalesce(max(CASE WHEN tok = 'merge' THEN c END), 0),
                   6) AS bm25
      FROM contrib GROUP BY doc_id
    ),
    bm_top AS (SELECT doc_id, bm25 FROM bm
               ORDER BY bm25 DESC, doc_id LIMIT 100),
    bm_rank AS (SELECT doc_id,
                       row_number() OVER (ORDER BY bm25 DESC, doc_id)
                         AS r_bm
                FROM bm_top),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cos_top AS (
      SELECT e.vec_id AS doc_id,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(list_zip(e.embedding::DOUBLE[],
                                       q.qv::DOUBLE[]),
                 x -> x[1] * x[2])), (acc, x) -> acc + x) AS s
      FROM embeddings e, q
      ORDER BY s DESC, e.vec_id LIMIT 100
    ),
    cos_rank AS (SELECT doc_id,
                        row_number() OVER (ORDER BY s DESC, doc_id)
                          AS r_cos
                 FROM cos_top),
    fused AS (
      SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
             coalesce(1.0 / (60 + b.r_bm), 0)
               + coalesce(1.0 / (60 + c.r_cos), 0) AS rrf
      FROM bm_rank b FULL JOIN cos_rank c ON b.doc_id = c.doc_id
    )
    SELECT doc_id, round(rrf, 6) AS rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
    """,
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 (lexical) and cosine (dense) top-100
    lists fused by reciprocal-rank fusion, rrf = Σ 1/(60 + rank).

    This is the production shape for "legal chatbot" search — lexical
    recall for statute numbers, dense recall for paraphrase — and it
    is *fully* rank-based after the per-retriever top-100 cuts, so the
    fused score is exact integer-derived arithmetic on both engines.
    Plan: each retriever ends in TakeOrderedAndProject (global top-100,
    no full sort); the 100-row lists fuse via full outer join; the
    final top-20 is again take-ordered."""
    from legalchatbot_vectordb_exp_spark.functions.vector import dot
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    bm_top = (
        _bm25_scores(docs, ["vector", "stream", "merge"])
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(100)
    )
    w_bm = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    bm_rank = bm_top.select(
        "doc_id", F.row_number().over(w_bm).alias("r_bm")
    )

    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    cos_top = (
        emb.join(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            dot(F.col("embedding"), F.col("qv")).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(100)
    )
    w_cos = Window.orderBy(F.desc("s"), F.asc("doc_id"))
    cos_rank = cos_top.select(
        "doc_id", F.row_number().over(w_cos).alias("r_cos")
    )

    fused = (
        bm_rank.join(cos_rank, "doc_id", "full")
        .select(
            "doc_id",
            (
                F.coalesce(1.0 / (60 + F.col("r_bm")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("r_cos")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    return (
        fused.orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", F.round("rrf", 6).alias("rrf"))
    )


@register(
    "pii_redact",
    sql="""
    WITH src AS (
      SELECT c_custkey,
             'Contact ' || c_name || ' at '
               || lower(replace(c_name, '#', '.'))
               || '@corp.example ref ' || c_custkey::VARCHAR AS msg
      FROM customer
    )
    SELECT c_custkey,
           regexp_replace(
             regexp_replace(
               msg, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
             '[0-9]{3,}', '<NUM>', 'g') AS redacted,
           len(regexp_extract_all(
             msg, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS n_emails,
           len(regexp_extract_all(msg, '[0-9]{3,}')) AS n_nums
    FROM src
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the scrubbing pass every training-data pipeline
    runs before corpus release: mask email-shaped tokens first, then
    long digit runs, and report per-row hit counts for audit.

    The input message is constructed deterministically from customer
    rows (the synthetic documents table contains no digits, so the
    redactor would be untested against real hits otherwise).  Both
    regexes are RE2/Java-compatible; replacement is pure projection —
    no shuffle, whole-stage codegen, linear at any scale."""
    c = load_table(spark, sf_dir, "customer")
    email_re = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
    num_re = "[0-9]{3,}"
    msg = F.concat(
        F.lit("Contact "),
        F.col("c_name"),
        F.lit(" at "),
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))),
        F.lit("@corp.example ref "),
        F.col("c_custkey").cast("string"),
    )
    src = c.select("c_custkey", msg.alias("msg"))
    return src.select(
        "c_custkey",
        F.regexp_replace(
            F.regexp_replace("msg", email_re, "<EMAIL>"),
            num_re,
            "<NUM>",
        ).alias("redacted"),
        F.size(F.regexp_extract_all("msg", F.lit(email_re), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("msg", F.lit(num_re), F.lit(0)))
        .cast("long")
        .alias("n_nums"),
    )


@register(
    "bigram_topk",
    sql=f"""
    WITH w AS (
      SELECT {sql_words('lower(text)')} AS ws FROM documents
    ),
    bg AS (
      SELECT ws[i] || ' ' || ws[i + 1] AS bigram
      FROM w, unnest(generate_series(1, len(ws) - 1)) AS u(i)
      WHERE len(ws) >= 2
    )
    SELECT bigram, count(*)::BIGINT AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram ASC LIMIT 50
    """,
)
def q_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus bigrams — the collocation statistic every corpus
    report leads with (and the vocabulary seed for BPE-style merges).
    Non-distinct bigrams (unlike the dedup shingles, which distinct per
    doc): explode a zip_with of the word array against its tail, one
    partial-aggregated count keyed by bigram, TakeOrdered final."""
    docs = load_table(spark, sf_dir, "documents")
    ws = words(F.lower(F.col("text")))
    bigrams = F.zip_with(
        F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
        F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = docs.filter(F.size(ws) >= 2).select(
        F.explode(bigrams).alias("bigram")
    )
    return (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.col("bigram").asc())
        .limit(50)
    )


@register(
    "ranker_agreement",
    sql=f"""
    WITH tf AS (
      SELECT doc_id, t AS tok, count(*) AS tf
      FROM (SELECT doc_id,
                   unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
            FROM documents)
      WHERE t <> '' GROUP BY doc_id, t
    ),
    dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl
           FROM tf GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
              FROM dl),
    df AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf
           WHERE tok IN ('vector', 'stream', 'merge') GROUP BY tok),
    contrib AS (
      SELECT f.doc_id, f.tok,
             ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
               * (f.tf * 2.2)
               / (f.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS c
      FROM tf f
      JOIN df d ON f.tok = d.tok
      JOIN dl l ON f.doc_id = l.doc_id, stats s
    ),
    bm AS (
      SELECT doc_id,
             round(coalesce(max(CASE WHEN tok = 'vector' THEN c END), 0)
                 + coalesce(max(CASE WHEN tok = 'stream' THEN c END), 0)
                 + coalesce(max(CASE WHEN tok = 'merge' THEN c END), 0),
                   6) AS bm25
      FROM contrib GROUP BY doc_id
    ),
    bm_top AS (SELECT doc_id FROM bm
               ORDER BY bm25 DESC, doc_id LIMIT 100),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cos_top AS (
      SELECT e.vec_id AS doc_id
      FROM embeddings e, q
      ORDER BY {sql_dot('e.embedding', 'q.qv')} DESC, e.vec_id LIMIT 100
    )
    SELECT (SELECT count(*) FROM bm_top)::BIGINT AS k_bm25,
           (SELECT count(*) FROM cos_top)::BIGINT AS k_cosine,
           (SELECT count(*) FROM bm_top JOIN cos_top USING (doc_id))::BIGINT
             AS n_overlap
    """,
)
def q_ranker_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retriever A/B agreement: overlap of the BM25 top-100 and the
    dense-cosine top-100 for the same probe — the sanity metric behind
    hybrid-search tuning (how complementary are the retrievers?).
    Both rankings end in TakeOrderedAndProject; the overlap is one
    integer count, so the single output row is exact."""
    from legalchatbot_vectordb_exp_spark.functions.vector import dot

    docs = load_table(spark, sf_dir, "documents")
    bm = _bm25_scores(docs, ["vector", "stream", "merge"])
    bm_top = (
        bm.orderBy(F.desc("bm25"), F.col("doc_id").asc())
        .limit(100)
        .select("doc_id")
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    qvec = F.array(
        *[
            F.lit(float(x))
            for x in emb.filter(F.col("vec_id") == 0).head()[1]
        ]
    )
    cos_top = (
        emb.withColumn("s", dot("embedding", qvec))
        .orderBy(F.desc("s"), F.col("vec_id").asc())
        .limit(100)
        .select(F.col("vec_id").alias("doc_id"))
    )
    # ONE lazy job: full-outer join of the two (≤100-row) top lists,
    # three count_if columns — the previous three eager .count() jobs
    # each recomputed the BM25 pipeline from scratch
    a = bm_top.select("doc_id", F.lit(True).alias("in_bm"))
    b = cos_top.select("doc_id", F.lit(True).alias("in_cos"))
    return a.join(b, "doc_id", "full").agg(
        F.count_if(F.col("in_bm").isNotNull()).alias("k_bm25"),
        F.count_if(F.col("in_cos").isNotNull()).alias("k_cosine"),
        F.count_if(
            F.col("in_bm").isNotNull() & F.col("in_cos").isNotNull()
        ).alias("n_overlap"),
    )


@register(
    "charset_profile",
    sql=r"""
    SELECT doc_id,
           length(text)::BIGINT AS n_chars,
           (length(text)
            - length(regexp_replace(text, '[^\x00-\x7F]', '', 'g')))::BIGINT
             AS n_non_ascii,
           length(regexp_replace(text, '[^0-9]', '', 'g'))::BIGINT
             AS n_digits,
           round((length(text)
                  - length(regexp_replace(text, '[^\x00-\x7F]', '', 'g')))
                 / greatest(length(text), 1)::DOUBLE, 6) AS non_ascii_ratio
    FROM documents
    """,
)
def q_charset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset QA per document: non-ASCII and digit counts plus the
    non-ASCII ratio — the encoding-corruption detector (mojibake,
    binary spill into text, wrong-codec ingests) every corpus intake
    runs.  Counts are length-minus-stripped-length regexp arithmetic
    in the scan stage; the ratio is one integer division — no shuffle,
    no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_non_ascii = n_chars - F.length(
        F.regexp_replace(F.col("text"), r"[^\x00-\x7F]", "")
    )
    n_digits = F.length(F.regexp_replace(F.col("text"), r"[^0-9]", ""))
    return docs.select(
        "doc_id",
        n_chars.cast("bigint").alias("n_chars"),
        n_non_ascii.cast("bigint").alias("n_non_ascii"),
        n_digits.cast("bigint").alias("n_digits"),
        F.round(
            n_non_ascii / F.greatest(n_chars, F.lit(1)).cast("double"), 6
        ).alias("non_ascii_ratio"),
    )


@register(
    "bpe_merge_step",
    sql="""
    WITH words AS (
      SELECT w, CAST(count(*) AS BIGINT) AS cnt
      FROM (
        SELECT lower(unnest(regexp_extract_all(text, '[A-Za-z]+'))) AS w
        FROM documents
      )
      GROUP BY w
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(w)),
                    i -> substr(w, CAST(i AS INTEGER), 2))) AS pair,
             cnt
      FROM words
      WHERE length(w) >= 2
    ),
    ranked AS (
      SELECT pair, sum(cnt)::BIGINT AS freq
      FROM pairs GROUP BY pair
    )
    SELECT pair, freq FROM ranked
    ORDER BY freq DESC, pair LIMIT 50
    """,
)
def q_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE iteration of BPE tokenizer training at corpus scale: count
    every adjacent symbol pair weighted by word frequency and rank
    the merge candidates — the inner loop of Sennrich et al. BPE /
    GPT-style tokenizer builds, distributed.

    Plan shape: tokenize → word-frequency aggregate (the shuffle
    carries DISTINCT words, not token instances) → per-word adjacent
    pairs via ``transform(sequence(...))`` (scan-stage lambda, no
    Python) → one more partial-aggregated groupBy on the pair.  The
    top-50 sort runs on the aggregated pair table (≤ alphabet²-ish
    rows), so at 100 TB the only data-sized stages are the two
    hash aggregates; a full BPE build is this query iterated with the
    winning pair folded into the symbol table each round.  Ordering
    ties broken by pair text for determinism."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(
                F.regexp_extract_all(
                    "text", F.lit("[A-Za-z]+"), F.lit(0)
                )
            ).alias("raw")
        )
        .select(F.lower("raw").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    pairs = words.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("pair"))
        .limit(50)
    )


# --------------------------------------------------- iterated BPE train

BPE_TRAIN_STEPS = 6  # merge rounds (fixed => SQL-expressible)

# Canonical greedy BPE needs "merge every left-to-right non-overlapping
# adjacent occurrence of the winning pair".  Words are encoded as
# wrapped symbol strings — each symbol is "|sym|", so "the" becomes
# "|t||h||e|" — because then plain string replace of "|x||y|" with
# "|xy|" IS the canonical merge in BOTH engines: the replacement
# preserves the boundary bars, so consuming a match never eats the
# next token's opening bar (a single-bar join diverges on runs like
# "aaaa": the shared delimiter is consumed and the scan skips a
# mergeable pair).  Symbols are [a-z]+ only, so "|" is structurally
# unambiguous.


def _bpe_sql() -> str:
    """WITH-chain replaying the same K merge rounds in DuckDB: words →
    wrapped symbol strings, then per round a pair-frequency aggregate,
    a 1-row argmax winner, and a replace() fold into the word table."""
    ctes = [
        """w0 AS MATERIALIZED (
      SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS s,
             cnt
      FROM (
        SELECT lower(raw) AS w, count(*)::BIGINT AS cnt
        FROM (SELECT unnest(regexp_extract_all(text, '[A-Za-z]+'))
                AS raw FROM documents)
        GROUP BY lower(raw)) words
      WHERE length(w) >= 2
    )"""
    ]
    for t in range(BPE_TRAIN_STEPS):
        ctes.append(
            f"""p{t} AS MATERIALIZED (
      SELECT pair, sum(cnt)::BIGINT AS freq FROM (
        SELECT unnest(list_transform(
                 range(1, len(syms)),
                 i -> '|' || syms[i] || '||' || syms[i + 1] || '|'
               )) AS pair,
               cnt
        FROM (SELECT list_filter(string_split_regex(s, '\\|+'),
                                 x -> x <> '') AS syms,
                     cnt
              FROM w{t}) tok)
      GROUP BY pair
    )"""
        )
        ctes.append(
            f"""win{t} AS MATERIALIZED (
      SELECT pair, freq FROM p{t}
      ORDER BY freq DESC, pair ASC LIMIT 1
    )"""
        )
        ctes.append(
            f"""w{t + 1} AS MATERIALIZED (
      SELECT replace(s, (SELECT pair FROM win{t}),
                     replace((SELECT pair FROM win{t}), '||', ''))
               AS s,
             cnt
      FROM w{t}
    )"""
        )
    unions = "\n      UNION ALL\n      ".join(
        f"SELECT {t + 1}::BIGINT AS step, pair AS merge_pair, freq "
        f"FROM win{t}"
        for t in range(BPE_TRAIN_STEPS)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT step, merge_pair, freq FROM (\n      {unions})"
        + "\n    ORDER BY step"
    )


def _bpe_run(spark: SparkSession, sf_dir: str):
    """Run the K training rounds once: returns (merges, final_words)
    — shared by the train query (returns the merge table) and the
    encode query (returns the token distribution of final_words)."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(
                F.regexp_extract_all(
                    "text", F.lit("[A-Za-z]+"), F.lit(0)
                )
            ).alias("raw")
        )
        .select(F.lower("raw").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .filter(F.length("w") >= 2)
        .select(
            F.regexp_replace("w", "(.)", r"|$1|").alias("s"), "cnt"
        )
        # LAZY checkpoint: materializes inside round 1's argmax job
        # instead of paying a separate eager job — one aggregate
        # either way; K rounds re-read the cached blocks
        .localCheckpoint(eager=False)
    )
    merges = []
    cur = words
    for step in range(BPE_TRAIN_STEPS):
        pairs = (
            cur.select(
                F.filter(
                    F.split("s", r"\|+"), lambda x: x != ""
                ).alias("syms"),
                "cnt",
            )
            .select(
                # a word merged down to one symbol has no pairs:
                # sequence(1, 0) would be [1, 0] and index syms[-1]
                # (DuckDB's range(1, 1) is already empty)
                F.explode(
                    F.expr(
                        "transform(if(size(syms) < 2,"
                        " cast(array() as array<int>),"
                        " sequence(1, size(syms) - 1)),"
                        " i -> concat('|', syms[i - 1], '||',"
                        " syms[i], '|'))"
                    )
                ).alias("pair"),
                "cnt",
            )
        )
        win = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").cast("bigint").alias("freq"))
            .orderBy(F.desc("freq"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not win:
            break
        pair, freq = win[0]["pair"], int(win[0]["freq"])
        merges.append((step + 1, pair, freq))
        # LAZY checkpoint (r20): the eager form paid TWO jobs per merge
        # round (materialize + argmax); lazy folds the fold-in into the
        # NEXT round's argmax job — same cached blocks, half the jobs.
        # The string fold is still computed exactly once per round.
        cur = cur.select(
            F.replace(
                F.col("s"), F.lit(pair), F.lit(pair.replace("||", ""))
            ).alias("s"),
            "cnt",
        ).localCheckpoint(eager=False)
    return merges, cur


def _bpe_trained_words(spark: SparkSession, sf_dir: str):
    return _bpe_run(spark, sf_dir)[1]


@register("bpe_train_merges", sql=_bpe_sql())
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL BPE tokenizer-training loop, distributed: K rounds of
    count-adjacent-pairs → pick the argmax pair → fold the merge into
    every word (Sennrich et al.; the iterated form of
    ``bpe_merge_step``).  Returns the learned merge table
    (step, merge_pair, freq) — the artifact a tokenizer ships.

    Scale shape per round: ONE hash aggregate over the distinct-word
    table (the shuffle carries distinct words and aggregated pair
    rows, never token instances), a 1-row argmax to the driver (the
    winner is metadata, exactly like k-means' k-row sync), and a
    scan-stage string fold (replace) — no extra shuffle.  The word
    table is cached once: each round rewrites a string column in
    place.  The wrapped "|sym||sym|" encoding makes plain replace the
    CANONICAL greedy merge in both engines (module comment)."""
    merges, _ = _bpe_run(spark, sf_dir)
    return spark.createDataFrame(
        merges, "step bigint, merge_pair string, freq bigint"
    ).orderBy("step")


def _bpe_encode_sql() -> str:
    """Train (the same K rounds as ``bpe_train_merges``) then APPLY:
    fold the learned merges into every word in rank order and count
    the resulting tokens — the tokenizer's output distribution."""
    train = _bpe_sql()
    ctes = train[len("WITH ") : train.index("\n    SELECT step")]
    return (
        "WITH "
        + ctes
        + f""",
    tokens AS MATERIALIZED (
      SELECT unnest(list_filter(string_split_regex(s, '\\|+'),
                                x -> x <> '')) AS token,
             cnt
      FROM w{BPE_TRAIN_STEPS}
    )
    SELECT token, sum(cnt)::BIGINT AS freq,
           length(token)::BIGINT AS token_len
    FROM tokens
    GROUP BY token
    ORDER BY freq DESC, token ASC
    LIMIT 40"""
    )


@register("bpe_encode_tokens", sql=_bpe_encode_sql())
def q_bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the learned BPE merges — encode the corpus vocabulary
    with the round-16 trained tokenizer and return the top-40 token
    distribution (token, freq, token_len).  Train + apply in one
    deterministic pipeline: the final word table of the training loop
    IS the encoded corpus (each merge already folded in rank order),
    so encoding costs nothing beyond the training rounds; a production
    encoder ships the merge table and replays the same K replaces in
    the scan stage over new text."""
    merged = _bpe_trained_words(spark, sf_dir)
    tokens = merged.select(
        F.explode(
            F.filter(F.split("s", r"\|+"), lambda x: x != "")
        ).alias("token"),
        "cnt",
    )
    return (
        tokens.groupBy("token")
        .agg(F.sum("cnt").cast("bigint").alias("freq"))
        .withColumn("token_len", F.length("token").cast("bigint"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(40)
    )
