"""Iterated BPE training (round 16): canonical greedy merge semantics
via the wrapped "|sym||sym|" encoding, plus loop invariants.  Oracle
parity runs in the test_oracle_parity sweep."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from legalchatbot_vectordb_exp_spark.queries_text import (  # noqa: E402
    BPE_TRAIN_STEPS,
    q_bpe_train_merges,
)

SF_DIR = os.environ.get(
    "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
)


def test_wrapped_replace_is_canonical_greedy():
    """The load-bearing encoding property: plain replace of
    '|x||y|' -> '|xy|' merges every left-to-right non-overlapping
    adjacent occurrence — including runs — identically in Python,
    Java (Spark) and C++ (DuckDB) string semantics."""

    def enc(word):
        return "".join(f"|{c}|" for c in word)

    def merge(s, x, y):
        return s.replace(f"|{x}||{y}|", f"|{x}{y}|")

    # run of four: canonical greedy pairs (1,2) and (3,4)
    assert merge(enc("aaaa"), "a", "a") == "|aa||aa|"
    # run of three: (1,2) merge, 3 survives
    assert merge(enc("aaa"), "a", "a") == "|aa||a|"
    # run of six: three merges — the single-bar encoding loses the
    # middle one to delimiter consumption
    assert merge(enc("aaaaaa"), "a", "a") == "|aa||aa||aa|"
    # no false match inside a longer symbol
    assert merge("|xa||b|", "a", "b") == "|xa||b|"
    # second-order merge over an already-merged symbol
    s = merge(enc("ther"), "e", "r")
    assert s == "|t||h||er|"
    assert merge(s, "h", "er") == "|t||her|"


def test_train_loop_invariants(spark):
    rows = q_bpe_train_merges(spark, SF_DIR).collect()
    assert [r.step for r in rows] == list(
        range(1, BPE_TRAIN_STEPS + 1)
    )
    freqs = [r.freq for r in rows]
    # merging the winner can only shrink or preserve every other
    # pair's count, so winner frequency is non-increasing
    assert freqs == sorted(freqs, reverse=True)
    assert all(f > 0 for f in freqs)
    pairs = [r.merge_pair for r in rows]
    assert len(set(pairs)) == len(pairs), "a pair merged twice"
    for p in pairs:
        assert p.startswith("|") and p.endswith("|") and "||" in p


def test_encode_tokens_are_learned_vocabulary(spark):
    from legalchatbot_vectordb_exp_spark.queries_text import (
        q_bpe_encode_tokens,
        q_bpe_train_merges,
    )

    merges = {
        r.merge_pair.replace("|", "")
        for r in q_bpe_train_merges(spark, SF_DIR).collect()
    }
    rows = q_bpe_encode_tokens(spark, SF_DIR).collect()
    assert rows and all(r.freq > 0 for r in rows)
    multi = [r.token for r in rows if r.token_len > 1]
    # every multi-char token the encoder emits must be a learned merge
    assert multi, "no merged token surfaced in the top distribution"
    assert set(multi) <= merges, (
        f"tokens not in the merge table: {set(multi) - merges}"
    )


def test_single_symbol_words_match_the_oracle(spark, tmp_path):
    """Frequent two-letter words ("of", "in") merge down to ONE symbol
    in the first rounds; the next round must count no pairs for them
    (it used to index ``syms[-1]`` and raise under ANSI) and agree
    with the DuckDB twin."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from legalchatbot_vectordb_exp_spark.registry import ORACLES

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from oracle_harness import compare

    texts = [
        "of in of in of in the rest of it",
        "in spite of it all, of course",
        "made of tin in the inn of kings",
        "one of them is in, two of them are out",
    ] * 5
    pq.write_table(
        pa.table({"doc_id": list(range(len(texts))), "text": texts}),
        str(tmp_path / "documents.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path / 'documents.parquet'}'"
    )
    df = q_bpe_train_merges(spark, str(tmp_path))
    assert df.count() == BPE_TRAIN_STEPS
    compare(df, con, ORACLES["bpe_train_merges"], "bpe_train_merges")
