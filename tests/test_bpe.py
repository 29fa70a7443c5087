"""BPE merge application: greedy kernel + distributed encode."""

from __future__ import annotations

from kg_etl_spark.operators.bpe import bpe_encode, bpe_word


def test_bpe_word_applies_merges_in_rank_order():
    ranks = {("a", "b"): 0, ("ab", "c"): 1, ("b", "c"): 2}
    assert bpe_word("abc", ranks) == ["abc"]  # ab first (rank 0), then ab+c
    assert bpe_word("bc", ranks) == ["bc"]
    assert bpe_word("cab", ranks) == ["c", "ab"]
    assert bpe_word("xyz", ranks) == ["x", "y", "z"]  # nothing applies
    assert bpe_word("a", ranks) == ["a"]


def test_bpe_word_leftmost_on_equal_rank_chain():
    # 'aaa': merging (a,a) leftmost-first gives ['aa','a'], and no
    # further merge unless ('aa','a') is ranked.
    assert bpe_word("aaa", {("a", "a"): 0}) == ["aa", "a"]
    assert bpe_word("aaaa", {("a", "a"): 0, ("aa", "aa"): 1}) == ["aaaa"]


def test_bpe_encode_counts_and_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "abc abc xyz"), (2, "abc")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in bpe_encode(df, merges=[("a", "b"), ("ab", "c")]).collect()
    }
    assert out[1]["n_words"] == 3
    assert out[1]["n_pieces"] == 1 + 1 + 3  # abc, abc, x|y|z
    assert out[2]["n_pieces"] == 1
    # identical single-word docs encode to identical fingerprints
    df2 = spark.createDataFrame([(3, "abc")], "doc_id long, text string")
    out2 = bpe_encode(df2, merges=[("a", "b"), ("ab", "c")]).collect()[0]
    assert out2["pieces_md5"] == out[2]["pieces_md5"]


def test_bpe_encode_empty_merges_is_chars(spark):
    df = spark.createDataFrame([(1, "hello hi")], "doc_id long, text string")
    out = bpe_encode(df, merges=[]).collect()[0]
    assert out["n_pieces"] == 7
    assert out["n_words"] == 2
