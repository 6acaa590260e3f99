"""BPE word and symbol-pair statistics: the exact word table and pair
multiset of a tiny corpus, with no empty symbols."""

from __future__ import annotations

from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import bpe


def test_char_pairs_emit_no_empty_symbols(spark):
    # F.split(word, "") trailing-empty behavior differs across engine
    # versions; _char_pairs must never emit an empty symbol on either
    # side of a pair (the round-4 red bpe_pair_counts hypothesis).
    # the word table comes from the corpus pass: a x1, ab x2, xyz x3
    docs = spark.createDataFrame(
        [(0, "xyz ab  a xyz"), (1, "ab xyz"), (2, "")], "doc_id long, text string"
    )
    wc = bpe.word_counts(docs)
    assert sorted(map(tuple, wc.collect())) == [("a", 1), ("ab", 2), ("xyz", 3)]
    rows = bpe.pair_counts(wc).collect()
    for r in rows:
        assert r["left"] != "", rows
        assert r["right"] != "", rows
    # exact pair multiset for the tiny vocab: a</w>; a b, b</w>; x y,
    # y z, z</w> — weighted by cnt
    got = {(r["left"], r["right"]): r["cnt"] for r in rows}
    assert got == {
        ("a", bpe.EOW): 1,
        ("a", "b"): 2,
        ("b", bpe.EOW): 2,
        ("x", "y"): 3,
        ("y", "z"): 3,
        ("z", bpe.EOW): 3,
    }
