"""Word n-gram and repetition-statistics operators (operators/text.py).

The decontamination and PII operators this file also covered are retired;
its two remaining tests keep their ids.
"""

from data_check_spark.operators.text import repetition_stats, word_ngrams


def test_repetition_stats_hand_computed(spark):
    df = spark.createDataFrame(
        [
            # bigrams: "a b","b a","a b","b c" → top "a b" ×2 of 4 → 5000 q4
            (1, "a b a b c"),
            # all tokens distinct, each bigram unique
            (2, "w x y z"),
            (3, "solo"),  # 1 token → 0 bigrams
            (4, ""),  # blank → all zero
            (5, "q q q q"),  # bigram "q q" ×3 of 3 → 10000 q4
        ],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert (rows[1]["n_bigrams"], rows[1]["top_bigram_count"]) == (4, 2)
    assert rows[1]["top_bigram_frac_q4"] == 5000
    # 5 tokens, 3 distinct → dup frac 2/5
    assert rows[1]["dup_token_frac_q4"] == 4000
    assert (rows[2]["top_bigram_count"], rows[2]["top_bigram_frac_q4"]) == (1, 3333)
    assert (rows[3]["n_bigrams"], rows[3]["top_bigram_count"]) == (0, 0)
    assert (rows[4]["n_bigrams"], rows[4]["dup_token_frac_q4"]) == (0, 0)
    assert (rows[5]["top_bigram_count"], rows[5]["top_bigram_frac_q4"]) == (3, 10000)
    assert rows[5]["dup_token_frac_q4"] == 7500


def test_word_ngrams_expr(spark):
    df = spark.createDataFrame([("a b c d e",), ("a b",), ("",)], "text string")
    got = df.select(word_ngrams("text", 3).alias("g")).collect()
    assert got[0]["g"] == ["a b c", "b c d", "c d e"]
    assert got[1]["g"] == []
    assert got[2]["g"] == []

