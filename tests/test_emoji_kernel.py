"""Kernel unit tests: hand-computed token multisets for every branch of
the reference pipeline (SURVEY §5.2). Each case also runs the
reference's verbatim chain (tests/reference_kernels.py), which must give
the same tokens."""

import pytest
from pyspark.sql import functions as F

from big_data_analysis_of_twitter_emoji_usage_spark.functions.emoji import (
    extract_emojis,
    emoji_tokens,
)
from big_data_analysis_of_twitter_emoji_usage_spark.functions.text import tokenize_words
from tests.reference_kernels import (
    EMOJI,
    reference_extract_emojis,
    reference_tokenize_words,
    spaced_emoji_text,
)


def extract(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    rows = df.select(
        extract_emojis("text").alias("e"), reference_extract_emojis("text").alias("r")
    ).collect()
    assert [r.e for r in rows] == [r.r for r in rows]
    return [r.e for r in rows]


def test_basic_extraction(spark):
    assert extract(spark, ["hi \U0001f600 there \U0001f601"]) == [
        ["\U0001f600", "\U0001f601"]
    ]


def test_unseparated_run_is_split(spark):
    # space-insertion regex (q1:99,105) splits back-to-back emoji
    assert extract(spark, ["run\U0001f600\U0001f601\U0001f64ftogether"]) == [
        ["\U0001f600", "\U0001f601", "\U0001f64f"]
    ]


def test_metachar_artifacts_filtered(spark):
    # '(', ')', '|' are members of the buggy class (q1:97) and survive the
    # NOT_EMOJI strip; the contains-filter (q1:109) must drop them.
    assert extract(spark, ["paren (\U0001f600) pipe | ok"]) == [["\U0001f600"]]


def test_out_of_range_dropped(spark):
    # U+1F680 (Transport), U+2764, U+263A are outside the three ranges.
    assert extract(spark, ["\U0001f680 ❤ ☺ \U0001f923"]) == [
        ["\U0001f923"]
    ]


def test_zwj_sequence_splits(spark):
    # woman+ZWJ+laptop -> two tokens; ZWJ (U+200D) itself stripped
    # (deck slide 7: ZWJ sequences deliberately excluded).
    assert extract(spark, ["zwj \U0001f469‍\U0001f4bb mix"]) == [
        ["\U0001f469", "\U0001f4bb"]
    ]


def test_skin_tone_modifier_counts_separately(spark):
    # U+1F3FD sits inside 1F300-1F5FF -> standalone token (deck slide 7).
    assert extract(spark, ["skin \U0001f44d\U0001f3fd tone"]) == [
        ["\U0001f44d", "\U0001f3fd"]
    ]


def test_no_emoji_rows_yield_empty(spark):
    assert extract(spark, ["plain text only", ""]) == [[], []]


def test_range_boundaries(spark):
    # First/last code points of each class range are in; neighbors out.
    inside = ["\U0001f300", "\U0001f5ff", "\U0001f600", "\U0001f64f",
              "\U0001f900", "\U0001f9ff"]
    outside = ["\U0001f2ff", "\U0001f650", "\U0001f8ff", "\U0001fa00"]
    got = extract(spark, [" ".join(inside + outside)])
    assert got == [inside]


def test_emoji_tokens_counts_match_python(spark):
    from tests.tweet_fixtures import tweets_base

    rows = tweets_base(200)
    df = spark.createDataFrame(rows)
    total = (
        emoji_tokens(df, "data.text")
        .groupBy("Emoji")
        .count()
        .agg(F.sum("count").alias("s"))
        .collect()[0]
    ).s
    exploded = emoji_tokens(df, "data.text").count()
    assert total == exploded > 0


def test_order_permutation_invariance(spark):
    from tests.tweet_fixtures import tweets_base

    rows = tweets_base(100)
    a = spark.createDataFrame(rows)
    b = spark.createDataFrame(list(reversed(rows)))
    ca = sorted(map(tuple, emoji_tokens(a, "data.text").groupBy("Emoji").count().collect()))
    cb = sorted(map(tuple, emoji_tokens(b, "data.text").groupBy("Emoji").count().collect()))
    assert ca == cb


def test_spaced_text_keeps_metachars(spark):
    df = spark.createDataFrame([("(\U0001f600)",)], ["text"])
    out = df.select(spaced_emoji_text("text").alias("s")).collect()[0].s
    assert "(" in out and ")" in out  # stripped only post-split


def test_word_tokenizer(spark):
    df = spark.createDataFrame(
        [("the quick  don't RT hello42 café a%b <tag> x",)], ["text"]
    )
    out = df.select(tokenize_words("text").alias("w")).collect()[0].w
    # café has a non-ASCII char -> fails ^[A-Za-z0-9']+$ (q3:168);
    # a%b/<tag> keep their symbols (% < > not in the strip class) -> dropped;
    # double space yields an empty token -> dropped.
    assert out == ["the", "quick", "don't", "RT", "hello42", "x"]


def test_word_tokenizer_compat_matches_portable(spark):
    from tests.tweet_fixtures import tweets_base

    df = spark.createDataFrame(tweets_base(200))
    a = df.select(F.explode(reference_tokenize_words("data.text")).alias("w"))
    b = df.select(F.explode(tokenize_words("data.text")).alias("w"))
    assert sorted(r.w for r in a.collect()) == sorted(r.w for r in b.collect())


def test_emoji_class_matches_metachars_directly(spark):
    # Documents the char-class bug itself: '(' rlike EMOJI is True.
    df = spark.createDataFrame([("(",), (")",), ("|",), ("x",)], ["c"])
    got = [r.c for r in df.filter(F.col("c").rlike(EMOJI)).collect()]
    assert got == ["(", ")", "|"]


def test_json_lone_surrogates_dropped(spark, tmp_path):
    # Lone UTF-16 surrogates cannot be sent through createDataFrame; a
    # tweet JSON line carries them as \u escapes (Spark's UTF-8 strings
    # hold each as '?'). Neither kernel may turn them into tokens: only
    # the real emoji between them survives.
    from big_data_analysis_of_twitter_emoji_usage_spark.schemas import TWEETS_BASE
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.readers import read_tweets

    d = tmp_path / "tweets"
    d.mkdir()
    (d / "part-00000.json").write_text(
        '{"data": {"id": "1", "text": "a \\ud83d b \U0001f600 c \\ude00 d"}}\n',
        encoding="utf-8",
    )
    df = read_tweets(spark, str(d), TWEETS_BASE)
    rows = df.select(
        extract_emojis("data.text").alias("e"),
        reference_extract_emojis("data.text").alias("r"),
    ).collect()
    assert [(r.e, r.r) for r in rows] == [(["\U0001f600"], ["\U0001f600"])]


def test_null_text_yields_null_and_no_token(spark):
    df = spark.createDataFrame([(None,)], "text string")
    rows = df.select(
        extract_emojis("text").alias("e"), reference_extract_emojis("text").alias("r")
    ).collect()
    assert [(r.e, r.r) for r in rows] == [(None, None)]
    assert emoji_tokens(df).count() == 0
