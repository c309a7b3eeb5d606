"""Property-based kernel tests (hypothesis): the Spark emoji kernel, the
reference's verbatim chain (tests/reference_kernels.py) and an
independent Python model of the reference semantics must all agree on
randomized inputs — broader sampling than the fixed cases in
test_emoji_kernel.py.

Model (SURVEY §2.10): a code point survives the NOT_EMOJI strip iff it
is in one of the three reference ranges or is one of the buggy class
members '(' ')' '|'; a space is inserted before every code point whose
UTF-16 lead surrogate is D83C/D83D/D83E; the split tokens are kept iff
they rlike the class and carry no metachar. Net effect on any input:
the extracted tokens are exactly the in-range code points, in order.
"""

import pytest
from hypothesis import given, settings, strategies as st

from big_data_analysis_of_twitter_emoji_usage_spark.functions.emoji import extract_emojis
from tests.reference_kernels import reference_extract_emojis

IN_RANGES = [(0x1F300, 0x1F5FF), (0x1F600, 0x1F64F), (0x1F900, 0x1F9FF)]


def in_range(cp: int) -> bool:
    return any(lo <= cp <= hi for lo, hi in IN_RANGES)


def model_extract(text: str) -> list[str]:
    """Reference-semantics model: in-range code points, in order.

    Metachars '(' ')' '|' survive the strip but are removed by the
    final contains-filter; every other survivor is an in-range emoji.
    Adjacent emoji are separated by the space-insertion pattern, and
    any two in-range emoji with no space between them still tokenize
    apart because each gets a space inserted before its lead surrogate.
    """
    return [c for c in text if in_range(ord(c))]


emoji_chars = st.one_of(
    *[st.integers(lo, hi).map(chr) for lo, hi in IN_RANGES]
)
near_miss_chars = st.sampled_from(
    [chr(0x1F2FF), chr(0x1F650), chr(0x1F8FF), chr(0x1FA00), chr(0x2764),
     chr(0x263A), chr(0x1F680), "\u200d", "$1", "\\", "\u4e2d", "\u00e9"]
)
word_chars = st.text(
    alphabet="abcXYZ019'", min_size=1, max_size=6
)
metachars = st.sampled_from(["(", ")", "|"])
piece = st.one_of(emoji_chars, near_miss_chars, word_chars, metachars,
                  st.just(" "))
texts = st.lists(piece, min_size=0, max_size=25).map("".join)


@settings(max_examples=30, deadline=None)
@given(st.lists(texts, min_size=1, max_size=8))
def test_kernel_matches_model(spark, batch):
    df = spark.createDataFrame([(t,) for t in batch], ["text"])
    rows = df.select(
        extract_emojis("text").alias("e"), reference_extract_emojis("text").alias("r")
    ).collect()
    want = [model_extract(t) for t in batch]
    assert [r.e for r in rows] == want
    assert [r.r for r in rows] == want


@settings(max_examples=15, deadline=None)
@given(texts)
def test_kernel_count_order_invariant(spark, text):
    """Counting invariance: token multiset is stable under duplication —
    two copies of a row yield exactly double the tokens."""
    df1 = spark.createDataFrame([(text,)], ["text"])
    df2 = spark.createDataFrame([(text,), (text,)], ["text"])
    c1 = df1.select(extract_emojis("text").alias("e")).collect()
    c2 = df2.select(extract_emojis("text").alias("e")).collect()
    assert c2 == c1 * 2
