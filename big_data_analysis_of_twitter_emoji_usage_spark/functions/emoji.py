"""The emoji-extraction kernel — the reference's signature operator.

Every one of the reference's seven questions runs the same emoji chain
(canonical instance q1/src/main/scala/com/revature/questionone/
Runner.scala:101-113, constants q1:97-99): an ``rlike`` pre-filter, a
strip of every non-emoji character, a space inserted before each emoji,
``split`` + ``explode``, then a re-filter that drops the ``(``/``)``/``|``
tokens the reference's buggy character class lets through.

The net effect of that chain on any input is: the tokens are exactly the
code points in the three reference ranges, in order — U+1F600–1F64F
(Emoticons), U+1F300–1F5FF (Misc Symbols & Pictographs) and
U+1F900–1F9FF (Supplemental S&P). ZWJ sequences split into their
component emoji; skin-tone modifiers (U+1F3FB–1F3FF) sit inside the
second range and count as tokens of their own (reference deck slide 7);
lone surrogates in JSON input (which Spark's UTF-8 strings hold as ``?``)
are dropped. The engine computes that in one pass: ``regexp_extract_all``
of one code-point class, a JVM-side built-in that stays inside
whole-stage codegen.

The reference's verbatim chain is kept in the tests
(``tests/reference_kernels.py``) as the bug-for-bug oracle this kernel is
checked against.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from big_data_analysis_of_twitter_emoji_usage_spark.core import as_col as _col

# The reference's three code-point ranges without its (/)/| class members;
# identical semantics in Java regex (Spark) and RE2 (DuckDB oracle).
PORTABLE_EMOJI = "[\U0001f300-\U0001f5ff\U0001f600-\U0001f64f\U0001f900-\U0001f9ff]"


def extract_emojis(col: Column | str) -> Column:
    """The kernel as one array<string> expression: every in-range code
    point of ``col``, in order. An emoji-free text gives ``[]`` and a
    NULL text gives NULL, both of which ``explode`` drops."""
    return F.regexp_extract_all(_col(col), F.lit(PORTABLE_EMOJI), 0)


def emoji_tokens(df, text_col: str = "text", out: str = "Emoji"):
    """DataFrame helper: one output row per extracted emoji."""
    return df.select(F.explode(extract_emojis(text_col)).alias(out))
