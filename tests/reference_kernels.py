"""The reference's text kernels, verbatim: the bug-for-bug fidelity oracle
the engine's one-pass kernels are tested against.

Emoji chain (q1/src/main/scala/com/revature/questionone/Runner.scala:
101-113, constants q1:97-99):

    regexp_replace(text, NOT_EMOJI, "")           -- strip non-emoji chars
    regexp_replace(_,  REGEX_SPACE, " $1")        -- space before each emoji
    split(_, " ") -> explode                      -- tokenize
    filter(token rlike EMOJI)                     -- re-filter
    filter(!contains "(" / ")" / "|")             -- strip metachar artifacts

(the reference's leading ``filter(text rlike EMOJI)`` only prunes rows
whose token list is empty, so it is left out here).

Quirks kept on purpose:

* The char class ``[(\\uD83D\\uDE00-\\uD83D\\uDE4F)|...]`` treats ``(``,
  ``)`` and ``|`` as class members, which is why the final contains-filter
  exists (q1:109). Java regex char classes operate on code points, so the
  ranges are U+1F600–1F64F, U+1F300–1F5FF and U+1F900–1F9FF.
* The space-insertion pattern ``(\\B\\uD83D.{1})|...`` looks like it
  matches a lead surrogate plus one code unit, but a lone lead surrogate
  in a compiled Java pattern matches zero-width against well-formed text,
  so the alternation inserts a space at every ``\\B`` position of the
  stripped text, i.e. before every code point. Lone surrogates cannot
  cross the Py4J bridge (UTF-8), so the pattern is sent as a Spark SQL
  string literal with ``\\uXXXX`` escapes (``F.expr``), identical to the
  reference's Scala literal once in the JVM.

Word tokenizer (q3/src/main/scala/com/revature/questionthree/
Runner.scala:166-176): split on single spaces, strip the Java-only
``RANDOM_THINGS_JAVA`` class per token, keep ``^[A-Za-z0-9']+$``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from big_data_analysis_of_twitter_emoji_usage_spark.core import as_col as _col
from big_data_analysis_of_twitter_emoji_usage_spark.functions.text import WORD_KEEP

# Reference q1:97 — written with real code points here; the JVM receives the
# identical UTF-16 sequence the Scala literal produced.
EMOJI = (
    "[(\U0001f600-\U0001f64f)|(\U0001f300-\U0001f5ff)|(\U0001f900-\U0001f9ff)]"
)
# Reference q1:98 — negation, same members.
NOT_EMOJI = (
    "[^(\U0001f600-\U0001f64f)|(\U0001f300-\U0001f5ff)|(\U0001f900-\U0001f9ff)]"
)
# Reference q1:99, as a Spark-SQL string literal (see module docstring).
REGEX_SPACE_SQL_LITERAL = (
    r"'(\\B\uD83D.{1})|(\\B\uD83C.{1})|(\\B\uD83E.{1})'"
)

# Reference q3:167. The `&&` intersection syntax is Java-regex-only.
RANDOM_THINGS_JAVA = "[(\\s)(\\p{C})(\\p{Cntrl}&&[^\r\n\t])()]"


def spaced_emoji_text(col: Column | str) -> Column:
    """Steps 1-2 of the emoji chain: strip non-emoji, space-separate
    emoji (q1:104-105, `Removed Text` -> `Added Emoji Space`)."""
    stripped = F.regexp_replace(_col(col), NOT_EMOJI, "")
    return F.regexp_replace(stripped, F.expr(REGEX_SPACE_SQL_LITERAL), F.lit(" $1"))


def reference_extract_emojis(col: Column | str) -> Column:
    """The whole emoji chain as one array<string> expression: split, then
    the reference's re-filter and metachar filter (q1:106-109)."""
    tokens = F.split(spaced_emoji_text(col), " ")
    keep = lambda t: (  # noqa: E731
        t.rlike(EMOJI)
        & ~t.contains("(")
        & ~t.contains(")")
        & ~t.contains("|")
    )
    return F.filter(tokens, keep)


def reference_tokenize_words(col: Column | str) -> Column:
    """q3's word tokenizer with the verbatim Java strip class."""
    tokens = F.split(_col(col), " ")
    cleaned = F.transform(tokens, lambda t: F.regexp_replace(t, RANDOM_THINGS_JAVA, ""))
    return F.filter(cleaned, lambda t: t.rlike(WORD_KEEP))
