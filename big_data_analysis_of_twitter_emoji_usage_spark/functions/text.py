"""Word tokenization and text-analysis column functions.

The reference's word kernel (q3/src/main/scala/com/revature/questionthree/
Runner.scala:166-176) splits on single spaces, strips a control-char class,
and keeps only ``^[A-Za-z0-9']+$`` tokens via the (Spark-2.4-only) typed
``explode`` UDTF — replaced here by built-ins (SURVEY §2.4 G4).

Everything is expressed with JVM-side built-ins so the tokenizer runs
inside whole-stage codegen; its patterns are portable between Java regex
(Spark) and RE2 (DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from big_data_analysis_of_twitter_emoji_usage_spark.core import as_col as _col

# Reference q3:167's strip class, portably: its Java spelling uses `&&`
# intersection syntax (Java-regex-only), and the union it actually denotes
# is parens, whitespace and the full Unicode "Other" category (⊇ Cntrl).
# The verbatim Java class is the tests' oracle (tests/reference_kernels.py).
RANDOM_THINGS_PORTABLE = "[()\\s\\pC]"
# Reference q3:168 ("notWords", used positively as the keep-filter).
WORD_KEEP = "^[A-Za-z0-9']+$"


def tokenize_words(col: Column | str) -> Column:
    """q3's word tokenizer as one array<string> expression.

    split(' ') → strip junk chars per-token → keep ^[A-Za-z0-9']+$.
    """
    tokens = F.split(_col(col), " ")
    cleaned = F.transform(
        tokens, lambda t: F.regexp_replace(t, RANDOM_THINGS_PORTABLE, "")
    )
    return F.filter(cleaned, lambda t: t.rlike(WORD_KEEP))


def word_tokens(df, text_col: str = "text", out: str = "word"):
    """One output row per kept word token (q3:170-174 explode chain)."""
    return df.select(F.explode(tokenize_words(text_col)).alias(out))
