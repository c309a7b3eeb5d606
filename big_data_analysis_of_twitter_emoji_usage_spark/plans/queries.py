"""The seven reference questions as parameterized plan builders.

Each reference module hard-codes one DataFrame chain (SURVEY §2); the
engine factors them into three builders, parameterized by the token
extractor so the identical plan shape serves both the emoji kernel
(reference parity) and the word kernel (DuckDB-oracle-checkable over the
driver's ``documents`` table — SURVEY §7.3's portable-predicate
mitigation):

- ``token_counts``        q1 / q2 / q7: token frequency, sorted (A1+O1/O2,
                          F5 rlike point-lookup)
- ``global_token_counts`` q3: grand-total counts, no grouping key (A4)
- ``token_by_dimension``  q4 / q5 / q6: token × dimension counts with the
                          double-explode cross product (G2/G3, A2/A3,
                          F5/F6 include/exclude)

The thin wrappers at the bottom (``top_emojis`` etc.) pin the emoji
kernel + tweet column defaults so each reference question reads as one
call; they are what the streaming layer reuses unchanged on unbounded
inputs (the reference's batch/stream duality, SURVEY §2.8).

Scale notes (100 TB): every builder is a narrow scan→generate stage into
one hash aggregate — partial aggregation happens map-side before the
single shuffle on the (low-cardinality) group keys, and the final
``orderBy`` range-partitions the already-aggregated (small) result. No
joins, no driver-side collection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from big_data_analysis_of_twitter_emoji_usage_spark.core import as_col as _col

from big_data_analysis_of_twitter_emoji_usage_spark.functions.emoji import extract_emojis
from big_data_analysis_of_twitter_emoji_usage_spark.functions.text import tokenize_words


def token_counts(
    df: DataFrame,
    text_col: str = "data.text",
    tokens_fn=extract_emojis,
    ascending: bool = False,
    token_rlike: str | None = None,
    out: str = "Emoji",
    count_alias: str = "Count",
) -> DataFrame:
    """q1 'most popular emoji' (q1:101-113), its ascending variant
    (q1:149-162), the rlike point-lookup (q1:204), and q7's historical
    runs (q7:62-107) — one builder.

    Plan: scan → kernel → explode → hash agg → global sort (count,
    token-asc tiebreak — q1:112). ``explode`` drops the rows whose
    token array is empty, which is all the reference's ``rlike``
    pre-filter (q1:103) did.
    """
    tokens = df.select(F.explode(tokens_fn(_col(text_col))).alias(out))
    if token_rlike is not None:
        # F5: parameterized rlike — pattern-match point lookup, the
        # reference's declared semantics (a user '.' matches everything).
        tokens = tokens.filter(_col(out).rlike(token_rlike))
    order = F.asc(count_alias) if ascending else F.desc(count_alias)
    return (
        tokens.groupBy(out)
        .agg(F.count(F.lit(1)).alias(count_alias))
        .orderBy(order, _col(out))
    )


def global_token_counts(
    df: DataFrame,
    text_col: str = "data.text",
    tokens_fn=extract_emojis,
    count_alias: str = "Emoji Count",
) -> DataFrame:
    """q3's grand-total aggregate (q3:104-113 emoji, q3:170-176 words):
    count every extracted token, no grouping key. Returns one row."""
    return df.select(
        F.explode(tokens_fn(_col(text_col))).alias("_tok")
    ).agg(F.count("_tok").alias(count_alias))


def token_by_dimension(
    df: DataFrame,
    text_col: str,
    dim_col: str,
    dim_alias: str,
    explode_dim: bool = False,
    tokens_fn=extract_emojis,
    dim_not_null: bool = True,
    include_rlike: str | None = None,
    exclude_contains: str | None = None,
    token_rlike: str | None = None,
    out: str = "Emoji",
    count_alias: str = "Count",
) -> DataFrame:
    """q4 (emoji × mentioned user, q4:108-123), q5 (× topic category,
    q5:97-112), q6 (× country incl. include/exclude variants,
    q6:107-126,160-177,216-228) — one builder.

    ``explode_dim=True`` reproduces the double-explode cross product
    (G3, q4:116-117): the dimension is an array (e.g. the pulled-up
    ``data.entities.mentions.username``) and every (dim, token) pair per
    row is emitted. Spark allows one generator per select, so the two
    explodes are chained selects, exactly as the reference works around
    the same constraint.

    Filters map to the reference's: ``dim_not_null`` (F3 null guard on the
    expansion), ``include_rlike`` (F5 rlike include), ``exclude_contains``
    (F6 negated contains, q6:219).
    """
    base = df
    if dim_not_null:
        base = base.filter(_col(dim_col).isNotNull())
    # Project once: token array + dimension, carried through (P4).
    step = base.select(
        tokens_fn(_col(text_col)).alias("_toks"), _col(dim_col).alias("_dim")
    )
    if explode_dim:
        step = step.select("_toks", F.explode("_dim").alias(dim_alias))
    else:
        step = step.select("_toks", F.col("_dim").alias(dim_alias))
    if include_rlike is not None:
        step = step.filter(_col(dim_alias).rlike(include_rlike))
    if exclude_contains is not None:
        step = step.filter(~_col(dim_alias).contains(exclude_contains))
    # explode_outer + not-null post-filter instead of inner explode
    # (r7): CollapseProject inlines the kernel array into the Generate
    # input, and InferFiltersFromGenerate then infers a
    # ``size(kernel(text)) > 0`` Filter BELOW it — re-running the whole
    # regexp/transform kernel per row for a same-stage prune that buys
    # nothing. Outer explode is skipped by the rule; token-less rows
    # come out as one null token and are dropped by the cheap output
    # filter (kernel array elements are never null, so this is
    # bit-identical to inner explode). Verified in-plan by
    # tests/test_scale_plans.py::test_token_by_dimension_single_kernel_eval.
    pairs = step.select(dim_alias, F.explode_outer("_toks").alias(out)).filter(
        _col(out).isNotNull()
    )
    if token_rlike is not None:
        pairs = pairs.filter(_col(out).rlike(token_rlike))
    return (
        pairs.groupBy(dim_alias, out)
        .agg(F.count(out).alias(count_alias))
        .orderBy(F.desc(count_alias), _col(dim_alias), _col(out))
    )


# --- Reference-question wrappers (tweet shapes, emoji kernel) -----------


def top_emojis(
    df: DataFrame,
    text_col: str = "data.text",
    ascending: bool = False,
    emoji_rlike: str | None = None,
) -> DataFrame:
    """q1: most/least popular emoji; optional rlike lookup (q1:204)."""
    return token_counts(
        df, text_col, ascending=ascending, token_rlike=emoji_rlike
    )


def emoji_word_counts(df: DataFrame, text_col: str = "data.text") -> DataFrame:
    """q3: total emoji count and total word count side by side.

    The reference runs them as two separate single-value queries
    (q3:104-113, q3:170-176) and divides on a slide (deck slide 10);
    the engine also surfaces the ratio as a column.
    """
    emojis = global_token_counts(df, text_col, extract_emojis, "Emoji Count")
    words = global_token_counts(df, text_col, tokenize_words, "Word Count")
    return emojis.crossJoin(words).select(
        F.col("Emoji Count"),
        F.col("Word Count"),
        (F.col("Emoji Count") / F.col("Word Count")).alias("Ratio"),
    )


def emoji_by_dimension(df: DataFrame, dim: str, **kw) -> DataFrame:
    """q4/q5/q6 via their tweet-shape column paths (SURVEY §1.2)."""
    paths = {
        "username": ("data.entities.mentions.username", "Username", True, "includes"),
        "category": ("data.context_annotations.domain.name", "Name", True, None),
        "country": ("includes.places.country", "Country", True, "includes"),
    }
    dim_col, dim_alias, explode_dim, null_guard_col = paths[dim]
    base = df
    if null_guard_col is not None:
        # F3/F4: the reference null-guards the top-level expansion struct
        # (q4:111, q6:110) — applied *before* projection (SURVEY §7.3).
        base = base.filter(F.col(null_guard_col).isNotNull())
    return token_by_dimension(
        base,
        "data.text",
        dim_col,
        dim_alias,
        explode_dim=explode_dim,
        dim_not_null=True,
        **kw,
    )


def historical_top_emojis(df: DataFrame, text_col: str) -> DataFrame:
    """q7: same frequency table over flat historical shapes —
    ``full_text`` for the 2006-2009 set (q7:73), ``text`` for 2015
    (q7:96)."""
    return token_counts(df, text_col)
