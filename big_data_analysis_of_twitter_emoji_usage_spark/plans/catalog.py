"""The engine's query catalog: every SURVEY §2 capability and every
extension operator as a named (Spark builder, DuckDB oracle SQL) pair.

Each builder takes ``(spark, sf_dir)`` and returns a DataFrame over the
driver's parquet tables (TESTDATA.md); the paired SQL computes the same
result in DuckDB for the differential-correctness gate. Column names and
types are aligned on both sides (the driver hashes values under sorted
column names).

Cross-engine determinism rules used throughout (SURVEY §7.3):
- regexes restricted to the Java∩RE2 common subset for oracle queries
  (the verbatim Java-only reference patterns are covered by PySpark-only
  unit tests in tests/);
- money aggregates go through DECIMAL (exact, order-independent) and are
  cast back to DOUBLE — double SUMs are partition-order-dependent and
  would flap the hash;
- every hash-ish derivation uses md5 hex strings (identical both
  engines), with lexicographic MIN as the MinHash order;
- float outputs are rounded; ranks tie-break on ids.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from big_data_analysis_of_twitter_emoji_usage_spark.core import (
    load_events,
    load_events_stream,
    load_table,
    load_table_stream,
    parquet_schema,
    table_path,
)
from big_data_analysis_of_twitter_emoji_usage_spark.functions.text import WORD_KEEP, tokenize_words
from big_data_analysis_of_twitter_emoji_usage_spark.functions.emoji import PORTABLE_EMOJI, extract_emojis
from big_data_analysis_of_twitter_emoji_usage_spark.plans.queries import (
    emoji_by_dimension,
    global_token_counts,
    token_by_dimension,
    token_counts,
)
from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import (
    MINHASH_P,
    connected_components,
    containment_pairs,
    containment_pairs_cross,
    exact_duplicates,
    keep_best_per_cluster,
    minhash_coeffs,
    near_dup_pairs,
    near_dup_pairs_cross,
    simhash_fingerprints,
    simhash_near_dup_pairs,
)
from big_data_analysis_of_twitter_emoji_usage_spark.operators.relational import (
    asof_join,
    cohort_retention,
    funnel,
    multiset_diff_count,
    range_join,
    salted_aggregate,
    salted_join,
    sessionize,
)
from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
    add_date_partition,
    write_bucketed_table,
    write_parquet_partitioned,
)
from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
    cosine_knn_bruteforce,
    cosine_knn_ivf,
    cosine_knn_join,
    cosine_knn_join_ivf,
    ivf_assignments,
    select_ivf_centroids,
    cosine_knn_sign_lsh,
    cosine_knn_wta,
    lsh_hyperplanes,
    quantize_embeddings,
    wta_pairs,
    embedding_centroids,
    embedding_label_spread,
    embedding_near_dup_pairs,
    embedding_near_dup_pairs_cross,
    embedding_near_dup_pairs_hyperplane,
    embedding_outliers,
)
from big_data_analysis_of_twitter_emoji_usage_spark.operators.text_analysis import (
    BPE_ISH_RE,
    STOPWORDS,
    bpe_token_stats,
    build_vocab,
    curate_corpus,
    doc_fingerprints,
    inverted_index,
    language_id,
    ngram_counts,
    quality_scores,
    tfidf_top_terms,
    token_stats,
    training_data_pipeline,
    unigram_logprob,
)
from big_data_analysis_of_twitter_emoji_usage_spark.operators.shaping import (
    chunk_documents,
    hash_sample,
    mix_sources,
    pack_sequences,
    shuffle_shards,
    stratified_sample,
)
from big_data_analysis_of_twitter_emoji_usage_spark.operators.safety import (
    PII_PATTERNS,
    decontaminate,
    pii_redact,
    pii_scan,
    repetition_scores,
)
from big_data_analysis_of_twitter_emoji_usage_spark.operators.multimodal import (
    attach_binary_payload,
    binary_metadata,
    decode_batch,
    frame_sample_batch,
    resize_batch,
)
from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
    SESSION_DELAY_MINUTES,
    SESSION_GAP,
    SESSION_GAP_MINUTES,
    native_sessionize_stream,
    run_stream_to_memory,
    stateful_sessionize,
    stream_decontaminate_join,
    stream_dedup,
    stream_ivf_index_append,
    stream_near_dedup_embedding,
    stream_near_dedup_minhash,
    stream_stream_interval_join,
    windowed_event_counts,
)

# DuckDB-side word tokenizer (mirrors functions.text.tokenize_words on the
# clean fixture text; the Java-only strip class is a no-op there).
_W = "'^[A-Za-z0-9'']+$'"
_WORDS_CTE = (
    "WITH w AS (SELECT doc_id, lang, source, word FROM ("
    "  SELECT doc_id, lang, source, unnest(string_split(text, ' ')) AS word"
    "  FROM documents) WHERE regexp_matches(word, {w}))"
).format(w=_W)

# 3-word shingles per doc (DuckDB side of operators.dedup.doc_shingles).
_SHINGLES_CTE = (
    "toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),\n"
    "sh AS (SELECT doc_id, unnest(list_distinct(list_transform("
    "range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]"
    "))) AS shingle FROM toks WHERE len(t) >= 3)"
)

# Character 4-grams per doc (dedup.doc_shingle_arrays unit='char').
_CHAR_SHINGLES_CTE = (
    "sh AS (SELECT doc_id, unnest(list_distinct(list_transform("
    "range(1, length(text) - 2), i -> substr(text, i, 4)"
    "))) AS shingle FROM documents WHERE length(text) >= 4)"
)

# knn_lsh banding — ONE definition feeding both the Spark query and the
# generated DuckDB oracle so the baked hyperplane literals can't drift.
# r7 sweep (SCALE.md §similarity): 4 bits × 18 tables = recall@3 0.933
# at sf0.01 vs 0.667 for the r5/r6 5×10, at unchanged bench time.
_KNN_LSH_BITS, _KNN_LSH_TABLES = 4, 18

# knn_wta banding, same single-definition contract. r7 sweep: 4 bits ×
# 26 tables = recall@3 0.933 at sf0.01 / 1.000 at sf0.001 (vs 0.633 /
# 0.63 for the r3–r6 5×10) at unchanged bench time — ordinal bits are
# pure comparisons, so tables are even cheaper than sign-LSH's.
_KNN_WTA_BITS, _KNN_WTA_TABLES = 4, 26

# knn_ivf coarse quantizer, same contract. r9: 16 lists / 6 probes
# hard-assigned (recall@3 0.767 at sf0.01) → 24 lists / 8 probes with
# SPANN-style 2-way boundary replication = recall@3 0.90/0.93/0.90 at
# sf0.001/0.01/0.1. The r9 sweep also measured the alternatives on
# this i.i.d.-gaussian fixture (IVF's worst case — no cluster
# structure): one Lloyd refinement DROPS recall (0.767 → 0.633;
# sample means collapse toward the origin), and raising the probed
# fraction alone plateaus (32/14 hard = 0.800 at frac 0.44). The
# replication point pays 2× posting storage and scan fraction
# 0.67 vs 0.375 — an explicit, bounded cost; curve in SCALE.md.
_KNN_IVF_LISTS, _KNN_IVF_NPROBE, _KNN_IVF_REPL = 24, 8, 2

# Hyperplane embedding-dedup banding (r7), same single-definition
# contract: the upgrade path past coordinate-sign's dim/bits table cap
# (SCALE.md "Measured scaling" — the planted-twin budget experiment).
# 8-bit buckets (256/table, fixture-occupancy ~8) across 6 independent
# mixed-coordinate tables — a table count the coordinate scheme cannot
# reach independently at 16-bit granularity.
_EMB_HP_BITS, _EMB_HP_TABLES = 8, 6


def _minhash_cand_sql(
    shingles_cte: str,
    max_bucket: int | None = None,
    sig_sample_hex: int | None = None,
    num_hashes: int = 8,
    band_size: int = 2,
) -> str:
    """mh/bands/cand CTE chain over any ``sh`` shingle CTE (mirrors
    dedup.minhash_signatures + lsh_candidate_pairs, including the
    optional degenerate-bucket skew guard and the optional hash-mod
    signature-stage shingle sampling of dedup.sample_shingles).
    ``num_hashes``/``band_size`` mirror the operator's banding knobs
    (r7: the char-n-gram query moved to 4 bands of 4)."""
    bands_src = "bands"
    guard = ""
    if max_bucket is not None:
        guard = (
            ",\nbandsf AS (SELECT doc_id, band, sig FROM ("
            " SELECT *, count(*) OVER (PARTITION BY band, sig) AS bc"
            " FROM bands) WHERE bc <= %d)" % max_bucket
        )
        bands_src = "bandsf"
    mh_src = "sh"
    sample_cte = ""
    if sig_sample_hex is not None:
        sample_cte = (
            ",\nshs AS (SELECT doc_id, shingle FROM sh"
            " WHERE substr(md5(shingle), 1, 1) < '%s')" % format(sig_sample_hex, "x")
        )
        mh_src = "shs"
    n_bands = num_hashes // band_size
    # r8 signature scheme: one 32-bit base hash per shingle + seeded
    # universal-hash permutations mod 2^31-1 — the SAME minhash_coeffs
    # literals the Spark operator bakes (dedup.minhash_signatures),
    # mirrored here as plain integer arithmetic. The ':' band separator
    # disambiguates variable-width integer sigs.
    coeffs = minhash_coeffs(num_hashes)
    base_x = "('0x' || substr(md5(shingle), 1, 8))::BIGINT"
    return (
        shingles_cte
        + sample_cte
        + f",\nshx AS (SELECT doc_id, {base_x} AS x FROM {mh_src}),\n"
        + "mh AS (SELECT doc_id, "
        + ", ".join(
            f"min(({a} * x + {b}) % {MINHASH_P}) AS h{i}"
            for i, (a, b) in enumerate(coeffs)
        )
        + " FROM shx GROUP BY doc_id),\n"
        "bands AS ("
        + " UNION ALL ".join(
            "SELECT doc_id, {b} AS band, {sig} AS sig FROM mh".format(
                b=b,
                sig=" || ':' || ".join(
                    f"h{i}::VARCHAR"
                    for i in range(b * band_size, (b + 1) * band_size)
                ),
            )
            for b in range(n_bands)
        )
        + ")"
        + guard
        + ",\ncand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b"
        f" FROM {bands_src} a JOIN {bands_src} b ON a.band = b.band AND a.sig = b.sig"
        " AND a.doc_id < b.doc_id)"
    )


def _near_dup_sql(
    shingles_cte: str,
    threshold: float,
    max_bucket: int | None = None,
    sig_sample_hex: int | None = None,
    num_hashes: int = 8,
    band_size: int = 2,
) -> str:
    """Full LSH-candidates + exact-Jaccard query (mirrors
    dedup.near_dup_pairs) over any shingle CTE. The verify stage always
    uses the FULL ``sh`` set — sampling (if any) only shapes the
    candidate stage, exactly like the Spark operator."""
    return (
        "WITH "
        + _minhash_cand_sql(
            shingles_cte, max_bucket, sig_sample_hex, num_hashes, band_size
        )
        + ",\nsizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),\n"
        "inter AS (SELECT c.id_a, c.id_b, count(*) AS i FROM cand c"
        " JOIN sh sa ON sa.doc_id = c.id_a"
        " JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle"
        " GROUP BY c.id_a, c.id_b)\n"
        "SELECT id_a, id_b, round(i / (na.n + nb.n - i), 6) AS jaccard"
        " FROM inter JOIN sizes na ON na.doc_id = id_a"
        " JOIN sizes nb ON nb.doc_id = id_b"
        f" WHERE i / (na.n + nb.n - i) >= {threshold}"
    )


_MINHASH_CTE = _minhash_cand_sql(_SHINGLES_CTE)


def _cross_near_dup_sql(
    shingles_cte: str,
    left_pred: str,
    right_pred: str,
    threshold: float,
    num_hashes: int = 8,
    band_size: int = 2,
) -> str:
    """DuckDB mirror of ``dedup.near_dup_pairs_cross``: the minhash →
    bands → candidate chain built PER SIDE over ``sh`` restricted by
    ``left_pred`` / ``right_pred``, candidates from the cross band
    join (no ``id_a < id_b`` canonicalization — orientation is
    (reference, new)), exact-Jaccard verify against each side's own
    shingle set."""
    coeffs = minhash_coeffs(num_hashes)
    n_bands = num_hashes // band_size
    base_x = "('0x' || substr(md5(shingle), 1, 8))::BIGINT"

    def side(sfx: str, pred: str) -> str:
        return (
            f"sh{sfx} AS (SELECT doc_id, shingle FROM sh WHERE {pred}),\n"
            f"shx{sfx} AS (SELECT doc_id, {base_x} AS x FROM sh{sfx}),\n"
            f"mh{sfx} AS (SELECT doc_id, "
            + ", ".join(
                f"min(({a} * x + {b}) % {MINHASH_P}) AS h{i}"
                for i, (a, b) in enumerate(coeffs)
            )
            + f" FROM shx{sfx} GROUP BY doc_id),\n"
            f"bands{sfx} AS ("
            + " UNION ALL ".join(
                "SELECT doc_id, {b} AS band, {sig} AS sig FROM mh{sfx}".format(
                    b=b,
                    sfx=sfx,
                    sig=" || ':' || ".join(
                        f"h{i}::VARCHAR"
                        for i in range(b * band_size, (b + 1) * band_size)
                    ),
                )
                for b in range(n_bands)
            )
            + "),\n"
            f"sizes{sfx} AS (SELECT doc_id, count(*) AS n FROM sh{sfx}"
            " GROUP BY doc_id)"
        )

    return (
        "WITH "
        + shingles_cte
        + ",\n"
        + side("a", left_pred)
        + ",\n"
        + side("b", right_pred)
        + ",\ncand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b"
        " FROM bandsa a JOIN bandsb b"
        " ON a.band = b.band AND a.sig = b.sig),\n"
        "inter AS (SELECT c.id_a, c.id_b, count(*) AS i FROM cand c"
        " JOIN sha sa ON sa.doc_id = c.id_a"
        " JOIN shb sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle"
        " GROUP BY c.id_a, c.id_b)\n"
        "SELECT id_a, id_b, round(i / (na.n + nb.n - i), 6) AS jaccard"
        " FROM inter JOIN sizesa na ON na.doc_id = id_a"
        " JOIN sizesb nb ON nb.doc_id = id_b"
        f" WHERE i / (na.n + nb.n - i) >= {threshold}"
    )


def _containment_sql(shingles_cte: str, threshold: float, max_df: int) -> str:
    """DuckDB mirror of dedup.containment_pairs: df-capped postings
    (the stop-shingle guard, mirrored exactly), posting self-join for
    intersection counts, both containment directions over the kept
    shingle sets."""
    return (
        "WITH "
        + shingles_cte
        + ",\ndfc AS (SELECT shingle FROM sh GROUP BY shingle"
        f" HAVING count(*) <= {max_df}),\n"
        "kept AS (SELECT s.doc_id, s.shingle FROM sh s"
        " JOIN dfc USING (shingle)),\n"
        "sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),\n"
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
        " count(*) AS i FROM kept a JOIN kept b"
        " ON a.shingle = b.shingle AND a.doc_id < b.doc_id"
        " GROUP BY 1, 2)\n"
        "SELECT id_a, id_b, i AS n_common,"
        " round(i / na.n, 6) AS containment_a,"
        " round(i / nb.n, 6) AS containment_b"
        " FROM inter JOIN sizes na ON na.doc_id = id_a"
        " JOIN sizes nb ON nb.doc_id = id_b"
        f" WHERE greatest(i / na.n, i / nb.n) >= {threshold}"
    )


def _cross_containment_sql(
    shingles_cte: str,
    threshold: float,
    max_df: int,
    left_pred: str,
    right_pred: str,
) -> str:
    """DuckDB mirror of dedup.containment_pairs_cross: the df cap runs
    over the COMBINED corpus (the whole ``sh`` CTE — the operator's
    union-equivalence contract), the pair join is kept-left × kept-right
    with no id canonicalization, sizes per doc over kept shingles."""
    return (
        "WITH "
        + shingles_cte
        + ",\ndfc AS (SELECT shingle FROM sh GROUP BY shingle"
        f" HAVING count(*) <= {max_df}),\n"
        "kept AS (SELECT s.doc_id, s.shingle FROM sh s"
        " JOIN dfc USING (shingle)),\n"
        "sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),\n"
        f"kepta AS (SELECT * FROM kept WHERE {left_pred}),\n"
        f"keptb AS (SELECT * FROM kept WHERE {right_pred}),\n"
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
        " count(*) AS i FROM kepta a JOIN keptb b"
        " ON a.shingle = b.shingle GROUP BY 1, 2)\n"
        "SELECT id_a, id_b, i AS n_common,"
        " round(i / na.n, 6) AS containment_a,"
        " round(i / nb.n, 6) AS containment_b"
        " FROM inter JOIN sizes na ON na.doc_id = id_a"
        " JOIN sizes nb ON nb.doc_id = id_b"
        f" WHERE greatest(i / na.n, i / nb.n) >= {threshold}"
    )


def _bucket_join_cosine_verify_sql(
    max_bucket: int | None, threshold: float
) -> str:
    """Shared tail of the two sign-LSH dedup oracles (coordinate-sign
    and hyperplane): optional bucket-size guard over b(vec_id, t, bk),
    DISTINCT candidate pairs, cosine verification. ONE definition so a
    guard or threshold fix cannot silently desynchronize the mirrors
    (they were previously verbatim copies)."""
    src = "b"
    guard = ""
    if max_bucket is not None:
        guard = (
            ", bf AS (SELECT vec_id, t, bk FROM ("
            " SELECT *, count(*) OVER (PARTITION BY t, bk) AS bc FROM b)"
            f" WHERE bc <= {max_bucket})"
        )
        src = "bf"
    return (
        guard
        + ", cand AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b"
        f" FROM {src} a JOIN {src} b2"
        " ON a.t = b2.t AND a.bk = b2.bk AND a.vec_id < b2.vec_id),"
        " p AS (SELECT id_a, id_b, list_dot_product(ea.v, eb.v) /"
        " sqrt(list_dot_product(ea.v, ea.v) * list_dot_product(eb.v, eb.v))"
        " AS cos FROM cand JOIN e ea ON ea.vec_id = id_a"
        " JOIN e eb ON eb.vec_id = id_b)"
        " SELECT id_a, id_b, round(cos, 6) AS cosine FROM p"
        f" WHERE cos >= {threshold}"
    )


def _sign_lsh_near_dup_sql(
    bits: int, tables: int, max_bucket: int | None, threshold: float
) -> str:
    """DuckDB mirror of similarity.embedding_near_dup_pairs: per-table
    sign buckets (table t keys on dims [t*bits, (t+1)*bits)), optional
    bucket-size guard, distinct candidate pairs, cosine verification."""
    tbl_selects = " UNION ALL ".join(
        "SELECT vec_id, {t} AS t, concat({chars}) AS bk FROM embeddings".format(
            t=t,
            chars=", ".join(
                f"CASE WHEN embedding[{t * bits + i + 1}] > 0"
                " THEN '1' ELSE '0' END"
                for i in range(bits)
            ),
        )
        for t in range(tables)
    )
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
        f" b AS ({tbl_selects})"
        + _bucket_join_cosine_verify_sql(max_bucket, threshold)
    )


def _sign_lsh_keeper_sql(bits: int, tables: int, threshold: float) -> str:
    """DuckDB mirror of the streaming embedding-dedup keeper rule
    (streaming.jobs.stream_near_dedup_embedding under ordered arrival):
    keep every vector with NO smaller-id bucket-sharing partner at
    cosine >= threshold. The pair CTE is the self-join sign-LSH chain
    with no bucket guard — the streaming query runs its r12
    ``max_bucket`` backstop NON-ENGAGING (cap 64 ≫ the fixture's max
    occupancy), so the guardless mirror stays exact."""
    tbl_selects = " UNION ALL ".join(
        "SELECT vec_id, {t} AS t, concat({chars}) AS bk FROM embeddings".format(
            t=t,
            chars=", ".join(
                f"CASE WHEN embedding[{t * bits + i + 1}] > 0"
                " THEN '1' ELSE '0' END"
                for i in range(bits)
            ),
        )
        for t in range(tables)
    )
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
        f" b AS ({tbl_selects}),"
        " cand AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b"
        " FROM b a JOIN b b2"
        " ON a.t = b2.t AND a.bk = b2.bk AND a.vec_id < b2.vec_id),"
        " p AS (SELECT id_a, id_b, list_dot_product(ea.v, eb.v) /"
        " sqrt(list_dot_product(ea.v, ea.v) * list_dot_product(eb.v, eb.v))"
        " AS cos FROM cand JOIN e ea ON ea.vec_id = id_a"
        " JOIN e eb ON eb.vec_id = id_b),"
        f" dropped AS (SELECT DISTINCT id_b FROM p WHERE cos >= {threshold})"
        " SELECT v.vec_id, v.label FROM embeddings v"
        " LEFT JOIN dropped x ON v.vec_id = x.id_b"
        " WHERE x.id_b IS NULL ORDER BY v.vec_id"
    )


def _cross_sign_lsh_sql(
    bits: int,
    tables: int,
    max_bucket: int | None,
    threshold: float,
    left_pred: str,
    right_pred: str,
) -> str:
    """DuckDB mirror of similarity.embedding_near_dup_pairs_cross:
    per-side coordinate-sign buckets over the SAME table schedule,
    per-side bucket guard, cross (reference × new) candidate join with
    no id canonicalization, cosine verify against each side's own
    vectors."""

    def side(sfx: str, pred: str) -> str:
        tbl_selects = " UNION ALL ".join(
            "SELECT vec_id, {t} AS t, concat({chars}) AS bk"
            " FROM embeddings WHERE {pred}".format(
                t=t,
                pred=pred,
                chars=", ".join(
                    f"CASE WHEN embedding[{t * bits + i + 1}] > 0"
                    " THEN '1' ELSE '0' END"
                    for i in range(bits)
                ),
            )
            for t in range(tables)
        )
        chain = f"b{sfx} AS ({tbl_selects})"
        if max_bucket is not None:
            chain += (
                f", bf{sfx} AS (SELECT vec_id, t, bk FROM ("
                f" SELECT *, count(*) OVER (PARTITION BY t, bk) AS bc"
                f" FROM b{sfx}) WHERE bc <= {max_bucket})"
            )
        return chain

    src_a = "bfa" if max_bucket is not None else "ba"
    src_b = "bfb" if max_bucket is not None else "bb"
    return (
        "WITH ea AS (SELECT vec_id, embedding::DOUBLE[] AS v"
        f" FROM embeddings WHERE {left_pred}),"
        " eb AS (SELECT vec_id, embedding::DOUBLE[] AS v"
        f" FROM embeddings WHERE {right_pred}),"
        f" {side('a', left_pred)}, {side('b', right_pred)},"
        " cand AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b"
        f" FROM {src_a} a JOIN {src_b} b2 ON a.t = b2.t AND a.bk = b2.bk),"
        " p AS (SELECT id_a, id_b, list_dot_product(x.v, y.v) /"
        " sqrt(list_dot_product(x.v, x.v) * list_dot_product(y.v, y.v))"
        " AS cos FROM cand JOIN ea x ON x.vec_id = id_a"
        " JOIN eb y ON y.vec_id = id_b)"
        " SELECT id_a, id_b, round(cos, 6) AS cosine FROM p"
        f" WHERE cos >= {threshold}"
    )


def _knn_join_sql(
    bits: int,
    tables: int,
    max_bucket: int | None,
    k: int,
    left_pred: str,
    right_pred: str,
) -> str:
    """DuckDB mirror of similarity.cosine_knn_join: per-side
    hyperplane-LSH buckets from the SAME ``lsh_hyperplanes``
    coefficient schedule (baked as literals, summed in schedule
    order), per-side guard, DISTINCT cross candidates (mirrors the
    operator's identical-cosine max collapse), cosine + per-left-row
    top-k rank."""
    sig_exprs = ", ".join(
        "concat("
        + ", ".join(
            "CASE WHEN ("
            + " + ".join(f"embedding[{i}]::DOUBLE * {float(s)}" for i, s in terms)
            + ") > 0 THEN '1' ELSE '0' END"
            for terms in row
        )
        + f") AS sig{t}"
        for t, row in enumerate(lsh_hyperplanes(bits, tables, 64))
    )

    def side(sfx: str, pred: str) -> str:
        tbl_selects = " UNION ALL ".join(
            f"SELECT vec_id, {t} AS t, sig{t} AS bk FROM sigs"
            f" WHERE {pred}"
            for t in range(tables)
        )
        chain = f"b{sfx} AS ({tbl_selects})"
        if max_bucket is not None:
            chain += (
                f", bf{sfx} AS (SELECT vec_id, t, bk FROM ("
                f" SELECT *, count(*) OVER (PARTITION BY t, bk) AS bc"
                f" FROM b{sfx}) WHERE bc <= {max_bucket})"
            )
        return chain

    src_l = "bfl" if max_bucket is not None else "bl"
    src_r = "bfr" if max_bucket is not None else "br"
    return (
        "WITH el AS (SELECT vec_id, embedding::DOUBLE[] AS v"
        f" FROM embeddings WHERE {left_pred}),"
        " er AS (SELECT vec_id, embedding::DOUBLE[] AS v"
        f" FROM embeddings WHERE {right_pred}),"
        f" sigs AS (SELECT vec_id, {sig_exprs} FROM embeddings),"
        f" {side('l', left_pred)}, {side('r', right_pred)},"
        " cand AS (SELECT DISTINCT l.vec_id AS left_id, r.vec_id AS right_id"
        f" FROM {src_l} l JOIN {src_r} r ON l.t = r.t AND l.bk = r.bk),"
        " p AS (SELECT left_id, right_id, list_dot_product(x.v, y.v) /"
        " sqrt(list_dot_product(x.v, x.v) * list_dot_product(y.v, y.v))"
        " AS cos FROM cand JOIN el x ON x.vec_id = left_id"
        " JOIN er y ON y.vec_id = right_id)"
        " SELECT left_id, right_id, rank, round(cos, 6) AS cosine FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY left_id"
        "   ORDER BY cos DESC, right_id) AS rank FROM p)"
        f" WHERE rank <= {k}"
    )


def _hyperplane_near_dup_sql(
    bits: int, tables: int, max_bucket: int | None, threshold: float
) -> str:
    """DuckDB mirror of similarity.embedding_near_dup_pairs_hyperplane:
    per-table signature strings from the SAME ``lsh_hyperplanes``
    coefficient schedule (baked as literals, summed in schedule order —
    the bit-exactness contract knn_lsh's oracle established), optional
    bucket-size guard, distinct candidate pairs, cosine verification."""
    sig_exprs = ", ".join(
        "concat("
        + ", ".join(
            "CASE WHEN ("
            + " + ".join(f"embedding[{i}]::DOUBLE * {float(s)}" for i, s in terms)
            + ") > 0 THEN '1' ELSE '0' END"
            for terms in row
        )
        + f") AS sig{t}"
        for t, row in enumerate(lsh_hyperplanes(bits, tables, 64))
    )
    tbl_selects = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, sig{t} AS bk FROM sigs"
        for t in range(tables)
    )
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
        f" sigs AS (SELECT vec_id, {sig_exprs} FROM embeddings),"
        f" b AS ({tbl_selects})"
        + _bucket_join_cosine_verify_sql(max_bucket, threshold)
    )


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "documents")


# --------------------------------------------------------------------------
# Reference-parity queries (the seven questions re-expressed over the
# fixture tables; FIXTURES.md §B mapping).
# --------------------------------------------------------------------------


def q1_top_words(spark, sf):
    """q1 'most popular token' (q1:101-113) with the word kernel."""
    return token_counts(
        _docs(spark, sf), "text", tokenize_words, pre_rlike=None,
        out="word", count_alias="cnt",
    )


def q1_rare_words(spark, sf):
    """q1 option 2: least-popular, ascending sort (q1:149-162)."""
    return token_counts(
        _docs(spark, sf), "text", tokenize_words, pre_rlike=None,
        ascending=True, out="word", count_alias="cnt",
    )


def q1_word_search(spark, sf):
    """q1 option 3: rlike point-lookup on the token (q1:204, F5)."""
    return token_counts(
        _docs(spark, sf), "text", tokenize_words, pre_rlike=None,
        token_rlike="^s", out="word", count_alias="cnt",
    )


def _synth_emoji_cols():
    """The doc_id → (e1, e2) emoji-synthesis arithmetic shared by all
    five kernel-synth builders. EXACTLY one definition on purpose: the
    DuckDB oracles reproduce these tokens with chr(128512 + doc_id % 80)
    / chr(128512 + doc_id * 7 % 80) ground-truth algebra, so the Spark
    side must stay in lockstep everywhere at once — editing the
    arithmetic in one builder but not the others silently broke that
    pairing when each carried its own copy."""
    emoji_pool = F.array(*[F.lit(chr(0x1F600 + i)) for i in range(80)])
    e1 = F.element_at(emoji_pool, (F.col("doc_id") % 80 + 1).cast("int"))
    e2 = F.element_at(emoji_pool, (F.col("doc_id") * 7 % 80 + 1).cast("int"))
    return e1, e2


def q1_top_emojis(spark, sf):
    """q1 flagship 'most popular emoji' (q1:101-113) through the full
    ``token_counts`` plan — rlike pre-filter, strip, tokenize, group,
    sort — on the portable kernel subset (SURVEY §7.3).

    Value-bearing: the fixture corpus is emoji-free, so emoji text is
    synthesized from doc_id arithmetic (two Emoticons-range emoji per
    doc, one parenthesized so the strip branch executes, one repeated as
    a separate token). The oracle reproduces the expected frequency
    table from the same chr() arithmetic with no regex at all — ground
    truth, not a reimplementation. The verbatim Java-regex kernel is
    covered by q1_emoji_kernel_synth + PySpark-only unit tests."""
    e1, e2 = _synth_emoji_cols()
    text = F.concat(
        F.lit("lorem ("), e1, F.lit(") ipsum "), e2, F.lit(" "), e2, F.lit(" end")
    )
    prep = _docs(spark, sf).select(text.alias("text"))
    return token_counts(
        prep, "text",
        tokens_fn=lambda c: F.filter(
            F.split(F.regexp_replace(c, f"[^{PORTABLE_EMOJI[1:-1]} ]", ""), " "),
            lambda t: t.rlike(PORTABLE_EMOJI),
        ),
        pre_rlike=PORTABLE_EMOJI, out="Emoji", count_alias="cnt",
    )


def word_position_counts(spark, sf):
    """posexplode coverage (G1 with ordinality): word frequency by token
    position for the first three positions — e.g. sentence-opener
    distribution. Same one-shuffle shape as token_counts."""
    toks = tokenize_words("text")
    return (
        _docs(spark, sf)
        .select(F.posexplode(toks).alias("pos", "word"))
        .filter(F.col("pos") < 3)
        .groupBy(F.col("pos").cast("long").alias("pos"), F.col("word"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("pos", F.desc("cnt"), "word")
    )


def q1_emoji_kernel_synth(spark, sf):
    """The VERBATIM reference emoji kernel (Java char-class bug, surrogate
    space pattern, metachar filter — functions.emoji.extract_emojis)
    under a value-bearing differential oracle.

    The fixture corpus is emoji-free, so emoji text is synthesized
    deterministically from doc_id: two Emoticons-range emoji per doc,
    wrapped in parens and doubled into an unseparated run so the strip /
    space-insertion / metachar-filter branches all execute. The oracle
    reproduces the EXPECTED tokens from the same arithmetic (chr()) with
    no regex at all — ground truth, not a reimplementation."""
    e1, e2 = _synth_emoji_cols()
    text = F.concat(
        F.lit("lorem ("), e1, F.lit(") ipsum | "), e2, e2, F.lit(" end")
    )
    toks = _docs(spark, sf).select(
        F.explode(extract_emojis(text)).alias("Emoji")
    )
    return (
        toks.groupBy("Emoji")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "Emoji")
    )


def q1_kernel_equiv(spark, sf):
    """Cross-kernel drift detector (r2 verdict #5): the VERBATIM Java
    kernel (char-class bug + surrogate space pattern + metachar filter)
    and the PORTABLE kernel (clean char class, no artifacts) run on the
    SAME synth text inside one plan, labeled and unioned. The oracle
    builds the expected table once from chr() arithmetic and duplicates
    it under both labels — so if EITHER kernel drifts from the other (or
    from ground truth), its half of the result hash-mismatches. The text
    exercises the divergence-prone branches (parens, pipe, spacing) on
    input where the two kernels provably agree."""
    e1, e2 = _synth_emoji_cols()
    text = F.concat(
        F.lit("lorem ("), e1, F.lit(") ipsum | "),
        e2, F.lit(" "), e2, F.lit(" end"),
    )
    docs = _docs(spark, sf).select(text.alias("text"))
    verbatim = docs.select(
        F.explode(extract_emojis("text")).alias("Emoji"),
        F.lit("verbatim").alias("kernel"),
    )
    portable = docs.select(
        F.explode(
            F.filter(
                F.split(
                    F.regexp_replace("text", f"[^{PORTABLE_EMOJI[1:-1]} ]", ""),
                    " ",
                ),
                lambda t: t.rlike(PORTABLE_EMOJI),
            )
        ).alias("Emoji"),
        F.lit("portable").alias("kernel"),
    )
    return (
        verbatim.unionByName(portable)
        .groupBy("kernel", "Emoji")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("kernel", F.desc("cnt"), "Emoji")
    )


def q4_emoji_by_user_synth(spark, sf):
    """The q4 double-explode cross product (G3, q4:116-117) under a
    value-bearing oracle: synthesized username *arrays* and emoji text,
    every (mention, emoji) pair per row emitted through the same
    chained-explode plan the reference uses. The oracle rebuilds the
    cross product with UNION ALL + a doc_id join — no arrays, no regex."""
    e1, e2 = _synth_emoji_cols()
    users = F.array(
        F.concat(F.lit("user"), (F.col("doc_id") % 5).cast("string")),
        F.concat(F.lit("user"), ((F.col("doc_id") + 1) % 5).cast("string")),
    )
    prep = _docs(spark, sf).select(
        F.concat(e1, F.lit(" mid "), e2, e2).alias("text"),
        users.alias("users"),
    )
    return token_by_dimension(
        prep, "text", "users", "Username",
        explode_dim=True, tokens_fn=extract_emojis, pre_rlike=None,
        out="Emoji", count_alias="cnt",
    )


def q3_ratio_synth(spark, sf):
    """q3's emoji-per-word ratio (two global aggregates + cross join —
    the division the reference did on a slide, deck slide 10) with BOTH
    verbatim kernels on synthesized text whose expected counts are pure
    doc_id arithmetic: per doc, 2 + (doc_id % 4) word tokens and 3 emoji
    tokens (one parenthesized, two as an unseparated run)."""
    e1, e2 = _synth_emoji_cols()
    pad = F.repeat(F.lit("pad "), (F.col("doc_id") % 4).cast("int"))
    text = F.concat(pad, F.lit("alpha ("), e1, F.lit(") beta "), e2, e2)
    prep = _docs(spark, sf).select(text.alias("text"))
    emojis = global_token_counts(prep, "text", extract_emojis, "emoji_count")
    words = global_token_counts(prep, "text", tokenize_words, "word_count")
    return emojis.crossJoin(words).select(
        "emoji_count",
        "word_count",
        F.round(F.col("emoji_count") / F.col("word_count"), 6).alias("ratio"),
    )


def q3_corpus_counts(spark, sf):
    """q3 grand totals (q3:104-113/170-176): words, docs, words-per-doc."""
    toks = _docs(spark, sf).select(
        "doc_id", F.explode(tokenize_words("text")).alias("word")
    )
    return toks.agg(
        F.count(F.lit(1)).alias("word_count"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.round(F.count(F.lit(1)) / F.countDistinct("doc_id"), 6).alias(
            "words_per_doc"
        ),
    )


def q4_words_by_source(spark, sf):
    """q4 shape (token × dimension, q4:108-123): word × source."""
    return token_by_dimension(
        _docs(spark, sf), "text", "source", "source",
        tokens_fn=tokenize_words, pre_rlike=None,
        out="word", count_alias="cnt",
    )


def q5_words_by_lang(spark, sf):
    """q5 shape (token × category with named agg, q5:97-112)."""
    return token_by_dimension(
        _docs(spark, sf), "text", "lang", "lang",
        tokens_fn=tokenize_words, pre_rlike=None,
        out="word", count_alias="cnt",
    )


def q6_words_by_lang_excl(spark, sf):
    """q6 exclude-one variant (negated contains, q6:216-228)."""
    return token_by_dimension(
        _docs(spark, sf), "text", "lang", "lang",
        tokens_fn=tokenize_words, pre_rlike=None,
        exclude_contains="e", out="word", count_alias="cnt",
    )


def q6_word_search_by_lang(spark, sf):
    """q6 one-dimension-value variant (rlike include, q6:160-177)."""
    return token_by_dimension(
        _docs(spark, sf), "text", "lang", "lang",
        tokens_fn=tokenize_words, pre_rlike=None,
        include_rlike="^e", out="word", count_alias="cnt",
    )


def q7_events_early(spark, sf):
    """q7 historical-slice shape (q7:62-85): counts over a time range."""
    ev = load_events(spark, sf)
    return (
        ev.filter(F.col("ts") < F.to_timestamp(F.lit("2024-01-15 00:00:00")))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "event_type")
    )


def q7_events_late(spark, sf):
    """q7's second slice (q7:87-108): the complementary range."""
    ev = load_events(spark, sf)
    return (
        ev.filter(F.col("ts") >= F.to_timestamp(F.lit("2024-01-15 00:00:00")))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "event_type")
    )


def _tweet_records(doc_ids, shape: str):
    """Deterministic tweet-shaped JSON records from doc_id arithmetic.

    Every record carries the emoji text (two Emoticons-range emoji: one
    parenthesized, one doubled into an unseparated run — all kernel
    branches execute); one doc in ten omits the shape's expansion fields
    so the reference's F3 null guards (q4:111, q5:100, q6:110) filter
    real rows. Shapes mirror SURVEY §1.2's Twitter-v2 query strings.
    """
    import json as _json

    for d in doc_ids:
        e1, e2 = chr(0x1F600 + d % 80), chr(0x1F600 + d * 7 % 80)
        data = {"id": str(d), "text": f"lorem ({e1}) ipsum | {e2}{e2} end"}
        rec = {"data": data}
        if d % 10 != 0:
            if shape == "mentions":
                data["entities"] = {
                    "mentions": [
                        {"username": f"user{d % 5}"},
                        {"username": f"user{(d + 1) % 5}"},
                    ]
                }
                rec["includes"] = {
                    "users": [{"id": str(d), "username": f"user{d % 5}"}]
                }
            elif shape == "categories":
                data["context_annotations"] = [
                    {"domain": {"id": str(d % 7), "name": f"cat{d % 7}"}},
                    {"domain": {"id": str((d + 2) % 7), "name": f"cat{(d + 2) % 7}"}},
                ]
            elif shape == "geo":
                data["geo"] = {"place_id": f"place{d}"}
                rec["includes"] = {
                    "places": [{"id": f"place{d}", "country": f"C{d % 6}"}]
                }
            else:  # pragma: no cover
                raise ValueError(shape)
        yield _json.dumps(rec)


def _source_stamp(src: str) -> str:
    """Staleness stamp of a staging source file: its path, size,
    mtime_ns and the md5 of its last 64 KB. O(1) per call, however large
    the table grows. The parquet FOOTER tail is the content component:
    an mtime-preserving same-size replace (tar -x, rsync -a, cp -p)
    still changes the footer's row-group stats/offsets."""
    import hashlib

    st = _os.stat(src)
    with open(src, "rb") as fh:
        fh.seek(max(0, st.st_size - 65536))
        tail_md5 = hashlib.md5(fh.read()).hexdigest()
    return f"{_os.path.abspath(src)}:{st.st_size}:{st.st_mtime_ns}:{tail_md5}"


def _stage_once(
    name: str, src: str, build, stamp_extra: str = "", reuse: bool = True
) -> str:
    """Stage a scratch directory built from the source file ``src`` once
    per source stamp and return its path. The directory is
    ``<tmp>/spark_graft_scratch/<name>_<hash of src's abspath>``, so two
    fixture dirs with the same basename do not collide. It is reused
    while ``reuse`` holds and its ``_STAGE_DONE`` marker holds the stamp
    (``_source_stamp`` plus ``stamp_extra``); else it is cleared,
    ``build(out)`` runs, and the marker is written last, so a partial
    build is never reused. The underscore-prefixed marker is invisible
    to Spark readers."""
    import hashlib
    import shutil
    import tempfile

    out = _os.path.join(
        tempfile.gettempdir(),
        "spark_graft_scratch",
        f"{name}_{hashlib.md5(_os.path.abspath(src).encode()).hexdigest()[:10]}",
    )
    stamp = f"{_source_stamp(src)}{stamp_extra}"
    marker = _os.path.join(out, "_STAGE_DONE")
    if reuse and _os.path.isfile(marker):
        with open(marker, encoding="utf-8") as f:
            if f.read() == stamp:
                return out
    if _os.path.isdir(out):
        shutil.rmtree(out)
    build(out)
    with open(marker, "w", encoding="utf-8") as f:
        f.write(stamp)
    return out


def _synth_tweet_dir(sf: str, shape: str) -> str:
    """Materialize the ``shape`` tweet corpus for this fixture dir via
    the rolling-JSONL ingester (atomic tmp→rename, S3 — ingest.py
    mirrors q1:240-246), staged once per source stamp. Driver-side by
    design: it replaces the reference's HTTP ingester thread, not a
    query stage."""
    import pyarrow.parquet as pq

    from big_data_analysis_of_twitter_emoji_usage_spark.sources.ingest import (
        RollingJsonlWriter,
    )

    src = table_path(sf, "documents")

    def build(out: str) -> None:
        doc_ids = sorted(
            pq.read_table(src, columns=["doc_id"]).column("doc_id").to_pylist()
        )
        RollingJsonlWriter(out, lines_per_file=1000).drain(
            _tweet_records(doc_ids, shape)
        )

    return _stage_once(f"tweets_{shape}", src, build)


def q4_tweets_end_to_end(spark, sf):
    """The reference's ACTUAL q4 entry path, end-to-end under a value
    oracle (q4:102-123): tweet-shaped nested JSON → rolling-JSONL
    ingester → batch read with the declared TWEETS_MENTIONS schema (S1;
    the engine's replacement for the reference's inference pass, SURVEY
    §1.3) → ``emoji_by_dimension('username')``: nested-struct projection
    (P1), array-of-struct username pull-up (P2, q4:110), F3 null guard
    on the ``includes`` expansion (q4:111), verbatim emoji kernel, and
    the double-explode (mention × emoji) cross product (G3, q4:116-117).
    """
    from big_data_analysis_of_twitter_emoji_usage_spark import schemas
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.readers import (
        read_tweets,
    )

    tweets = read_tweets(
        spark, _synth_tweet_dir(sf, "mentions"), schemas.TWEETS_MENTIONS
    )
    return emoji_by_dimension(tweets, "username", out="Emoji", count_alias="cnt")


def q5_tweets_categories(spark, sf):
    """q5's entry path (q5:91-112): emoji × topic category over the
    TWEETS_CATEGORIES shape — ``data.context_annotations.domain.name``
    pulled up through the array-of-struct (P2, q5:99), null-guarded
    (q5:100), double-exploded against the kernel tokens."""
    from big_data_analysis_of_twitter_emoji_usage_spark import schemas
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.readers import (
        read_tweets,
    )

    tweets = read_tweets(
        spark, _synth_tweet_dir(sf, "categories"), schemas.TWEETS_CATEGORIES
    )
    return emoji_by_dimension(tweets, "category", out="Emoji", count_alias="cnt")


def q6_tweets_geo(spark, sf):
    """q6's entry path (q6:102-126): emoji × country over the TWEETS_GEO
    shape — ``includes.places.country`` pull-up (q6:109), includes null
    guard (q6:110)."""
    from big_data_analysis_of_twitter_emoji_usage_spark import schemas
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.readers import (
        read_tweets,
    )

    tweets = read_tweets(
        spark, _synth_tweet_dir(sf, "geo"), schemas.TWEETS_GEO
    )
    return emoji_by_dimension(tweets, "country", out="Emoji", count_alias="cnt")


def q2_tweets_stream_top_emojis(spark, sf):
    """q2's entry path (q2:96-120): the q1 emoji-frequency plan on an
    UNBOUNDED file-source scan of the tweet directory — declared schema
    (the reference borrowed a batch inference pass, q2:96-97), verbatim
    kernel, complete-mode sorted aggregate — driven with availableNow
    into a memory sink. Batch/stream duality made oracle-checkable: the
    final table equals the batch q1 result, which is what the SQL
    computes."""
    from big_data_analysis_of_twitter_emoji_usage_spark import schemas
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.readers import (
        stream_tweets,
    )

    stream = stream_tweets(
        spark, _synth_tweet_dir(sf, "mentions"), schemas.TWEETS_MENTIONS
    )
    counted = token_counts(stream, "data.text", out="Emoji", count_alias="cnt")
    return run_stream_to_memory(spark, counted, "q2_tweets_stream_sink")


def event_value_percentiles_approx(spark, sf):
    """Sketch percentiles (``approx_percentile``) made SELF-VERIFYING
    (r4; previously a rows-only gate entry): sketch outputs are
    within-tolerance of the exact quantiles, not bit-equal, so no hash
    oracle can pair the raw values — instead the tolerance assertion
    runs INSIDE the Spark plan and the booleans are what the driver
    hashes. Each ``approx_percentile`` sample must land inside the
    exact [q-0.02, q+0.02] quantile bracket of its group (the same
    bracket tests/test_oracle_parity.py checked driver-side in r2/r3);
    the oracle pins every bracket check true.

    The sketch is the 100 TB path: it folds values into a bounded
    digest that merges map-side like any partial aggregate, while exact
    ``percentile()`` buffers every group value in one aggregation
    buffer — the exact brackets here exist only to judge the sketch at
    test scale (the exact query next door carries the value oracle)."""
    ev = load_events(spark, sf)
    checks = []
    for q in (0.5, 0.9, 0.99):
        lo, hi = max(q - 0.02, 0.0), min(q + 0.02, 1.0)
        a = F.expr(f"approx_percentile(value, {q}, 10000)")
        checks.append(
            # coalesce: a group whose value column is entirely NULL gets
            # NULL from both percentile and approx_percentile — the check
            # is vacuously true there, matching the oracle's pinned true.
            F.coalesce(
                (F.expr(f"percentile(value, {lo})") - 1e-9 <= a)
                & (a <= F.expr(f"percentile(value, {hi})") + 1e-9),
                F.lit(True),
            ).alias(f"p{int(q * 100)}_ok")
        )
    return ev.groupBy("event_type").agg(*checks).orderBy("event_type")


def event_value_percentiles_sketch(spark, sf):
    """Sketch-ONLY percentiles (r6; the bench twin the r4/r5 verdicts
    asked for): ``event_value_percentiles_approx`` next door judges the
    sketch against exact ``percentile()`` brackets, which buffers every
    group value — the precise 100 TB hazard the sketch exists to avoid,
    so its bench time measured the verifier. This entry's plan contains
    NO exact percentile: the sketch is verified by its own contract —
    rank error. ``approx_percentile(value, q, 10000)`` must return a
    group element whose rank is within ±ε·n of q·n; the check is a
    second cheap scan counting ``value <= a`` / ``value < a`` per group
    (map-side conditional counts, broadcast join on the 5-row sketch
    result — no sort, no value buffering anywhere), with the same ±0.02
    tolerance the bracket query uses. A monotonicity bit (p50 ≤ p90 ≤
    p99) rides along. The oracle pins every boolean true; all-NULL
    groups are vacuously true via coalesce, as in the bracket query.

    100 TB shape: two scans of the fact (sketch agg, rank-count agg),
    both partial-aggregated map-side; the sketch digest merges like any
    partial aggregate; the tiny per-group sketch row broadcasts."""
    ev = load_events(spark, sf)
    qs = (0.5, 0.9, 0.99)
    sketch = ev.groupBy("event_type").agg(
        F.count("value").alias("_n"),
        *[
            F.expr(f"approx_percentile(value, {q}, 10000)").alias(
                f"_a{int(q * 100)}"
            )
            for q in qs
        ],
    )
    probe = ev.select("event_type", "value").join(
        F.broadcast(sketch), "event_type"
    )
    counted = probe.groupBy("event_type").agg(
        F.first("_n").alias("_n"),
        *[F.first(f"_a{int(q * 100)}").alias(f"_a{int(q * 100)}") for q in qs],
        *[
            F.sum(
                F.when(F.col("value") <= F.col(f"_a{int(q * 100)}"), 1).otherwise(0)
            ).alias(f"_le{int(q * 100)}")
            for q in qs
        ],
        *[
            F.sum(
                F.when(F.col("value") < F.col(f"_a{int(q * 100)}"), 1).otherwise(0)
            ).alias(f"_lt{int(q * 100)}")
            for q in qs
        ],
    )
    checks = []
    for q in qs:
        p = int(q * 100)
        lo, hi = max(q - 0.02, 0.0), min(q + 0.02, 1.0)
        checks.append(
            F.coalesce(
                (F.col(f"_le{p}") / F.col("_n") >= F.lit(lo) - 1e-9)
                & (F.col(f"_lt{p}") / F.col("_n") <= F.lit(hi) + 1e-9),
                F.lit(True),
            ).alias(f"p{p}_rank_ok")
        )
    checks.append(
        F.coalesce(
            (F.col("_a50") <= F.col("_a90")) & (F.col("_a90") <= F.col("_a99")),
            F.lit(True),
        ).alias("mono_ok")
    )
    return counted.select("event_type", *checks).orderBy("event_type")


def event_distinct_users_sketch(spark, sf):
    """Cardinality sketch (r6; the operator family the catalog lacked):
    per-type distinct users via HyperLogLog++
    (``approx_count_distinct``, rsd 2%) self-verified in-plan against
    the exact ``countDistinct`` — |hll − exact| must sit within 6% of
    exact (+10 absolute slack for tiny groups). The exact count is the
    value-bearing output column (full hash oracle); the sketch check is
    the pinned-true boolean, the same contract shape as the percentile
    sketch queries.

    100 TB judgment: exact COUNT(DISTINCT) shuffles every (group,
    value) pair to dedup before counting; the HLL digest is a
    fixed-size (~KB) buffer that partial-aggregates map-side and merges
    like any decomposable agg — the only thing crossing the exchange is
    one digest per group per map task.

    r9 reshape, found by the third events decade (100M rows): the r6
    shape put BOTH aggregates in one ``agg()``. Spark plans mixed
    distinct + non-distinct aggregates with the expand rewrite, whose
    first-phase partial aggregation keys on (group, DISTINCT KEY) — so
    the "fixed-size" HLL buffer materializes once per (type, user)
    PAIR (7.5M × ~4 KB digests ≈ 30 GB of agg state at 1.5M users):
    measured 124.7 s vs 10.9 s for the exact aggregate alone and 3.3 s
    for the HLL alone. The reshape computes them in separate plans —
    the HLL partial-merges off the raw scan, the exact goes through
    the standard two-stage dedup-then-count (8.9 s measured, beating
    the single-stage distinct agg) — and broadcast-joins the two
    per-type rows: 124.7 → 12.7 s at 100M rows, identical output,
    oracle unchanged."""
    ev = load_events(spark, sf)
    hll = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("_a")
    )
    agg = (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("user_id").alias("n_exact"))
        .join(F.broadcast(hll), "event_type")
    )
    return agg.select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("_a") - F.col("n_exact"))
            <= F.col("n_exact") * 0.06 + F.lit(10)
        ).alias("hll_ok"),
    ).orderBy("event_type")


def event_top_users_sketch(spark, sf):
    """Frequency sketch (r7; completes the sketch triad — quantiles,
    cardinality, now heavy hitters): per-type top-5 users via
    ``approx_top_k`` (Spark 4's DataSketches frequent-items aggregate),
    self-verified in-plan with the family's pinned-boolean contract.

    Two checks per group, both against the exact per-(type, user)
    counts: ``bound_ok`` — every sketched item's estimate sits within
    the sketch's published error envelope (ε = 4·n/maxItemsTracked,
    +1 absolute slack; exact whenever distinct users ≤ maxItemsTracked,
    which covers every test sf) — and ``coverage_ok`` — no item OUTSIDE
    the sketch's top-k has an exact count more than ε above the
    lightest item inside it (the top-k set is right up to ties and
    sketch error). ``n_rows`` (the exact per-type row count, a plain
    decomposable agg riding the same pass) is the value-bearing oracle
    column.

    The sketch may legitimately return an EMPTY list: DataSketches'
    frequent-items reporting is no-false-positives, so once distinct
    users outgrow maxItemsTracked AND traffic is near-uniform, no item
    is *provably* frequent — the r7 decade run (sf1.0-equivalent
    events, ~200k distinct users/type vs 4096 tracked) hit exactly
    this. The plan therefore keeps every group alive through an
    ``explode_outer`` + left join, and both checks go vacuously true
    where there is nothing to check — an earlier inner-explode shape
    silently dropped such groups, which the decade experiment caught
    as a 0-row result.

    100 TB judgment: the sketch path is ONE fixed-size (~maxItemsTracked
    entries) buffer per group per map task, merged like any partial
    aggregate — the shape an unbounded-cardinality heavy-hitter query
    must take, vs exact groupBy(type, user) which shuffles one row per
    distinct pair. The exact side here exists only to judge the sketch
    at test scale, exactly like the percentile-bracket query next door
    (``event_value_percentiles_sketch`` carries the sketch-only bench
    twin's role for percentiles; at this family's bench time a
    sketch-only twin adds nothing — the exact agg IS the oracle)."""
    ev = load_events(spark, sf).select("event_type", "user_id")
    return _freq_sketch_checked(ev, k=5, tracked=4096)


def _freq_sketch_checked(ev, k: int, tracked: int):
    """The event_top_users_sketch plan body, parameterized so tests can
    force the empty-sketch (no provable heavy hitter) regime with a
    tiny ``tracked`` instead of synthesizing 10× data."""
    sk = ev.groupBy("event_type").agg(
        F.expr(f"approx_top_k(user_id, {k}, {tracked})").alias("_tk"),
        F.count(F.lit(1)).alias("_rows"),
    )
    # explode_outer keeps empty-sketch groups; _tk is an Aggregate
    # output attribute, so no expensive-clone hazard (core.py note).
    items = sk.select(
        "event_type",
        "_rows",
        F.explode_outer("_tk").alias("_it"),
    ).select(
        "event_type",
        "_rows",
        F.col("_it.item").alias("_item"),
        F.col("_it.count").alias("_est"),
    )
    # exact counts renamed BEFORE the join: items and exact share the
    # ev lineage, so joining on raw attribute equality would build a
    # self-comparison predicate (Spark's "trivially true equals"
    # self-join trap) — renamed columns force an unambiguous condition.
    exact = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .select(
            F.col("event_type").alias("_etype"),
            F.col("user_id").alias("_uid"),
            "_cnt",
        )
    )
    eps = F.col("_rows") * F.lit(4.0) / F.lit(tracked) + F.lit(1.0)
    joined = items.join(
        exact,
        (F.col("event_type") == F.col("_etype"))
        & (F.col("_item") == F.col("_uid")),
        "left",
    ).select("event_type", "_rows", "_est", "_cnt")
    checked = joined.groupBy("event_type").agg(
        # min == AND over the sketched items; all-null (empty sketch)
        # leaves NULL, coalesced vacuously true below.
        F.min(
            F.when(
                F.col("_est").isNotNull(),
                F.abs(F.col("_est") - F.col("_cnt")) <= eps,
            )
        ).alias("_bound"),
        F.min("_cnt").alias("_min_in"),
        F.first("_rows").alias("_rows"),
    )
    outside = (
        exact.join(
            items.select("event_type", "_item"),
            (F.col("_etype") == F.col("event_type"))
            & (F.col("_uid") == F.col("_item")),
            "left_anti",
        )
        .groupBy(F.col("_etype").alias("event_type"))
        .agg(F.max("_cnt").alias("_out_max"))
    )
    return (
        checked.join(F.broadcast(outside), "event_type", "left")
        .select(
            "event_type",
            F.col("_rows").alias("n_rows"),
            F.coalesce(F.col("_bound"), F.lit(True)).alias("bound_ok"),
            F.coalesce(
                F.col("_out_max") <= F.col("_min_in") + eps, F.lit(True)
            ).alias("coverage_ok"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Streaming (S2/S5/A5): same builders on an unbounded source, driven to a
# checkable final state. Batch/stream duality is the contract (§2.8).
# --------------------------------------------------------------------------


def q2_stream_top_words(spark, sf):
    """q2: the q1 plan on a file-source stream, complete mode (q2:96-120),
    driven with availableNow into a memory sink; result equals q1's."""
    stream = load_table_stream(spark, sf, "documents")
    counted = token_counts(
        stream, "text", tokenize_words, pre_rlike=None,
        out="word", count_alias="cnt",
    )
    return run_stream_to_memory(spark, counted, "q2_stream_top_words_sink")


def stream_windowed_events(spark, sf):
    """Watermarked tumbling-day counts (SURVEY §7.6 modernization),
    complete mode so every window lands in the memory sink."""
    stream = load_events_stream(spark, sf)
    win = windowed_event_counts(stream).select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n",
    )
    return run_stream_to_memory(spark, win, "stream_windowed_events_sink")


# --------------------------------------------------------------------------
# Relational extensions (joins/windows the reference lacks; SURVEY §2.7).
# --------------------------------------------------------------------------


def tpch_q1_pricing(spark, sf):
    """TPC-H Q1 shape: the canonical multi-agg scan. DECIMAL-exact money
    sums cast back to double (see module docstring)."""
    li = load_table(spark, sf, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def join_revenue_by_nation(spark, sf):
    """3-way join: orders ⋈ customer ⋈ nation (nation broadcast — a
    25-row dim never deserves a shuffle), revenue per nation."""
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation", spread_scan=False)
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


def tpch_q5_local_supply(spark, sf):
    """TPC-H Q5 shape: the 6-table join with a same-nation correlation
    (customer and supplier share a nation) — the canonical
    join-ordering + dimension-broadcast workload.

    Scale plan: region filters nation FIRST (5→~5 rows), and the
    region⋈nation product is **broadcast** — the fact-side joins
    (customer⋈orders on custkey, ⋈lineitem on orderkey, ⋈supplier on
    suppkey) are the only shuffles, each on its natural key, and the
    same-nation predicate rides the supplier join as a residual
    condition instead of a fourth shuffle. AQE re-plans the supplier
    side to broadcast when it fits (it does at test SFs)."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    supp = load_table(spark, sf, "supplier", spread_scan=False)
    nation = load_table(spark, sf, "nation", spread_scan=False)
    region = load_table(spark, sf, "region", spread_scan=False)
    dims = F.broadcast(
        nation.join(
            region,
            (F.col("n_regionkey") == F.col("r_regionkey"))
            & (F.col("r_name") == "ASIA"),
        ).select("n_nationkey", "n_name")
    )
    lo = F.to_timestamp(F.lit("1996-01-01 00:00:00"))
    hi = F.to_timestamp(F.lit("1997-01-01 00:00:00"))
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        cust.join(dims, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


def funnel_events(spark, sf):
    """view→click→purchase ordered funnel over events — chained window
    minima on one user partitioning, then a single-row count."""
    return funnel(load_events(spark, sf), ["view", "click", "purchase"])


def cohort_retention_events(spark, sf):
    """Weekly cohort × week-offset retention matrix (two exchanges, no
    fact self-join)."""
    return cohort_retention(load_events(spark, sf))


def anomaly_zscore_events(spark, sf):
    """Per-type z-score anomaly detection: events whose value deviates
    ≥ 3σ from their event_type's mean. Population σ matches the
    oracle's stddev_pop.

    r8 reshape, caught by the events second decade: the r2–r7 plan
    computed the grouped moments with a WINDOW over event_type — a
    handful of distinct types means a handful of window partitions,
    each materializing millions of rows on one task (measured 14× for
    100× events, the family's outlier; every sibling was 1.4–3.4×).
    Now a two-pass shape: groupBy the type for a rows-=-n_types
    moments relation (map-side partial aggregation), broadcast it
    back onto the fact, and project the score — the scan stays
    embarrassingly parallel at any corpus size and any type
    cardinality skew (measured 8.58 → 2.35 s at 10M events — the
    100× ratio drops from 14× into the family's 1.4–3.4× band;
    sf0.1 unchanged within noise)."""
    ev = load_events(spark, sf)
    moments = ev.groupBy("event_type").agg(
        F.avg("value").alias("_mu"),
        F.stddev_pop("value").alias("_sigma"),
    )
    z = (F.col("value") - F.col("_mu")) / F.col("_sigma")
    return (
        ev.join(F.broadcast(moments), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 6).alias("zscore"),
        )
        .filter(F.abs(F.col("zscore")) >= 3.0)
        .orderBy("event_id")
    )


def salted_agg_events(spark, sf):
    """Skew-free two-stage aggregation over the 5-hot-key event_type
    column: identical result to a plain GROUP BY (the salt only changes
    the exchange distribution), which is exactly what the oracle
    checks."""
    return salted_aggregate(
        load_events(spark, sf), ["event_type"], sum_cols=["value"]
    )


def salted_join_events(spark, sf):
    """Skew-spreading salted shuffle join (r5; join analog of
    salted_agg_events): events fact ⋈ customer dim on user_id =
    c_custkey, with the fact salted on xxhash64(event_id) and the dim
    replicated ×16 so a hot user spreads across 16 reducers. The salt
    never changes which rows match — the oracle is the PLAIN join +
    aggregate. Aggregated per market segment (DECIMAL-exact sums cast
    back to double) so the output is compact and hash-stable."""
    ev = load_events(spark, sf)
    cust = load_table(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = salted_join(
        ev, cust, fact_key="user_id", dim_key="c_custkey",
        salt_from="event_id", salt_buckets=16,
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("c_mktsegment")
    )


def _executed_plan(df) -> str:
    """Physical-plan string for plan-property assertions. Prefers the
    classic-Spark ``_jdf.queryExecution()`` handle; under Spark Connect
    (no ``_jdf``) falls back to the formatted explain text, so the
    layout queries degrade to the public API instead of crashing."""
    jdf = getattr(df, "_jdf", None)
    if jdf is not None:
        return jdf.queryExecution().executedPlan().toString()
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _assert_plan_contains(df, needle: str, what: str) -> str:
    """Raise unless the physical plan contains ``needle`` — used by the
    layout queries so their green CORRECTNESS row attests the PLAN
    property (pruning), not just the values. Returns the plan string so
    callers can make further assertions without re-rendering it."""
    plan = _executed_plan(df)
    if needle.lower() not in plan.lower():
        raise RuntimeError(
            f"{what}: expected physical plan to contain {needle!r}"
        )
    return plan


def _partitioned_events_dir(spark, sf) -> str:
    """Materialize the events table as ds=yyyy-MM-dd hive-layout parquet
    under the system temp dir and return the path, staged once per
    source stamp (r6; the r5 version rewrote the whole table on EVERY
    invocation, so the two pruning queries benchmarked the write, not
    the pruned scan they exist to demonstrate). The at-rest layout is the
    engine's substitute for the reference's per-range directory
    pointing (q7:64,89): time slicing becomes partition pruning instead
    of a path convention."""
    return _stage_once(
        "events_by_day",
        table_path(sf, "events"),
        lambda out: write_parquet_partitioned(
            add_date_partition(load_events(spark, sf)), out, ["ds"]
        ),
    )


def events_partitioned_prune(spark, sf):
    """Partitioned-write + static partition pruning (r5, SURVEY §4): a
    one-week slice of day-partitioned events must scan ONLY the seven
    matching directories — asserted on the physical plan
    (PartitionFilters on ds), so the green row attests the scan-cost
    lever, not just the aggregate values. At 100 TB this is the
    difference between reading 100 TB and reading ~3 TB for a
    30-day-retention week query."""
    out = _partitioned_events_dir(spark, sf)
    week = spark.read.parquet(out).filter(
        F.col("ds").between("2024-01-03", "2024-01-09")
    )
    res = (
        week.groupBy(F.col("ds").cast("string").alias("ds"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("ds", "event_type")
    )
    plan = _assert_plan_contains(
        res, "PartitionFilters: [", "events_partitioned_prune"
    )
    import re as _re

    if not _re.search(r"PartitionFilters: \[[^\]]*ds", plan):
        raise RuntimeError(
            "events_partitioned_prune: ds predicate did not reach "
            "PartitionFilters — the scan would read every partition"
        )
    return res


def events_partitioned_dpp(spark, sf):
    """Dynamic partition pruning (r5): the probe side's day filter is
    only known at RUNTIME (a filtered distinct-days dim), yet the
    day-partitioned fact scan must still skip non-matching directories
    — Spark plants a dynamicpruningexpression subquery reusing the
    broadcast. Asserted on the plan. This is the engine's answer to
    'join against a date dimension without scanning every partition',
    the join-driven twin of events_partitioned_prune."""
    out = _partitioned_events_dir(spark, sf)
    fact = spark.read.parquet(out)
    # Join on the RAW partition column (no casts around the join key —
    # a wrapped key can defeat the DPP rule's partition-scan match);
    # stringify only in the output projection for the oracle.
    dim = (
        fact.select("ds")
        .distinct()
        .filter(F.dayofmonth(F.col("ds")) % 7 == 3)
    )
    res = (
        fact.join(F.broadcast(dim), "ds")
        .groupBy(F.col("ds").cast("string").alias("ds"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("ds", "event_type")
    )
    _assert_plan_contains(res, "dynamicpruning", "events_partitioned_dpp")
    return res


def _bucketed_events_tables(spark, sf) -> tuple[str, str]:
    """Materialize the events fact and its per-user rollup as catalog
    tables bucketed ×8 on ``user_id``, memoized per (source content,
    session): the table names embed a hash of the source stamp, so a
    cached table is only reused for the exact fixture that built it,
    and a regenerated fixture gets fresh names. The tables are EXTERNAL
    over stamped scratch paths (a managed table would land in the
    session warehouse dir — the process cwd by default — and a
    restarted session could neither reuse nor overwrite the orphaned
    location). Reuse requires BOTH the catalog entry, which does not
    survive a session restart even when the files do, AND the staged
    dir's marker: a tmp reaper (or parallel cleanup) can delete the
    scratch path out from under a live catalog entry. Otherwise the
    table is dropped and rebuilt."""
    import hashlib

    src = table_path(sf, "events")
    tag = hashlib.md5(_source_stamp(src).encode()).hexdigest()[:10]
    tables = {
        f"ev_bucketed_{tag}": lambda ev: ev.select("event_id", "user_id", "value"),
        f"users_bucketed_{tag}": lambda ev: ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events")
        ),
    }
    for tname, shape in tables.items():

        def build(loc: str, tname=tname, shape=shape) -> None:
            spark.sql(f"DROP TABLE IF EXISTS {tname}")
            write_bucketed_table(
                shape(load_events(spark, sf)),
                tname,
                "user_id",
                num_buckets=8,
                path=loc,
            )

        _stage_once(tname, src, build, reuse=spark.catalog.tableExists(tname))
    return tuple(tables)


def bucketed_join_events(spark, sf):
    """Bucketed co-located join (r6; lifts the assertion from
    tests/test_writers_layout.py into the driver gate — the last at-rest
    layout lever without a CORRECTNESS row): the events fact and its
    per-user rollup are both bucketed ×8 on ``user_id``, so their
    SortMergeJoin plans with ZERO Exchange on either side — the shuffle
    was paid once at write time and is amortized over every later join.
    The ``merge`` hint keeps the broadcast planner from hiding the
    property at test scale; the Exchange-free join plan is asserted
    in-builder (like the partition-pruning pair), so the green row
    attests the layout lever, not just the values. At 100 TB bucketing
    the two biggest co-joined tables is the difference between
    re-shuffling the fact on every query and never shuffling it.

    Output: per-n_events row counts and a DECIMAL-exact value sum — the
    oracle recomputes the rollup and join from the raw events table."""
    ev_t, users_t = _bucketed_events_tables(spark, sf)
    joined = spark.table(ev_t).join(
        spark.table(users_t).hint("merge"), "user_id"
    )
    plan = _assert_plan_contains(
        joined, "SortMergeJoin", "bucketed_join_events"
    )
    if "exchange" in plan.lower():
        raise RuntimeError(
            "bucketed_join_events: bucketed join planned an Exchange — "
            "the at-rest bucketing did not buy the co-located join"
        )
    return (
        joined.groupBy("n_events")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("n_events")
    )


def window_top_customer_per_nation(spark, sf):
    """Top-1 spender per nation: join + window row_number (O5's top-k
    made explicit, per-group)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation", spread_scan=False)
    spend = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("spend")
        )
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("spend"), F.asc("c_custkey"))
    return (
        spend.join(cust, spend.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("n_name", "c_custkey", "spend")
        .orderBy("n_name")
    )


def tpch_q3_topk(spark, sf):
    """TPC-H Q3 shape: 3-way join, selective filters, grouped revenue,
    explicit top-k. ``orderBy().limit(k)`` plans as TakeOrderedAndProject
    — per-partition heaps + a k-row driver merge, never a global sort of
    the aggregate (the scalable form of the reference's implicit
    show()-top-20, SURVEY §2.6 O5)."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    cut = F.to_timestamp(F.lit("1998-01-01 00:00:00"))
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < cut)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > cut)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def setop_intersect(spark, sf):
    """INTERSECT (SURVEY §2.7 extension): customers ordering in both the
    early and late halves of the order history. Distinct-set semantics;
    plans as a single shuffle on the key with AQE-sized partitions."""
    orders = load_table(spark, sf, "orders")
    cut = F.to_timestamp(F.lit("1998-01-01 00:00:00"))
    early = orders.filter(F.col("o_orderdate") < cut).select("o_custkey")
    late = orders.filter(F.col("o_orderdate") >= cut).select("o_custkey")
    return early.intersect(late).orderBy("o_custkey")


def setop_except(spark, sf):
    """EXCEPT: customers who ordered early but never late (churn set)."""
    orders = load_table(spark, sf, "orders")
    cut = F.to_timestamp(F.lit("1998-01-01 00:00:00"))
    early = orders.filter(F.col("o_orderdate") < cut).select("o_custkey")
    late = orders.filter(F.col("o_orderdate") >= cut).select("o_custkey")
    return early.subtract(late).orderBy("o_custkey")


def rollup_doc_counts(spark, sf):
    """ROLLUP (grouping-set aggregate): doc counts at (lang, source),
    (lang) and grand-total levels in one pass — partial aggregation
    covers all levels before the single shuffle."""
    return (
        _docs(spark, sf)
        .rollup("lang", "source")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cube_doc_counts(spark, sf):
    """CUBE: all four grouping sets of (lang, source) in one pass."""
    return (
        _docs(spark, sf)
        .cube("lang", "source")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def pivot_events_by_day(spark, sf):
    """PIVOT: per-day event counts spread into one column per event
    type. The pivot values are declared (not discovered), so the plan is
    a single conditional aggregate — no extra distinct-scan job and a
    deterministic schema."""
    ev = load_events(spark, sf).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    pivoted = ev.groupBy("day").pivot("event_type", EVENT_TYPES).count()
    return pivoted.select(
        "day",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES],
    ).orderBy("day")


def events_json_props(spark, sf):
    """Semi-structured access: parse the JSON ``props`` string with a
    declared schema (``from_json`` — typed, codegen'd, no inference
    scan) and aggregate on the extracted field."""
    ev = load_events(spark, sf)
    k = F.from_json("props", "k int").getField("k")
    return (
        ev.select(F.col("event_type"), k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def window_running_value(spark, sf):
    """Analytic window breadth: per-user running sum of value and the
    previous event's type (cumsum + lag over one event-time window —
    a single shuffle on the user key)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load_events(spark, sf)
    return ev.select(
        "user_id",
        "event_id",
        F.round(
            F.sum(F.round("value", 6)).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
            4,
        ).alias("running_value"),
        F.lag("event_type").over(w).alias("prev_type"),
    )


def event_value_percentiles(spark, sf):
    """Exact interpolated percentiles of value per event type (p50/p90/
    p99). Spark's ``percentile`` matches DuckDB's ``quantile_cont``
    bit-for-bit on doubles given identical inputs."""
    ev = load_events(spark, sf)
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


def asof_join_events(spark, sf):
    """As-of join (point-in-time correlate): each click event picks up
    the user's most recent purchase at or before it. See
    operators.relational.asof_join for the one-shuffle union+window
    design (no range-join blowup)."""
    ev = load_events(spark, sf)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_event_id"),
        F.round("value", 6).alias("purchase_value"),
    )
    return asof_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["purchase_event_id", "purchase_value"],
    )


def range_join_events(spark, sf):
    """Range (interval) join: for each click, the same user's purchases
    in the preceding hour (inclusive), aggregated per click. See
    operators.relational.range_join for the bucketed equi-join design
    (no per-key cross-product blowup). Money goes through DECIMAL so
    the sum is order-independent across engines."""
    ev = load_events(spark, sf)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.round("value", 6).cast("decimal(18,6)").alias("purchase_value"),
    )
    pairs = range_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["purchase_value"],
        window_seconds=3600,
    )
    return (
        pairs.groupBy("event_id", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("purchase_value").cast("double").alias("sum_purchase_value"),
        )
        .orderBy("event_id")
    )


def sessionize_events(spark, sf):
    """Gap sessionization via native session_window (30-min gap)."""
    return sessionize(load_events(spark, sf), gap=SESSION_GAP)


def _event_stream(spark, sf):
    return load_events_stream(spark, sf)


def stream_stream_join_events(spark, sf):
    """Watermarked stream-stream interval join: each click pairs with
    the same user's purchases in the preceding hour. Driven to
    completion, the inner join equals the batch range join — which is
    exactly what the oracle computes."""
    clicks = _event_stream(spark, sf).filter(
        F.col("event_type") == "click"
    ).select("event_id", "user_id", "ts")
    purchases = _event_stream(spark, sf).filter(
        F.col("event_type") == "purchase"
    ).select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("user_id"),
        F.col("ts").alias("r_ts"),
    )
    joined = stream_stream_interval_join(
        clicks, purchases, key="user_id", within="1 hour", watermark="2 hours"
    ).select(
        "event_id",
        "user_id",
        "ts",
        "purchase_event_id",
        F.col("r_ts").alias("purchase_ts"),
    )
    return run_stream_to_memory(
        spark, joined, "stream_stream_join_sink", output_mode="append"
    )


def stream_dedup_events(spark, sf):
    """Streaming exact dedup: first occurrence of each (user_id,
    event_type) wins; final key set equals batch SELECT DISTINCT."""
    dedup = stream_dedup(
        _event_stream(spark, sf).select("user_id", "event_type"),
        ["user_id", "event_type"],
    )
    return run_stream_to_memory(
        spark, dedup, "stream_dedup_sink", output_mode="append"
    )


def dedup_clusters(spark, sf):
    """Near-dup pairs -> dedup clusters via iterative connected
    components (min-label propagation)."""
    pairs = near_dup_pairs(_docs(spark, sf), threshold=0.2)
    return connected_components(pairs).orderBy("doc_id")


def dedup_keep_best_q(spark, sf):
    """Keeper-policy dedup: near-dup pairs → connected-component
    clusters → keep the longest document per cluster (ties → smallest
    doc_id). Quality here is the whitespace token count — the slot any
    model-based quality score plugs into. The corpus never shuffles
    (two broadcast joins); CC and the keeper argmax run on the near-dup
    subset only."""
    docs = _docs(spark, sf)
    pairs = near_dup_pairs(docs, threshold=0.2).select("id_a", "id_b")
    scored = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("quality"),
    )
    return keep_best_per_cluster(scored, pairs).orderBy("doc_id")


def stream_sessionize_stateful_demo(spark, sf):
    """applyInPandasWithState sessionization DEMONSTRATOR (renamed from
    stream_sessionize_events in r8 — the catalog's default streaming
    sessionization is ``stream_sessionize_native``; the decade A/B
    measured this Arrow-per-key-group path at ~8× wall-clock per 10×
    events vs ~linear native, SCALE.md "Streaming"). It stays in the
    catalog as the worked example of the operator class the built-in
    surface can't express — per-key mutable state with custom
    close/emit logic — which a complete engine must still offer.

    SELF-VERIFYING (r4; previously a rows-only gate entry): the
    streamed CLOSED sessions (the trailing open session per user stays
    in state, conservative append semantics) are set-compared against
    batch ``sessionize`` minus each user's trailing session, and the
    driver hashes the (n_closed_sessions, n_mismatch) summary. The
    oracle computes the expected closed-session count from the
    batch-session SQL and pins the mismatch count to zero. The full
    row-level equivalence also remains pinned in
    tests/test_stateful_streaming.py."""
    closed = run_stream_to_memory(
        spark,
        stateful_sessionize(load_events_stream(spark, sf)),
        "stream_sessionize_sink",
        output_mode="append",
    )
    batch = sessionize(load_events(spark, sf), gap=SESSION_GAP)
    w = Window.partitionBy("user_id")
    expected = (
        batch.withColumn("_mx", F.max("session_start").over(w))
        .filter(F.col("session_start") < F.col("_mx"))
        .drop("_mx")
    )
    # one grouped pass per side instead of two exceptAll legs (each
    # re-evaluated the other side's batch-sessionize subtree); NULL-safe
    mismatch_n = multiset_diff_count(closed, expected)
    return closed.agg(
        F.count(F.lit(1)).alias("n_closed_sessions")
    ).crossJoin(F.broadcast(mismatch_n))


def stream_sessionize_native(spark, sf):
    """JVM-native streaming sessionization (r7): watermarked
    ``session_window`` aggregation in append mode — the scale path
    beside the ``applyInPandasWithState`` demonstrator above (native
    118 s vs stateful 342 s same-session at 10M events; SCALE.md
    "Streaming"). Full row-level oracle, not a summary: every closed
    session (user, start, end, n_events) is hash-compared.

    Determinism at the watermark boundary: append mode emits a session
    once the watermark (max ts − 10 min, applied by availableNow's
    final no-data batch) passes the session's window end (last event +
    30 min gap). Whether an exactly-at-watermark window is emitted is an
    engine detail, so the result is post-filtered to STRICTLY closed
    sessions with the same predicate the oracle uses — any boundary row
    the engine emits (or withholds) is outside the compared set either
    way. The filter's threshold is one broadcast scalar row. Gap and
    delay derive from streaming.jobs.SESSION_GAP/_DELAY — the single
    definition the stream plan, this post-filter, and the generated
    oracle all share (r8; three independent literals before)."""
    res = run_stream_to_memory(
        spark,
        native_sessionize_stream(load_events_stream(spark, sf)),
        "stream_sessionize_native_sink",
        output_mode="append",
    )
    wm = load_events(spark, sf).agg(
        (
            F.max("ts")
            - F.expr(f"INTERVAL {SESSION_DELAY_MINUTES} minutes")
        ).alias("_wm")
    )
    return (
        res.crossJoin(F.broadcast(wm))
        .filter(
            F.col("session_end")
            + F.expr(f"INTERVAL {SESSION_GAP_MINUTES} minutes")
            < F.col("_wm")
        )
        .drop("_wm")
    )


# --------------------------------------------------------------------------
# Training-data pipeline extensions (dedup / similarity / text / binary).
# --------------------------------------------------------------------------


def dedup_exact_q(spark, sf):
    return exact_duplicates(_docs(spark, sf))


def dedup_minhash_pairs_q(spark, sf):
    """MinHash-LSH candidates + exact-Jaccard verification (≥ 0.2)."""
    return near_dup_pairs(_docs(spark, sf), threshold=0.2)


def dedup_cross_pairs_q(spark, sf):
    """Cross-corpus near-dup (r9): even-doc_id documents play the
    existing reference corpus, odd-doc_id documents the newly arrived
    one — `near_dup_pairs_cross` finds every (reference, new) pair at
    exact Jaccard ≥ 0.2 without self-joining either side. Same
    banding/threshold as `dedup_minhash_pairs`, so the result is
    exactly that query's pair set restricted to opposite-parity pairs
    (re-oriented (even, odd)) — a relationship the unit tests pin."""
    docs = _docs(spark, sf)
    return near_dup_pairs_cross(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        threshold=0.2,
    )


def dedup_simhash_q(spark, sf):
    """32-bit SimHash fingerprints (r7 widening, `_SIMHASH_BITS`)."""
    return simhash_fingerprints(_docs(spark, sf), bits=_SIMHASH_BITS)


def dedup_simhash_pairs_q(spark, sf):
    """SimHash near-dup pairs: 2×16-bit bands, bucket join with the
    max_bucket skew guard, Hamming ≤ 1 verify.

    r7 widening (16 → 32 bits): the 100× sweep measured the 16-bit
    family returning ZERO pairs at 500k docs — every 2^8-value band
    bucket held ~2000 docs, so the skew guard dropped all of them and
    recall collapsed. 2^16 band values keep expected bucket occupancy
    ~n/65k (≈8 at 500k docs), so buckets shrink back to genuine dup
    clusters; 32 bits is the md5-hex ceiling the oracle can mirror
    (Manku-style production sizing is 64-bit × 4 bands — same shape,
    wider hash)."""
    return simhash_near_dup_pairs(
        _docs(spark, sf), bits=_SIMHASH_BITS, bands=2
    ).orderBy("id_a", "id_b")


def dedup_simhash64_pairs_q(spark, sf):
    """SimHash near-dup pairs at the measured-scale sizing: 64-bit
    fingerprints (two md5 nibble bits per hex digit — still ONE digest
    per token) in 2×32-bit bands.

    This is the in-engine answer to the r9 third-decade boundary
    (SCALE.md): at 5M docs the 32-bit family's 2^16 band values put
    mean bucket occupancy (76) above the skew guard (64), so recall
    decays while wall-clock stays guard-bounded-linear. 2^32 band
    values hold expected occupancy ≈ n/4.3e9 (~0.001 at 5M docs) —
    buckets shrink back to genuine near-dup clusters, and the bands-1
    pigeonhole still finds every Hamming ≤ 1 pair. Same plan shape as
    the 32-bit entry: projection → one band explode → bucket
    equi-join → Hamming verify."""
    return simhash_near_dup_pairs(
        _docs(spark, sf), bits=64, bands=2
    ).orderBy("id_a", "id_b")


def dedup_ngram_jaccard_q(spark, sf):
    """Char-4-gram Jaccard near-dups (the n-gram variant of MinHash).

    r7 rebanding, measured at sf0.1 against an unguarded-unsampled
    ground-truth run (256 true pairs, J >= 0.84 for every one): char
    4-grams are so heavy-headed that 2-hash bands collide for ordinary
    background pairs (J ~ 0.2-0.35), flooding band buckets until the
    skew guard dropped real-dup buckets wholesale — the r5/r6 config
    (8 hashes, bands of 2, 1/4 signature sampling, max_bucket=50)
    measured only 0.60 recall. Four bands of FOUR hashes make a bucket
    key that background pairs can't match (per-band collision J^4), so
    buckets shrink to genuine near-dup clusters: recall 1.000 at
    max_bucket=20 with 26k candidates (vs 43k), 5.1 s -> 2.8 s, and
    the signature sampling is dropped — at 4-hash bands its estimator
    noise INFLATED candidates (62k sampled vs 26k full, measured).
    Sweep table in SCALE.md §dedup. The per-doc md5 fold grows to
    16×|shingles| but stays map-side-parallel — the 100 TB cost center
    is the candidate verify, which this config shrinks 2.6×.

    r8: ``materialize_shingles`` — char-4-gram sets are the one
    shingle build heavy enough that computing them once (lazy
    localCheckpoint) beats re-running the kernel for the signature
    and verify passes (see near_dup_pairs docstring; word-unit
    consumers keep the recompute default)."""
    return near_dup_pairs(
        _docs(spark, sf), k=4, threshold=0.5, unit="char", max_bucket=20,
        num_hashes=16, band_size=4, materialize_shingles=True,
    )


def dedup_containment_q(spark, sf):
    """Asymmetric containment dedup (r7; the mode the symmetric family
    misses): word-3-gram containment ≥ 0.7 in either direction, via
    posting-list candidates with the df ≤ 20 stop-shingle guard. A
    small doc quoted inside a much larger one scores containment ≈ 1
    where Jaccard ≈ |A|/|B| — MinHash-LSH structurally can't recall
    it. See operators.dedup.containment_pairs for the 100 TB shape
    (df-capped buffers, no O(n²) stage)."""
    return containment_pairs(
        _docs(spark, sf), k=3, unit="word", threshold=0.7, max_df=20
    ).orderBy("id_a", "id_b")


def dedup_containment_cross_q(spark, sf):
    """Cross-corpus containment (r9): even-doc_id docs as the
    reference, odd as the new arrivals — the contamination question
    ("is this new doc quoted from a reference doc, or vice versa?")
    that Jaccard-based cross dedup structurally can't ask. Same
    threshold/guard as `dedup_containment`; the combined-df cap makes
    this exactly that query's union run restricted to cross-parity
    pairs (pinned by `test_containment_cross_equals_union_restricted`)."""
    docs = _docs(spark, sf)
    return containment_pairs_cross(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        k=3,
        unit="word",
        threshold=0.7,
        max_df=20,
    ).orderBy("id_a", "id_b")


def dedup_embedding_q(spark, sf):
    """Embedding-cosine near-dup pairs, multi-table sign-LSH.

    8-bit buckets (256/table — scale-appropriate granularity) across two
    independent hash tables for recall, with the degenerate-bucket skew
    guard on. ``bits`` is EXPLICIT here — the r8 API default (bits=None)
    derives it from a corpus count (similarity.auto_sign_bits), which a
    static DuckDB oracle string cannot follow across the sf0.001/sf0.01
    gate scales; the auto path is pinned instead by
    test_embedding_dedup_auto_bits_same_caller_both_decades. See
    operators.similarity.embedding_near_dup_pairs for the knob/scale
    discussion and SCALE.md for the measured recall curve."""
    emb = load_table(spark, sf, "embeddings")
    return embedding_near_dup_pairs(
        emb, threshold=0.3, bits=8, tables=2, max_bucket=100
    )


def dedup_embedding_cross_q(spark, sf):
    """Cross-corpus embedding near-dup (r9): even-vec_id vectors as the
    read-only reference corpus, odd as the new arrivals —
    `embedding_near_dup_pairs_cross` at the same operating point as
    `dedup_embedding` (8 bits × 2 tables, guard 100, cosine ≥ 0.3), so
    the result is that query's pair set restricted to cross-parity
    pairs re-oriented (even, odd) — pinned by the unit tests. `bits`
    explicit for the same static-oracle reason as dedup_embedding."""
    emb = load_table(spark, sf, "embeddings")
    return embedding_near_dup_pairs_cross(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        threshold=0.3,
        bits=8,
        tables=2,
        max_bucket=100,
    )


def dedup_emb_store_probe_q(spark, sf):
    """Persisted-store probe of the embedding dedup loop (r11): the
    even-vec_id corpus is built into its ``build_signbucket_store``
    relation and LANDED to parquet (the deployment arm — sign-bucket
    codes and the per-vector self-norm ``_n`` computed once at build,
    probed forever), then the odd-vec_id arrivals probe it via
    ``embedding_near_dup_against_store`` at ``dedup_embedding_cross``'s
    operating point minus the bucket guard (store probes deliberately
    don't offer ``max_bucket`` — store-split occupancy diverges from
    the corpus-global guard). The pair set equals
    ``embedding_near_dup_pairs_cross`` unguarded at the same
    parameters, which is the oracle; the probe's store side reads the
    STORED ``_n`` (r11 schema) instead of recomputing self-norms —
    this entry attests that read path on the driver gate. Scratch dir
    fresh per call, reaped at process exit."""
    import atexit
    import shutil
    import tempfile

    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        build_signbucket_store,
        embedding_near_dup_against_store,
    )

    emb = load_table(spark, sf, "embeddings")
    scratch = tempfile.mkdtemp(prefix="spark_graft_emb_store_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    store_path = _os.path.join(scratch, "store")
    build_signbucket_store(
        emb.filter(F.col("vec_id") % 2 == 0), bits=8, tables=2
    ).write.parquet(store_path)
    return embedding_near_dup_against_store(
        spark.read.parquet(store_path),
        emb.filter(F.col("vec_id") % 2 == 1),
        threshold=0.3,
        bits=8,
        tables=2,
    )


def knn_join_emb_q(spark, sf):
    """ANN kNN JOIN (r9): every even-vec_id vector gets its top-3
    cosine neighbors among the odd-vec_id vectors sharing a
    hyperplane-LSH bucket in any of 18 tables — the corpus-vs-corpus
    retrieval shape (align two datasets, attach nearest labels) the
    small-query-set kNNs can't express. Operating point = knn_lsh's
    pinned 4 bits × 18 tables (recall measured and floored by
    test_knn_join_recall_floor; the dedup family's 8×2 point measured
    recall@3 0.025 here — see the operator docstring). The oracle
    bakes the identical hyperplane coefficient literals."""
    emb = load_table(spark, sf, "embeddings")
    return cosine_knn_join(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        k=3,
        bits=_KNN_LSH_BITS,
        tables=_KNN_LSH_TABLES,
        max_bucket=100,
    )


def knn_join_emb_ivf_q(spark, sf):
    """ANN kNN JOIN via IVF (r10) — the PRODUCTION corpus-vs-corpus
    path, promoted to the gate per VERDICT r9 #1: the 100k × 100k
    sweep measured hyperplane-LSH recall collapsing to 0.12–0.27 at
    corpus scale while IVF at matched scan cost holds 4–9× better than
    fraction-proportional (SCALE.md), and the full-probe exactness law
    is pinned separately (test_knn_join_ivf_full_probe_is_exact). Same
    task split as knn_join_emb (even queries vs odd corpus, top-3) and
    the shared _KNN_IVF_* 24/8×2 sizing, so the two siblings' rows are
    directly comparable; knn_join_emb stays the documented small-corpus
    LSH path. The oracle re-derives the md5 centroid sample over the
    RIGHT corpus, the 2-way replicated assignment, the 8-probe routing
    of every left row, and the shared-list max-collapse; no same-id
    exclusion — the corpora are distinct relations."""
    emb = load_table(spark, sf, "embeddings")
    return cosine_knn_join_ivf(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        k=3,
        n_lists=_KNN_IVF_LISTS,
        nprobe=_KNN_IVF_NPROBE,
        replication=_KNN_IVF_REPL,
    )


def dedup_embedding_hyperplane_q(spark, sf):
    """Embedding near-dup pairs over mixed-coordinate hyperplane LSH
    (r7) — the upgrade path past the coordinate-sign variant above,
    whose tables key on disjoint stored dims and therefore cap at
    dim/bits independent tables (the measured 0.845-recall wall at
    corpus scale; SCALE.md). Same threshold/guard as dedup_embedding so
    the two gate rows are directly comparable; 6 tables of 8 bits, each
    bit mixing 16 coordinates via the seeded schedule knn_lsh bands
    on. Oracle bakes the identical coefficient literals and the
    schedule-order summation keeps buckets bit-identical."""
    emb = load_table(spark, sf, "embeddings")
    return embedding_near_dup_pairs_hyperplane(
        emb,
        threshold=0.3,
        bits=_EMB_HP_BITS,
        tables=_EMB_HP_TABLES,
        max_bucket=100,
    )


def knn_brute_q(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    return cosine_knn_bruteforce(emb, emb.filter(F.col("vec_id") < 10), k=5)


def knn_lsh_q(spark, sf):
    """Sign-LSH ANN over seeded sparse-Rademacher hyperplanes.

    r7 retune along the S-curve's other axis: r5/r6 shipped 5 bits ×
    10 tables (recall@3 0.667 at sf0.01). The r6 vectorized-signature
    path made tables nearly free (the banded equi-join stays the only
    shuffle and candidate dedup caps the fan-in), so the sweep in
    SCALE.md walks bits DOWN and tables UP: wider buckets recall more,
    more tables decorrelate the misses. 4 bits × 18 tables measures
    recall@3 0.933 (sf0.01 and sf0.001) / 0.967 (sf0.1) at unchanged
    bench time (1.66 s vs 1.55 s r6, within host noise). Bucket width
    is a corpus-size knob: at production scale bits grows with log(n)
    to hold bucket occupancy, and tables buys recall at linear cost —
    the sizing rule in SCALE.md §similarity."""
    emb = load_table(spark, sf, "embeddings")
    return cosine_knn_sign_lsh(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=3,
        bits=_KNN_LSH_BITS,
        tables=_KNN_LSH_TABLES,
    )


def knn_ivf_q(spark, sf):
    """IVF-flat ANN: deterministic md5-sampled coarse centroids,
    broadcast assignment (corpus never shuffles for the quantization),
    nprobe-list probe join. The FAISS-style inverted-list structure
    from open DataFrame primitives; search cost
    |q| * replication * (nprobe/n_lists) * n.

    r9: 24 lists / 8 probes with 2-way boundary replication (each
    corpus vector posts into its two nearest lists — the SPANN recipe
    for Voronoi-boundary misses) = recall@3 0.90/0.93/0.90 at
    sf0.001/0.01/0.1, up from the r7 hard-assigned 16/6 point's 0.767;
    sweep — including why Lloyd refinement is OFF for this fixture —
    at the _KNN_IVF_* definition and in SCALE.md."""
    emb = load_table(spark, sf, "embeddings")
    return cosine_knn_ivf(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=3,
        n_lists=_KNN_IVF_LISTS,
        nprobe=_KNN_IVF_NPROBE,
        replication=_KNN_IVF_REPL,
    )


def knn_ivf_persisted_q(spark, sf):
    """The persisted-index production loop end-to-end (r11):
    ``build_ivf_index`` at ``knn_ivf``'s exact operating point, landed
    list-major by ``write_ivf_index`` (one file per ``_list`` leaf),
    probed by ``cosine_knn_ivf_probe_dir`` — which reads ONLY the
    probed lists' partition subtrees (measured 12× probe at 2M
    vectors / sqrt-rule list count vs the flat-landing probe,
    SCALE.md r11). Centroid selection is md5-deterministic and the
    duplicate collapse is layout-independent, so the result equals
    ``knn_ivf`` exactly and SHARES ITS ORACLE. Scratch dirs fresh per
    call, reaped at process exit."""
    import atexit
    import shutil
    import tempfile

    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        build_ivf_index,
        cosine_knn_ivf_probe_dir,
        write_ivf_index,
    )

    emb = load_table(spark, sf, "embeddings")
    scratch = tempfile.mkdtemp(prefix="spark_graft_ivf_idx_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    cdir = _os.path.join(scratch, "cent")
    pdir = _os.path.join(scratch, "post")
    c, p = build_ivf_index(
        emb, n_lists=_KNN_IVF_LISTS, replication=_KNN_IVF_REPL
    )
    write_ivf_index(c, p, cdir, pdir)
    return cosine_knn_ivf_probe_dir(
        spark,
        cdir,
        pdir,
        emb.filter(F.col("vec_id") < 10),
        k=3,
        nprobe=_KNN_IVF_NPROBE,
    )


def knn_ivf_drift_q(spark, sf):
    """The r12 re-centering drift signal over a persisted IVF index:
    ``similarity.ivf_index_drift_stats`` — per posting list, occupancy
    and mean assignment cosine, one broadcast-join + aggregate pass
    over the list-major store ``write_ivf_index`` landed. This is the
    metric a maintenance cycle logs beside roll/consolidate to decide
    WHEN the fixed-quantizer contract warrants an offline rebuild
    (occupancy skew inflates probe IO; falling assignment cosine
    degrades recall-at-nprobe — thresholds in ``ivf_drift_summary``
    and SCALE.md r12). The oracle re-derives the same relation
    statically: md5-rank centroids, 2-way replicated assignment
    (``knn_ivf``'s CTEs verbatim), then GROUP BY assigned list."""
    import atexit
    import shutil
    import tempfile

    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_drift_stats,
        write_ivf_index,
    )

    emb = load_table(spark, sf, "embeddings")
    scratch = tempfile.mkdtemp(prefix="spark_graft_ivf_drift_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    cdir = _os.path.join(scratch, "cent")
    pdir = _os.path.join(scratch, "post")
    c, p = build_ivf_index(
        emb, n_lists=_KNN_IVF_LISTS, replication=_KNN_IVF_REPL
    )
    write_ivf_index(c, p, cdir, pdir)
    return ivf_index_drift_stats(spark, cdir, pdir).orderBy("list_id")


def knn_ivf_tree_q(spark, sf):
    """IVF ANN with the TWO-LEVEL (tree) coarse quantizer: corpus
    vectors route through isqrt(n_lists) super-centroids and score only
    the centroids attached to their two nearest super-cells, instead of
    the flat path's every-vector-x-every-centroid assignment.

    Why it is a separate catalog entry: flat assignment is O(n x L) —
    fine at 24 lists, O(n^1.5) at the classic sqrt-n list sizing, where
    the r9 2M-vector sweep measured the assignment pass DOMINATING
    (96 lists ran ~3.5x the 24-list time despite a cheaper probe side;
    SCALE.md). The tree is the scale path for large list counts; this
    entry pins its end-to-end semantics — super selection (same md5
    rank as the centroids), centroid->super attachment, vector routing,
    posting top-``replication`` — against a full-hash DuckDB oracle at
    the SAME 24/8x2 sizing as ``knn_ivf``, so the two entries' recall
    floors are directly comparable (``test_ann_recall_floors``)."""
    emb = load_table(spark, sf, "embeddings")
    return cosine_knn_ivf(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=3,
        n_lists=_KNN_IVF_LISTS,
        nprobe=_KNN_IVF_NPROBE,
        replication=_KNN_IVF_REPL,
        coarse_assign="tree",
    )


def knn_wta_q(spark, sf):
    """Ordinal (winner-take-all) LSH ANN: bits are exact pairwise
    coordinate comparisons from a deterministic integer schedule —
    engine-portable bucket membership, same bounded band-join shape as
    knn_lsh.

    r7 retune along the same axis as knn_lsh (bits down, tables up —
    ordinal bits are pure comparisons, so tables are even cheaper than
    sign-LSH's vectorized sums): 4 bits × 26 tables measures recall@3
    0.933 at sf0.01 / 1.000 at sf0.001 vs 0.633 / 0.63 for the r3–r6
    5×10, at unchanged bench time (sweep in SCALE.md). The
    bits-grow-with-corpus sizing rule applies unchanged."""
    emb = load_table(spark, sf, "embeddings")
    return cosine_knn_wta(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=3,
        bits=_KNN_WTA_BITS,
        tables=_KNN_WTA_TABLES,
    )


def text_langid_q(spark, sf):
    return language_id(_docs(spark, sf))


def text_quality_q(spark, sf):
    return quality_scores(_docs(spark, sf))


def text_token_stats_q(spark, sf):
    return token_stats(_docs(spark, sf))


def text_fingerprint_q(spark, sf):
    return doc_fingerprints(_docs(spark, sf))


def text_bpe_tokens_q(spark, sf):
    return bpe_token_stats(_docs(spark, sf))


def vocab_top_tokens_q(spark, sf):
    """Tokenizer-prep vocabulary: top-100 tokens with rank-contiguous
    ids (TakeOrdered top-k; the id window sees only the k survivors)."""
    return build_vocab(_docs(spark, sf), vocab_size=100)


def text_ngrams_q(spark, sf):
    """Top-50 corpus bigrams — zip_with shifted-slice expansion, one
    hash agg, TakeOrdered top-k."""
    return ngram_counts(_docs(spark, sf), n=2, top_k=50)


def text_logprob_q(spark, sf):
    """Unigram cross-entropy quality proxy: one vocab aggregate
    broadcast as a single map row; per-doc scoring is an aggregate fold
    over the token array (corpus never shuffles)."""
    return unigram_logprob(_docs(spark, sf)).orderBy("doc_id")


def dedup_fuzzy_names_q(spark, sf):
    """Blocked edit-distance entity dedup on the customer dimension:
    self-equi-join on a name-prefix blocking key (the only shuffle),
    levenshtein <= 1 within each block. The blocking key bounds the
    pair space the same way LSH bands do for MinHash."""
    c = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("_id"),
        F.col("c_name").alias("_nm"),
        F.substring(F.col("c_name"), 1, 16).alias("_blk"),
    )
    a = c.select("_blk", F.col("_id").alias("id_a"), F.col("_nm").alias("_na"))
    b = c.select("_blk", F.col("_id").alias("id_b"), F.col("_nm").alias("_nb"))
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein("_na", "_nb").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= 1)
        .orderBy("id_a", "id_b")
    )


def sample_hash_q(spark, sf):
    """Deterministic ~25% Bernoulli sample by md5 threshold — stable
    across partitionings/engines, filter pushed to the scan."""
    return hash_sample(_docs(spark, sf), "4000").select(
        "doc_id", "lang", "source"
    ).orderBy("doc_id")


def sample_stratified_q(spark, sf):
    """20 docs per language by md5-hash order (map-side
    WindowGroupLimit keeps the shuffle at top-k per partition)."""
    return stratified_sample(_docs(spark, sf), "lang", 20).select(
        "doc_id", "lang"
    ).orderBy("lang", "doc_id")


def chunk_docs_q(spark, sf):
    """Overlapping token-window chunking (20-token chunks, 5 overlap) —
    pure map-side generator, no shuffle."""
    return chunk_documents(_docs(spark, sf)).orderBy("doc_id", "chunk_idx")


def pack_sequences_q(spark, sf):
    """Greedy contiguous sequence packing into 256-token batches across
    8 independent shards (per-shard cumsum window — no global order)."""
    return pack_sequences(
        _docs(spark, sf), target_tokens=256, n_shards=8
    ).orderBy("doc_id")


def corpus_curation_q(spark, sf):
    """End-to-end curation pipeline (dedup keeper → quality gate →
    langid) in one plan with one shuffle. See
    operators.text_analysis.curate_corpus."""
    return curate_corpus(_docs(spark, sf))


def multimodal_decode_q(spark, sf):
    """Binary payload → Arrow-batched mapInPandas decode (stubbed codec,
    real plumbing)."""
    return decode_batch(attach_binary_payload(_docs(spark, sf)))


def multimodal_resize_q(spark, sf):
    """Aspect-preserving resize geometry + cache-key hash over
    mapInPandas (integer arithmetic — fully oracle-checked)."""
    return resize_batch(attach_binary_payload(_docs(spark, sf)))


def multimodal_frames_q(spark, sf):
    """One-to-many frame sampling over mapInPandas (each payload yields
    up to 4 frame rows — the Python UDTF shape)."""
    return frame_sample_batch(attach_binary_payload(_docs(spark, sf)))


def multimodal_pairs_q(spark, sf):
    """Multimodal training-pair assembly: each text document joined
    with its embedding row (the stand-in for decoded image/audio
    features) plus JVM-side payload metadata (binary_metadata pre-pass
    — no Python), emitting the content-addressed pair records a packing
    stage consumes. One equi-join; the metadata side is a projection."""
    meta = binary_metadata(attach_binary_payload(_docs(spark, sf)))
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    emb = load_table(spark, sf, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.round(
            F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)), 6
        ).alias("emb_norm"),
    )
    return (
        meta.join(emb, "doc_id")
        .select(
            "doc_id",
            F.col("n_bytes").cast("long").alias("n_bytes"),
            "content_hash",
            "emb_norm",
            F.md5(
                F.concat(F.col("doc_id").cast("string"), F.col("content_hash"))
            ).alias("pair_id"),
        )
        .orderBy("doc_id")
    )


def tpch_q18_topk(spark, sf):
    """TPC-H Q18 shape (large-volume orders): group-having semi-join
    feeding a 3-way join, re-aggregation, and TakeOrdered top-k —
    DECIMAL-exact quantity sums cast back to double. The having
    subquery aggregates lineitem once (map-side partials) and the
    survivor set is tiny, so AQE broadcasts it into the probe join."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer", spread_scan=False)
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("_s"))
        .filter(F.col("_s") > 250)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey")
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(dec("l_quantity")).cast("double").alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


def _pii_inject(df):
    """The fixture corpus is PII-free, so PII strings are synthesized
    deterministically from doc_id arithmetic (same device as the emoji
    synth kernels): ~1/3 of docs get an email, 1/4 a phone, 1/5 an SSN,
    1/7 an IPv4 — overlapping, so multi-hit docs exist. Works on batch
    and streaming DataFrames alike (pure column expressions)."""
    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731

    def inject(cond, *parts):
        return F.when(cond, F.concat(*parts)).otherwise(F.lit(""))

    email = inject(
        i % 3 == 0, F.lit(" user"), s(i % 50), F.lit("@ex"), s(i % 7),
        F.lit(".com"),
    )
    phone = inject(
        i % 4 == 0, F.lit(" +1-555-"), s(100 + i % 900), F.lit("-"),
        s(1000 + i % 9000),
    )
    ssn = inject(
        i % 5 == 0, F.lit(" "), s(100 + i % 900), F.lit("-"),
        s(10 + i % 90), F.lit("-"), s(1000 + i % 9000),
    )
    ip = inject(
        i % 7 == 0, F.lit(" 10."), s(i % 256), F.lit("."),
        s((i * 3) % 256), F.lit("."), s((i * 7) % 256),
    )
    return df.select(
        "doc_id", F.concat("text", email, phone, ssn, ip).alias("text")
    )


def pii_scan_q(spark, sf):
    """Per-class PII hit counts over synthesized PII text — pure
    projection (operators.safety.pii_scan)."""
    return pii_scan(_pii_inject(_docs(spark, sf))).orderBy("doc_id")


def pii_redact_q(spark, sf):
    """Typed-placeholder PII redaction; only docs that had PII are
    returned (value-bearing on both the count and the rewritten
    text)."""
    return (
        pii_redact(_pii_inject(_docs(spark, sf)))
        .filter(F.col("n_redactions") > 0)
        .orderBy("doc_id")
    )


def stream_pii_redact(spark, sf):
    """The SAME pii_redact projection under Structured Streaming: a
    stateless operator needs no watermark or state store — it runs in
    append mode at source rate, demonstrating the batch/stream
    unification the engine's projection operators all share. The
    bounded file stream drains via availableNow into a memory sink, so
    the result equals the batch query and carries the same oracle."""
    stream = load_table_stream(spark, sf, "documents", ["doc_id", "text"])
    red = pii_redact(_pii_inject(stream)).filter(F.col("n_redactions") > 0)
    return run_stream_to_memory(
        spark, red, "stream_pii_redact_sink", output_mode="append"
    ).orderBy("doc_id")


def stream_quality_docs(spark, sf):
    """Quality scoring under Structured Streaming — the same stateless
    quality_scores projection in append mode (batch/stream unification;
    carries the batch oracle verbatim)."""
    stream = load_table_stream(spark, sf, "documents", ["doc_id", "text"])
    return run_stream_to_memory(
        spark,
        quality_scores(stream),
        "stream_quality_docs_sink",
        output_mode="append",
    ).orderBy("doc_id")


def embedding_quantize_q(spark, sf):
    """int8 embedding quantization — pure projection, integer-exact
    codes, (vec_id, scale, pos, q) rows."""
    return quantize_embeddings(load_table(spark, sf, "embeddings"))


def decontam_docs_q(spark, sf):
    """13-gram benchmark decontamination: benchmark = every 17th doc's
    text; corpus side never shuffles (broadcast benchmark set +
    array_intersect probe)."""
    docs = _docs(spark, sf)
    bench = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    return decontaminate(docs, bench).orderBy("doc_id")


def stream_decontam_docs(spark, sf):
    """STREAM-STATIC join coverage: the streaming corpus probes a
    STATIC benchmark n-gram set (batch-read, collapsed to one broadcast
    array row — the ``strategy='array'`` probe, which keeps the
    streaming side stateless so append mode needs no watermark). The
    bounded file stream drains via availableNow; result equals the
    batch decontamination of the same files under the same oracle
    semantics. The benchmark is a FIXED doc-id prefix (doc_id < 35) —
    fixed-size BY CONSTRUCTION, because the array probe pays
    O(|bench|) per streamed row and statelessness (append mode, no
    per-doc aggregation) is exactly what rules out the join strategy
    on the stream side. The r7 100× sweep measured why this matters:
    the previous every-97th-doc benchmark GREW with the corpus, and
    at 500k docs the per-row probe against ~10⁵ broadcast n-grams ran
    >20 min where the join-strategy batch twin took 9.7 s. A real
    decontamination suite (the benchmark you refuse to train on) is
    fixed-size, so the fixed prefix is the honest semantics, not a
    dodge; for a suite that DOES grow, run the batch
    ``decontam_docs`` join path over micro-batch outputs instead."""
    # spread_scan=True (r13, measured): the per-row 13-gram md5 probe is
    # the one stream map-stage heavy enough to repay the per-batch
    # spread exchange — 5.05 -> 3.06 s med interleaved at sf0.1 (the
    # light stream projections all measured ~0.2-0.3 s LOSSES and keep
    # the default; table in OPTIMIZATION_r13.md).
    stream = load_table_stream(
        spark, sf, "documents", ["doc_id", "text"], spread_scan=True
    )
    bench = _docs(spark, sf).filter(F.col("doc_id") < 35).select("text")
    out = decontaminate(stream, bench, strategy="array")
    return run_stream_to_memory(
        spark, out, "stream_decontam_sink", output_mode="append"
    ).orderBy("doc_id")


def stream_decontam_join(spark, sf):
    """Streaming decontamination in JOIN mode (r9): the in-engine path
    for benchmark suites too large for ``stream_decontam_docs``' array
    probe. ``streaming.jobs.stream_decontaminate_join`` runs
    ``decontaminate(strategy='join')`` — broadcast benchmark hash
    table, per-doc aggregation — over each micro-batch inside
    foreachBatch, landing every batch in its own overwritten
    ``batch_id=N`` parquet dir (exactly-once under checkpoint replay).
    The benchmark here GROWS with the corpus (every 17th doc — the
    exact shape the array guard auto-rejects on streams), and the
    drained result equals the batch ``decontam_docs`` run on the same
    files, which is the oracle: per-document n-gram aggregation is
    batch-local because no document spans a micro-batch. Fresh scratch
    out/checkpoint dirs per call, reaped at process exit (atexit) —
    the returned DataFrame reads the landed files, so they must
    outlive the call but not the process; without the hook every
    bench/gate invocation left a dir behind (r9 hygiene find)."""
    import atexit
    import shutil
    import tempfile

    # spread_scan=True: same measured decision as stream_decontam_docs
    # (2.91 -> 2.24 s med interleaved at sf0.1) — the 13-gram md5
    # explode is the heavy map stage the spread exchange repays.
    stream = load_table_stream(
        spark, sf, "documents", ["doc_id", "text"], spread_scan=True
    )
    bench = _docs(spark, sf).filter(F.col("doc_id") % 17 == 0).select("text")
    scratch = tempfile.mkdtemp(prefix="spark_graft_stream_decontam_join_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    out = stream_decontaminate_join(
        spark,
        stream,
        bench,
        out_dir=_os.path.join(scratch, "out"),
        checkpoint_dir=_os.path.join(scratch, "ckpt"),
    )
    return out.orderBy("doc_id")


def _ordered_docs_stream_dir(sf: str, n_files: int = 4) -> str:
    return _ordered_table_stream_dir(sf, "documents", "doc_id", n_files)


def _ordered_embeddings_stream_dir(sf: str, n_files: int = 4) -> str:
    return _ordered_table_stream_dir(sf, "embeddings", "vec_id", n_files)


def _ordered_table_stream_dir(
    sf: str,
    table: str,
    id_sort_col: str,
    n_files: int = 4,
    transform=None,
    variant: str = "",
    stamp_extra: str = "",
) -> str:
    """Stage a fixture table as ``n_files`` parquet files in ascending-id
    ranges with sequenced mtimes — the ordered-replay contract the
    incremental streaming dedup twins need for batch-exact semantics
    (the FileStreamSource admits files oldest-mtime-first under
    maxFilesPerTrigger, so id order == arrival order). Staged once per
    source stamp (``_source_stamp``). ``transform`` (r12) is an
    optional pyarrow Table→Table hook applied after the sort —
    synthetic-variant stagings (``stream_dedup_hot_band``'s template
    injection) pass it with a distinguishing ``variant`` name so the
    cache dirs never collide; ``stamp_extra`` folds the transform's
    PARAMETERS into the staleness stamp — without it, editing
    ``_HOT_BAND_TEMPLATE``/``_HOT_BAND_N`` would keep serving the
    stale cached staging while the DuckDB oracle uses the new values
    (a phantom parity failure)."""
    import pyarrow.parquet as pq

    src = table_path(sf, table)

    def build(out: str) -> None:
        _os.makedirs(out)
        t = pq.read_table(src).sort_by(id_sort_col)
        if transform is not None:
            t = transform(t)
        chunk = (t.num_rows + n_files - 1) // n_files
        base_mtime = 1_700_000_000
        for i in range(n_files):
            p = _os.path.join(out, f"part-{i:04d}.parquet")
            pq.write_table(t.slice(i * chunk, chunk), p)
            _os.utime(p, (base_mtime + i * 10, base_mtime + i * 10))

    return _stage_once(
        f"{table}_ordered{variant}_{n_files}", src, build, f":{stamp_extra}"
    )


def stream_dedup_near_docs(spark, sf):
    """Incremental streaming near-dup dedup (r9): the documents corpus
    arrives one staged file per micro-batch (4 ascending-doc_id files,
    sequenced mtimes) and each batch is MinHash-LSH deduplicated
    against the accumulating signature store —
    ``streaming.jobs.stream_near_dedup_minhash``, the ingestion-time
    twin of ``dedup.near_dup_pairs`` at the same parameters as
    ``dedup_minhash_pairs`` (word 3-shingles, 8 hashes × 2-bands,
    exact-Jaccard ≥ 0.2). Under ordered arrival the drained keeper set
    provably equals the batch rule "drop every doc with a smaller-id
    qualifying partner", which is the oracle (the minhash pair CTE
    reused with a NOT EXISTS keeper wrapper). The multi-file staging
    matters: batches 1–3 exercise the store probe path (cross-batch
    pairs), batch-internal pairs exercise the in-batch path, and the
    store accumulates one partition per batch — the scratch dirs are
    fresh per call and reaped at process exit.

    r10: ``store_buckets=32`` — the gate drives the band-partitioned
    store layout (VERDICT r9 #3), a pure layout change whose keeper
    set is pinned equal to the batch rule by the banded
    keeper-parity test; the oracle is unchanged because the results
    are. r11: the layout went bucket-major (``_bkt=K/batch_id=N``,
    dynamic partition overwrite, direct-path touched-subtree probes),
    the payload is id-bucketed (``_pbkt``) so the Jaccard verify reads
    only the candidates' buckets, and the store layout is
    marker-enforced (``_layout.json``) — still a pure layout change.

    r12: the maintenance loop is SELF-DRIVING (``maintain_every=2`` —
    roll + threshold-gated consolidation fire in-drive from
    foreachBatch after batches 1 and 3, so the drained result attests
    keeper parity ACROSS a mid-drive roll/consolidate) and the
    corpus-global hot-band backstop is in the plan
    (``max_bucket=64`` — non-engaging here: the fixture's max
    (band, sig) occupancy is 4 at sf0.01 / 9 at sf0.1, so the oracle
    is unchanged; ``stream_dedup_hot_band`` attests the ENGAGED
    guard against a guard-mirrored oracle)."""
    import atexit
    import shutil
    import tempfile

    src_dir = _ordered_docs_stream_dir(sf)
    schema = parquet_schema(spark, src_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    scratch = tempfile.mkdtemp(prefix="spark_graft_stream_near_dedup_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    out = stream_near_dedup_minhash(
        spark,
        stream,
        out_dir=_os.path.join(scratch, "out"),
        checkpoint_dir=_os.path.join(scratch, "ckpt"),
        store_dir=_os.path.join(scratch, "store"),
        threshold=0.2,
        store_buckets=32,
        max_bucket=64,
        maintain_every=2,
        consolidate_min_batch_dirs=2,
    )
    return out.select("doc_id", "source").orderBy("doc_id")


# The hot-band fixture: the first _HOT_BAND_N docs' text is replaced by
# ONE fixed boilerplate string (the template-heavy-corpus shape — site
# headers, license blocks, mirrored pages — that makes a single
# (band, sig) group degenerate), and the drive runs max_bucket BELOW
# the group size so the corpus-global backstop must engage. ONE
# definition feeding the pyarrow staging AND the DuckDB oracle's CASE
# rewrite, so the two corpora cannot drift.
_HOT_BAND_TEMPLATE = (
    "standard site header navigation home about contact copyright"
    " notice all rights reserved terms of service privacy policy"
)
_HOT_BAND_N = 24
_HOT_BAND_CAP = 12


def _hot_band_docs_stream_dir(sf: str) -> str:
    def _inject(t):
        import pyarrow as pa
        import pyarrow.compute as pc

        text = pc.if_else(
            pc.less(t["doc_id"], _HOT_BAND_N),
            pa.scalar(_HOT_BAND_TEMPLATE),
            t["text"],
        )
        return t.set_column(
            t.schema.get_field_index("text"), "text", text
        )

    return _ordered_table_stream_dir(
        sf,
        "documents",
        "doc_id",
        4,
        transform=_inject,
        variant="_hotband",
        stamp_extra=f"{_HOT_BAND_N}:{_HOT_BAND_TEMPLATE}",
    )


def stream_dedup_hot_band(spark, sf):
    """The r12 hot-band backstop, ENGAGED and oracle-checked: a
    template-heavy corpus (the first 24 docs share one boilerplate
    text, so their 4 (band, sig) groups hold 24 members each) streams
    through ``stream_near_dedup_minhash`` with ``max_bucket=12`` — the
    corpus-global guard the batch operator has
    (``dedup.near_dup_pairs(max_bucket=...)``), computed by the probe
    from the touched bucket subtrees it already reads (every row of a
    (band, sig) group hashes to the same ``_bkt``). The template
    groups exceed the cap from the FIRST batch (all 24 land in file 1
    of 4 at every sf), so the as-of-each-trigger guard and the batch
    corpus-global guard agree exactly and the drained keeper set
    equals the batch rule with the same cap — which is the oracle
    (the minhash keeper SQL over the CASE-rewritten corpus with the
    mirrored ``bc <= 12`` window guard). Without the guard the 23
    non-first template docs would be dropped (Jaccard 1); with it
    they are all kept and the probe join never fans out over the
    degenerate group. Also runs in-drive maintenance
    (``maintain_every=2``) — skew and maintenance composed."""
    import atexit
    import shutil
    import tempfile

    src_dir = _hot_band_docs_stream_dir(sf)
    schema = parquet_schema(spark, src_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    scratch = tempfile.mkdtemp(prefix="spark_graft_stream_hot_band_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    out = stream_near_dedup_minhash(
        spark,
        stream,
        out_dir=_os.path.join(scratch, "out"),
        checkpoint_dir=_os.path.join(scratch, "ckpt"),
        store_dir=_os.path.join(scratch, "store"),
        threshold=0.2,
        store_buckets=32,
        max_bucket=_HOT_BAND_CAP,
        maintain_every=2,
        consolidate_min_batch_dirs=2,
    )
    return out.select("doc_id", "source").orderBy("doc_id")


def stream_dedup_near_emb(spark, sf):
    """Incremental streaming SEMANTIC dedup (r9): the embeddings corpus
    arrives one staged file per micro-batch (4 ascending-vec_id files,
    sequenced mtimes) and each batch is sign-LSH deduplicated against
    the accumulating bucket store —
    ``streaming.jobs.stream_near_dedup_embedding``, the ingestion-time
    twin of ``similarity.embedding_near_dup_pairs`` at 8 bits × 2
    tables, cosine ≥ 0.3 (``dedup_embedding``'s operating point; the
    guard is carried non-engaging since r12 — see below).
    Under ordered arrival the drained keeper set equals the batch rule
    "drop every vector with a smaller-id bucket-sharing partner at
    cosine ≥ threshold", which is the oracle (the sign-LSH pair CTE
    with a NOT-EXISTS keeper wrapper). Scratch dirs fresh per call,
    reaped at process exit. r10: ``store_buckets=32`` — the banded
    store layout, same contract as stream_dedup_near_docs. r12:
    in-drive maintenance (``maintain_every=2``) and the hot-bucket
    backstop in the plan (``max_bucket=64``, non-engaging — max
    (table, bucket) occupancy is 7 at sf0.01 / 16 at sf0.1, so the
    guardless oracle still holds)."""
    import atexit
    import shutil
    import tempfile

    src_dir = _ordered_embeddings_stream_dir(sf)
    schema = parquet_schema(spark, src_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    scratch = tempfile.mkdtemp(prefix="spark_graft_stream_near_emb_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    out = stream_near_dedup_embedding(
        spark,
        stream,
        out_dir=_os.path.join(scratch, "out"),
        checkpoint_dir=_os.path.join(scratch, "ckpt"),
        store_dir=_os.path.join(scratch, "store"),
        bits=8,
        tables=2,
        threshold=0.3,
        store_buckets=32,
        max_bucket=64,
        maintain_every=2,
        consolidate_min_batch_dirs=2,
    )
    return out.select("vec_id", "label").orderBy("vec_id")


def stream_knn_ivf(spark, sf):
    """Streaming-maintained IVF index, probed (r9): centroids are
    seeded from the FIRST staged file (the initial corpus — the static
    quantizer), the full embeddings replay then streams through
    ``stream_ivf_index_append`` one file per trigger (every vector,
    seed file included, is assigned to the fixed centroids and lands
    as posting rows), and the accumulated postings are probed with
    ``cosine_knn_ivf_probe_dir`` at the shipped 24/8×2 operating
    point. The drive maintains the two-tier LIST-MAJOR layout
    (``_list=K/batch_id=N`` history plus a batch-major recent tail,
    layout marker-enforced) and the probe reads only the probed lists'
    subtrees, the same write-once/probe-forever loop as
    ``knn_ivf_persisted`` but with the index MAINTAINED by the stream.
    The oracle re-derives the same thing statically: centroids =
    md5-rank over the first ceil(n/4) vec_ids, replicated assignment
    over ALL vectors, probe/rank tail verbatim from ``knn_ivf``."""
    import atexit
    import shutil
    import tempfile

    src_dir = _ordered_embeddings_stream_dir(sf)
    parts = sorted(
        p for p in _os.listdir(src_dir) if p.endswith(".parquet")
    )
    schema = parquet_schema(spark, src_dir)
    seed = spark.read.schema(schema).parquet(_os.path.join(src_dir, parts[0]))
    scratch = tempfile.mkdtemp(prefix="spark_graft_stream_ivf_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    cdir = _os.path.join(scratch, "cent")
    c, _ = ivf_assignments(
        seed, select_ivf_centroids(seed, "vec_id", _KNN_IVF_LISTS)
    )
    c.write.parquet(cdir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    pdir = _os.path.join(scratch, "post")
    # r12: maintain_every=2 — the roll + threshold-gated consolidation
    # fire IN-DRIVE after batches 1 and 3, so the probe below attests
    # result parity across a mid-drive maintenance cycle of the
    # list-major layout
    stream_ivf_index_append(
        spark,
        stream,
        centroids_dir=cdir,
        postings_dir=pdir,
        checkpoint_dir=_os.path.join(scratch, "ckpt"),
        replication=_KNN_IVF_REPL,
        maintain_every=2,
        consolidate_min_batch_dirs=2,
    )
    queries = load_table(spark, sf, "embeddings").filter(F.col("vec_id") < 10)
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        cosine_knn_ivf_probe_dir,
    )

    return cosine_knn_ivf_probe_dir(
        spark,
        cdir,
        pdir,
        queries,
        k=3,
        nprobe=_KNN_IVF_NPROBE,
    ).orderBy("query_id", "rank")


def repetition_scores_q(spark, sf):
    """Gopher-style repetition filters over the raw corpus (the fixture
    text is genuinely repetitive — value-bearing without synthesis)."""
    return repetition_scores(_docs(spark, sf)).orderBy("doc_id")


#: Mixture weights for the mix_sources demo: a few sources kept at
#: graded rates, the long tail dropped (default threshold '0000').
MIX_WEIGHTS = {
    "src0": "ffff", "src1": "c000", "src2": "8000",
    "src3": "4000", "src4": "2000", "src5": "1000",
}


def mix_sources_q(spark, sf):
    """Deterministic weighted domain mixing — per-source md5-threshold
    rates via a create_map literal, filter fused into the scan."""
    return (
        mix_sources(_docs(spark, sf), MIX_WEIGHTS)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def shuffle_shards_q(spark, sf):
    """Deterministic training-shard shuffle: multiplicative-hash shard
    + md5-ordered in-shard position; one shuffle, no global sort."""
    return (
        shuffle_shards(_docs(spark, sf), n_shards=16)
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")
    )


def embedding_centroids_q(spark, sf):
    """Per-label embedding centroids as (label, pos, centroid) rows —
    posexplode + ONE map-side-partial aggregation."""
    return embedding_centroids(load_table(spark, sf, "embeddings")).orderBy(
        "label", "pos"
    )


def embedding_outliers_q(spark, sf):
    """Label-noise QA: cosine of each vector to its own label centroid,
    flagged below 0.0 — centroids broadcast, zero corpus shuffle."""
    return embedding_outliers(
        load_table(spark, sf, "embeddings"), min_cosine=0.0
    ).orderBy("vec_id")


def tfidf_top_terms_q(spark, sf):
    """Top-3 TF-IDF keywords per doc; vocabulary + corpus count
    broadcast as single rows, corpus side pure projection."""
    return tfidf_top_terms(_docs(spark, sf)).orderBy("doc_id", "rank")


def embedding_label_spread_q(spark, sf):
    """applyInPandas grouped-map (numpy per label) under a value
    oracle: the variance trace decomposes into per-dimension var_pop,
    which is exactly how the DuckDB side checks the numpy result."""
    return embedding_label_spread(load_table(spark, sf, "embeddings"))


def inverted_index_q(spark, sf):
    """Capped inverted index: per-term document frequency + first-20
    posting list, built in one hash aggregation.

    The gate-facing output is the posting list UNNESTED to scalar
    (term, df_count, pos, doc_id) rows — the driver's pandas
    canonicalization cannot hash array-typed columns (r3's one red
    row), and the registry now forbids them for oracle queries
    (tests/test_catalog_registry.py). The posexplode is a pure
    projection over the index's single hash aggregation; row width
    stays O(1) and row count O(terms * max_postings)."""
    idx = inverted_index(_docs(spark, sf))
    return (
        idx.select(
            "term",
            "df_count",
            F.posexplode("postings").alias("_p", "doc_id"),
        )
        .select(
            "term",
            "df_count",
            (F.col("_p") + 1).cast("long").alias("pos"),
            "doc_id",
        )
        .orderBy("term", "pos")
    )


def training_pipeline_q(spark, sf):
    """The CAPSTONE composition: dedup keeper → quality gate → 13-gram
    decontamination → weighted mixing → shard shuffle in ONE plan
    (operators.text_analysis.training_data_pipeline). Uses the default
    broadcast-semi-join decontam: this query's benchmark (every 17th
    doc) GROWS with the corpus, which is exactly the regime where the
    r7 100× decade measured the fully-fused array probe going
    O(corpus × |bench|) — 140 s vs ~8 s at 500k docs (SCALE.md)."""
    docs = _docs(spark, sf)
    bench = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    return training_data_pipeline(docs, bench, weights_hex4=MIX_WEIGHTS)


# --------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect), keyed identically.
# --------------------------------------------------------------------------

_STOP_IN = {k: ", ".join(f"'{w}'" for w in v) for k, v in STOPWORDS.items()}
_ALL_STOP_IN = ", ".join(f"'{w}'" for ws in STOPWORDS.values() for w in ws)

_LANG_SCORE = ",\n  ".join(
    "round(sum(CASE WHEN word IN ({lst}) THEN 1 ELSE 0 END) / count(*), 6)"
    " AS {lang}_score".format(lst=_STOP_IN[lang], lang=lang)
    for lang in ["en", "de", "es", "fr"]
)

# PII patterns verbatim from operators.safety (Java∩RE2-portable; no
# single quotes, safe to embed in SQL literals).
_PII_SQL = PII_PATTERNS

# DuckDB side of _pii_synth: the same doc_id-arithmetic injection.
_PII_SYNTH_CTE = (
    "WITH p AS (SELECT doc_id, text"
    " || CASE WHEN doc_id % 3 = 0 THEN ' user' || (doc_id % 50)::VARCHAR"
    " || '@ex' || (doc_id % 7)::VARCHAR || '.com' ELSE '' END"
    " || CASE WHEN doc_id % 4 = 0 THEN ' +1-555-'"
    " || (100 + doc_id % 900)::VARCHAR || '-'"
    " || (1000 + doc_id % 9000)::VARCHAR ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' '"
    " || (100 + doc_id % 900)::VARCHAR || '-'"
    " || (10 + doc_id % 90)::VARCHAR || '-'"
    " || (1000 + doc_id % 9000)::VARCHAR ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN ' 10.' || (doc_id % 256)::VARCHAR"
    " || '.' || ((doc_id * 3) % 256)::VARCHAR"
    " || '.' || ((doc_id * 7) % 256)::VARCHAR ELSE '' END"
    " AS text FROM documents)"
)

# SimHash fingerprints (DuckDB side of dedup.simhash_fingerprints),
# shared by the fingerprint and near-dup-pair oracles. 32 bits since r7:
# the 100× sweep measured the 16-bit family's 2^8 band buckets holding
# ~2000 docs each at 500k docs, so the max_bucket guard dropped EVERY
# bucket and recall collapsed to zero — band value space must scale
# with corpus size. 32 bits is the md5-hex ceiling (one hex digit's
# high bit per position) and gives 2^16 values per 2-band split.
_SIMHASH_BITS = 32


def _simhash_fp_cte(bits: int) -> str:
    # Bit i < 32: high bit (nibble & 8) of hex digit i+1; bit i >= 32:
    # second bit (nibble & 4) of hex digit i-31 — mirrors the Spark
    # operator's 64-wide extension exactly (one md5 per token).
    def _bit_case(i: int) -> str:
        p = i + 1 if i < 32 else i - 31
        s = (
            "('8','9','a','b','c','d','e','f')"
            if i < 32
            else "('4','5','6','7','c','d','e','f')"
        )
        return (
            "CASE WHEN sum(CASE WHEN substr(hx, {p}, 1) IN"
            " {s} THEN 1 ELSE -1 END) > 0"
            " THEN '1' ELSE '0' END".format(p=p, s=s)
        )

    return (
        "tk AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))"
        " AS w FROM documents),"
        " h AS (SELECT doc_id, md5(w) AS hx FROM tk),"
        " fp AS (SELECT doc_id, concat("
        + ", ".join(_bit_case(i) for i in range(bits))
        + ") AS simhash FROM h GROUP BY doc_id)"
    )


_SIMHASH_FP_CTE = _simhash_fp_cte(_SIMHASH_BITS)

ORACLE_SQL: dict[str, str] = {
    "q1_top_words": _WORDS_CTE
    + " SELECT word, count(*) AS cnt FROM w GROUP BY word"
    " ORDER BY cnt DESC, word",
    "q1_rare_words": _WORDS_CTE
    + " SELECT word, count(*) AS cnt FROM w GROUP BY word"
    " ORDER BY cnt ASC, word",
    "q1_word_search": _WORDS_CTE
    + " SELECT word, count(*) AS cnt FROM w WHERE regexp_matches(word, '^s')"
    " GROUP BY word ORDER BY cnt DESC, word",
    "q1_top_emojis": (
        "WITH e AS (SELECT chr((128512 + doc_id % 80)::INT) AS e1,"
        " chr((128512 + (doc_id * 7) % 80)::INT) AS e2 FROM documents),"
        " t AS (SELECT e1 AS Emoji FROM e"
        " UNION ALL SELECT e2 FROM e UNION ALL SELECT e2 FROM e)"
        " SELECT Emoji, count(*) AS cnt FROM t GROUP BY Emoji"
        " ORDER BY cnt DESC, Emoji"
    ),
    "q1_emoji_kernel_synth": (
        "WITH e AS (SELECT chr((128512 + doc_id % 80)::INT) AS e1,"
        " chr((128512 + (doc_id * 7) % 80)::INT) AS e2 FROM documents),"
        " t AS (SELECT e1 AS Emoji FROM e"
        " UNION ALL SELECT e2 FROM e UNION ALL SELECT e2 FROM e)"
        " SELECT Emoji, count(*) AS cnt FROM t GROUP BY Emoji"
        " ORDER BY cnt DESC, Emoji"
    ),
    "q1_kernel_equiv": (
        "WITH e AS (SELECT chr((128512 + doc_id % 80)::INT) AS e1,"
        " chr((128512 + (doc_id * 7) % 80)::INT) AS e2 FROM documents),"
        " t AS (SELECT e1 AS Emoji FROM e"
        " UNION ALL SELECT e2 FROM e UNION ALL SELECT e2 FROM e),"
        " k AS (SELECT 'verbatim' AS kernel, Emoji FROM t"
        " UNION ALL SELECT 'portable', Emoji FROM t)"
        " SELECT kernel, Emoji, count(*) AS cnt FROM k GROUP BY 1, 2"
        " ORDER BY kernel, cnt DESC, Emoji"
    ),
    "q3_ratio_synth": (
        "WITH c AS (SELECT sum(2 + doc_id % 4)::BIGINT AS word_count,"
        " (3 * count(*))::BIGINT AS emoji_count FROM documents)"
        " SELECT emoji_count, word_count,"
        " round(emoji_count / word_count, 6) AS ratio FROM c"
    ),
    "q4_emoji_by_user_synth": (
        "WITH e AS (SELECT doc_id,"
        " chr((128512 + doc_id % 80)::INT) AS e1,"
        " chr((128512 + (doc_id * 7) % 80)::INT) AS e2,"
        " 'user' || (doc_id % 5) AS u1,"
        " 'user' || ((doc_id + 1) % 5) AS u2 FROM documents),"
        " t AS (SELECT doc_id, e1 AS em FROM e"
        "  UNION ALL SELECT doc_id, e2 FROM e"
        "  UNION ALL SELECT doc_id, e2 FROM e),"
        " u AS (SELECT doc_id, u1 AS username FROM e"
        "  UNION ALL SELECT doc_id, u2 FROM e)"
        " SELECT username AS Username, em AS Emoji, count(*) AS cnt"
        " FROM t JOIN u USING (doc_id) GROUP BY 1, 2"
        " ORDER BY cnt DESC, Username, Emoji"
    ),
    "q5_tweets_categories": (
        "WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0),"
        " e AS (SELECT doc_id,"
        " chr((128512 + doc_id % 80)::INT) AS e1,"
        " chr((128512 + (doc_id * 7) % 80)::INT) AS e2,"
        " 'cat' || (doc_id % 7) AS c1,"
        " 'cat' || ((doc_id + 2) % 7) AS c2 FROM d),"
        " t AS (SELECT doc_id, e1 AS em FROM e"
        "  UNION ALL SELECT doc_id, e2 FROM e"
        "  UNION ALL SELECT doc_id, e2 FROM e),"
        " c AS (SELECT doc_id, c1 AS name FROM e"
        "  UNION ALL SELECT doc_id, c2 FROM e)"
        " SELECT name AS Name, em AS Emoji, count(*) AS cnt"
        " FROM t JOIN c USING (doc_id) GROUP BY 1, 2"
        " ORDER BY cnt DESC, Name, Emoji"
    ),
    "q6_tweets_geo": (
        "WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0),"
        " e AS (SELECT doc_id,"
        " chr((128512 + doc_id % 80)::INT) AS e1,"
        " chr((128512 + (doc_id * 7) % 80)::INT) AS e2,"
        " 'C' || (doc_id % 6) AS country FROM d),"
        " t AS (SELECT doc_id, e1 AS em FROM e"
        "  UNION ALL SELECT doc_id, e2 FROM e"
        "  UNION ALL SELECT doc_id, e2 FROM e)"
        " SELECT country AS Country, em AS Emoji, count(*) AS cnt"
        " FROM t JOIN e USING (doc_id) GROUP BY 1, 2"
        " ORDER BY cnt DESC, Country, Emoji"
    ),
    "q2_tweets_stream_top_emojis": (
        "WITH e AS (SELECT chr((128512 + doc_id % 80)::INT) AS e1,"
        " chr((128512 + (doc_id * 7) % 80)::INT) AS e2 FROM documents),"
        " t AS (SELECT e1 AS Emoji FROM e"
        " UNION ALL SELECT e2 FROM e UNION ALL SELECT e2 FROM e)"
        " SELECT Emoji, count(*) AS cnt FROM t GROUP BY Emoji"
        " ORDER BY cnt DESC, Emoji"
    ),
    "word_position_counts": (
        "WITH t AS (SELECT list_filter(string_split(text, ' '),"
        " w -> regexp_matches(w, {w})) AS wl FROM documents),"
        " pw AS (SELECT unnest(list_transform(range(1, len(wl) + 1),"
        "  i -> {{'pos': i - 1, 'word': wl[i]}})) AS s FROM t)"
        " SELECT s.pos AS pos, s.word AS word, count(*) AS cnt FROM pw"
        " WHERE s.pos < 3 GROUP BY s.pos, s.word"
        " ORDER BY pos, cnt DESC, word"
    ).format(w=_W),
    "q2_stream_top_words": _WORDS_CTE
    + " SELECT word, count(*) AS cnt FROM w GROUP BY word"
    " ORDER BY cnt DESC, word",
    "q3_corpus_counts": _WORDS_CTE
    + " SELECT count(*) AS word_count, count(DISTINCT doc_id) AS n_docs,"
    " round(count(*) / count(DISTINCT doc_id), 6) AS words_per_doc FROM w",
    "q4_words_by_source": _WORDS_CTE
    + " SELECT source, word, count(*) AS cnt FROM w"
    " WHERE source IS NOT NULL GROUP BY source, word"
    " ORDER BY cnt DESC, source, word",
    "q5_words_by_lang": _WORDS_CTE
    + " SELECT lang, word, count(*) AS cnt FROM w"
    " WHERE lang IS NOT NULL GROUP BY lang, word"
    " ORDER BY cnt DESC, lang, word",
    "q6_words_by_lang_excl": _WORDS_CTE
    + " SELECT lang, word, count(*) AS cnt FROM w"
    " WHERE lang IS NOT NULL AND NOT contains(lang, 'e')"
    " GROUP BY lang, word ORDER BY cnt DESC, lang, word",
    "q6_word_search_by_lang": _WORDS_CTE
    + " SELECT lang, word, count(*) AS cnt FROM w"
    " WHERE lang IS NOT NULL AND regexp_matches(lang, '^e')"
    " GROUP BY lang, word ORDER BY cnt DESC, lang, word",
    "q7_events_early": (
        "SELECT event_type, count(*) AS cnt FROM events"
        " WHERE ts < TIMESTAMP '2024-01-15 00:00:00'"
        " GROUP BY event_type ORDER BY cnt DESC, event_type"
    ),
    "q7_events_late": (
        "SELECT event_type, count(*) AS cnt FROM events"
        " WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'"
        " GROUP BY event_type ORDER BY cnt DESC, event_type"
    ),
    # Ground truth for the end-to-end tweet pipeline: same chr()
    # arithmetic as the synthesis, restricted to docs that carry the
    # mentions/includes expansions (one in ten does not — the F3 null
    # guard drops it). No regex, no JSON: pure expected-value algebra.
    "q4_tweets_end_to_end": (
        "WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0),"
        " e AS (SELECT doc_id,"
        " chr((128512 + doc_id % 80)::INT) AS e1,"
        " chr((128512 + (doc_id * 7) % 80)::INT) AS e2,"
        " 'user' || (doc_id % 5) AS u1,"
        " 'user' || ((doc_id + 1) % 5) AS u2 FROM d),"
        " t AS (SELECT doc_id, e1 AS em FROM e"
        "  UNION ALL SELECT doc_id, e2 FROM e"
        "  UNION ALL SELECT doc_id, e2 FROM e),"
        " u AS (SELECT doc_id, u1 AS username FROM e"
        "  UNION ALL SELECT doc_id, u2 FROM e)"
        " SELECT username AS Username, em AS Emoji, count(*) AS cnt"
        " FROM t JOIN u USING (doc_id) GROUP BY 1, 2"
        " ORDER BY cnt DESC, Username, Emoji"
    ),
    "stream_windowed_events": (
        "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,"
        " event_type, count(*) AS n FROM events GROUP BY 1, 2"
    ),
    "tpch_q1_pricing": (
        "SELECT l_returnflag, l_linestatus,"
        " (sum(l_quantity::DECIMAL(18,2)))::DOUBLE AS sum_qty,"
        " (sum(l_extendedprice::DECIMAL(18,2)))::DOUBLE AS sum_base_price,"
        " (sum(l_extendedprice::DECIMAL(18,2) * (1.00 - l_discount::DECIMAL(18,2))))::DOUBLE"
        "   AS sum_disc_price,"
        " count(*) AS count_order"
        " FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'"
        " GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    ),
    "join_revenue_by_nation": (
        "SELECT n_name, (sum(o_totalprice::DECIMAL(18,2)))::DOUBLE AS revenue,"
        " count(*) AS n_orders"
        " FROM orders JOIN customer ON o_custkey = c_custkey"
        " JOIN nation ON c_nationkey = n_nationkey"
        " GROUP BY n_name ORDER BY revenue DESC, n_name"
    ),
    "window_top_customer_per_nation": (
        "WITH spend AS (SELECT o_custkey,"
        " (sum(o_totalprice::DECIMAL(18,2)))::DOUBLE AS spend"
        " FROM orders GROUP BY o_custkey)"
        " SELECT n_name, c_custkey, spend FROM ("
        "  SELECT n_name, c_custkey, spend, row_number() OVER ("
        "   PARTITION BY n_name ORDER BY spend DESC, c_custkey) AS rk"
        "  FROM spend JOIN customer ON o_custkey = c_custkey"
        "  JOIN nation ON c_nationkey = n_nationkey)"
        " WHERE rk = 1 ORDER BY n_name"
    ),
    "tpch_q3_topk": (
        "SELECT o_orderkey, o_orderdate, o_orderpriority,"
        " (sum(l_extendedprice::DECIMAL(18,2) * (1.00 - l_discount::DECIMAL(18,2))))::DOUBLE"
        "  AS revenue"
        " FROM customer JOIN orders ON c_custkey = o_custkey"
        " JOIN lineitem ON o_orderkey = l_orderkey"
        " WHERE c_mktsegment = 'BUILDING'"
        " AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"
        " AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'"
        " GROUP BY o_orderkey, o_orderdate, o_orderpriority"
        " ORDER BY revenue DESC, o_orderkey LIMIT 10"
    ),
    "setop_intersect": (
        "SELECT o_custkey FROM orders"
        " WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"
        " INTERSECT"
        " SELECT o_custkey FROM orders"
        " WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'"
        " ORDER BY o_custkey"
    ),
    "setop_except": (
        "SELECT o_custkey FROM orders"
        " WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"
        " EXCEPT"
        " SELECT o_custkey FROM orders"
        " WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'"
        " ORDER BY o_custkey"
    ),
    "rollup_doc_counts": (
        "SELECT lang, source, count(*) AS cnt FROM documents"
        " GROUP BY ROLLUP (lang, source)"
    ),
    "cube_doc_counts": (
        "SELECT lang, source, count(*) AS cnt FROM documents"
        " GROUP BY CUBE (lang, source)"
    ),
    "pivot_events_by_day": (
        "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, "
        + ", ".join(
            f"count(*) FILTER (event_type = '{t}') AS {t}"
            for t in EVENT_TYPES
        )
        + " FROM events GROUP BY day ORDER BY day"
    ),
    "events_json_props": (
        "SELECT event_type, count(*) AS n,"
        " sum(json_extract_string(props, '$.k')::INT)::BIGINT AS sum_k,"
        " max(json_extract_string(props, '$.k')::INT) AS max_k"
        " FROM events GROUP BY event_type ORDER BY event_type"
    ),
    "window_running_value": (
        "SELECT user_id, event_id,"
        " round(sum(round(value, 6)) OVER ("
        "  PARTITION BY user_id ORDER BY ts, event_id"
        "  ROWS UNBOUNDED PRECEDING), 4) AS running_value,"
        " lag(event_type) OVER ("
        "  PARTITION BY user_id ORDER BY ts, event_id) AS prev_type"
        " FROM events"
    ),
    "event_value_percentiles": (
        "SELECT event_type,"
        " round(quantile_cont(value, 0.5), 6) AS p50,"
        " round(quantile_cont(value, 0.9), 6) AS p90,"
        " round(quantile_cont(value, 0.99), 6) AS p99"
        " FROM events GROUP BY event_type ORDER BY event_type"
    ),
    # Self-verifying sketch check: the tolerance assertion runs inside
    # the Spark plan; the oracle pins every bracket-membership boolean.
    "event_value_percentiles_approx": (
        "SELECT event_type, true AS p50_ok, true AS p90_ok,"
        " true AS p99_ok FROM events GROUP BY event_type"
        " ORDER BY event_type"
    ),
    # Sketch-only twin: the Spark plan self-verifies via the sketch's
    # rank-error contract (no exact percentile anywhere); the oracle
    # pins the booleans.
    "event_value_percentiles_sketch": (
        "SELECT event_type, true AS p50_rank_ok, true AS p90_rank_ok,"
        " true AS p99_rank_ok, true AS mono_ok FROM events"
        " GROUP BY event_type ORDER BY event_type"
    ),
    # HLL sketch: the exact distinct count carries the value oracle;
    # the sketch's accuracy contract is the pinned-true boolean.
    "event_distinct_users_sketch": (
        "SELECT event_type, count(DISTINCT user_id) AS n_exact,"
        " true AS hll_ok FROM events GROUP BY event_type"
        " ORDER BY event_type"
    ),
    # Frequent-items sketch: the exact per-type row count carries the
    # value oracle (the sketch's ITEM list may legitimately be empty —
    # no-false-positives reporting under near-uniform traffic — so no
    # item-derived column is scale-stable); the two accuracy checks run
    # in-plan against exact counts and are pinned true.
    "event_top_users_sketch": (
        "SELECT event_type, count(*) AS n_rows,"
        " true AS bound_ok, true AS coverage_ok"
        " FROM events GROUP BY event_type ORDER BY event_type"
    ),
    # The bucketed layout only changes WHERE rows sit, never which rows
    # match: the oracle is the plain rollup + join on raw events.
    "bucketed_join_events": (
        "WITH users AS (SELECT user_id, count(*) AS n_events"
        " FROM events GROUP BY user_id)"
        " SELECT u.n_events, count(*) AS n_rows,"
        " (sum(e.value::DECIMAL(18,6)))::DOUBLE AS sum_value"
        " FROM events e JOIN users u ON e.user_id = u.user_id"
        " GROUP BY u.n_events ORDER BY u.n_events"
    ),
    # Self-verifying stream-vs-batch sessionization: expected closed
    # sessions = batch sessions minus each user's trailing session; the
    # in-plan set comparison must come out empty. Gap/delay literals in
    # this oracle and the native one below interpolate the SAME
    # streaming.jobs.SESSION_* constants the Spark plans use.
    "stream_sessionize_stateful_demo": (
        "WITH b AS (SELECT user_id, ts, event_id,"
        " CASE WHEN lag(ts) OVER w IS NULL"
        f"  OR ts - lag(ts) OVER w > INTERVAL '{SESSION_GAP_MINUTES} minutes'"
        " THEN 1 ELSE 0 END AS brk FROM events"
        " WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),"
        " s AS (SELECT user_id, ts, sum(brk) OVER ("
        "  PARTITION BY user_id ORDER BY ts, event_id"
        "  ROWS UNBOUNDED PRECEDING) AS sid FROM b),"
        " g AS (SELECT user_id, min(ts) AS session_start"
        "  FROM s GROUP BY user_id, sid),"
        " m AS (SELECT user_id, session_start,"
        "  max(session_start) OVER (PARTITION BY user_id) AS mx FROM g)"
        " SELECT count(*) AS n_closed_sessions, 0::BIGINT AS n_mismatch"
        " FROM m WHERE session_start < mx"
    ),
    # Native session_window streaming twin: full row-level sessions,
    # restricted to sessions STRICTLY closed by the terminal watermark
    # (max ts - 10 min delay) — session end (last event) + 30 min gap
    # must fall strictly below it, mirroring the query's post-filter.
    "stream_sessionize_native": (
        "WITH b AS (SELECT user_id, ts, event_id,"
        " CASE WHEN lag(ts) OVER w IS NULL"
        f"  OR ts - lag(ts) OVER w > INTERVAL '{SESSION_GAP_MINUTES} minutes'"
        " THEN 1 ELSE 0 END AS brk FROM events"
        " WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),"
        " s AS (SELECT user_id, ts, sum(brk) OVER ("
        "  PARTITION BY user_id ORDER BY ts, event_id"
        "  ROWS UNBOUNDED PRECEDING) AS sid FROM b),"
        " g AS (SELECT user_id, min(ts) AS session_start,"
        "  max(ts) AS session_end, count(*) AS n_events"
        "  FROM s GROUP BY user_id, sid)"
        " SELECT user_id, session_start, session_end, n_events FROM g"
        f" WHERE session_end + INTERVAL '{SESSION_GAP_MINUTES} minutes'"
        f"  < (SELECT max(ts) - INTERVAL '{SESSION_DELAY_MINUTES} minutes'"
        " FROM events)"
    ),
    "stream_stream_join_events": (
        "WITH c AS (SELECT event_id, user_id, ts FROM events"
        " WHERE event_type = 'click'),"
        " p AS (SELECT event_id AS purchase_event_id, user_id,"
        " ts AS purchase_ts FROM events WHERE event_type = 'purchase')"
        " SELECT c.event_id, c.user_id, c.ts, p.purchase_event_id,"
        " p.purchase_ts FROM c JOIN p ON c.user_id = p.user_id"
        " AND p.purchase_ts <= c.ts"
        " AND p.purchase_ts > c.ts - INTERVAL '1 hour'"
    ),
    "stream_dedup_events": (
        "SELECT DISTINCT user_id, event_type FROM events"
    ),
    "dedup_clusters": (
        "WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ("
        + _near_dup_sql(_SHINGLES_CTE, 0.2)
        + ")), edges AS (SELECT id_a AS a, id_b AS b FROM pairs"
        " UNION SELECT id_b, id_a FROM pairs),"
        " reach AS (SELECT a AS n, b AS m FROM edges"
        "  UNION SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a)"
        " SELECT n AS doc_id, least(n, min(m)) AS cluster_id FROM reach"
        " GROUP BY n ORDER BY doc_id"
    ),
    "dedup_keep_best": (
        "WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ("
        + _near_dup_sql(_SHINGLES_CTE, 0.2)
        + ")), edges AS (SELECT id_a AS a, id_b AS b FROM pairs"
        " UNION SELECT id_b, id_a FROM pairs),"
        " reach AS (SELECT a AS n, b AS m FROM edges"
        "  UNION SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),"
        " clusters AS (SELECT n AS doc_id, least(n, min(m)) AS cluster_id"
        "  FROM reach GROUP BY n),"
        " q AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,"
        "  len(string_split(d.text, ' ')) AS quality"
        "  FROM documents d LEFT JOIN clusters c USING (doc_id)),"
        " k AS (SELECT cluster_id, doc_id AS keeper_id FROM"
        "  (SELECT cluster_id, doc_id, row_number() OVER"
        "   (PARTITION BY cluster_id ORDER BY quality DESC, doc_id) AS rn"
        "   FROM q) WHERE rn = 1)"
        " SELECT q.doc_id, q.cluster_id, k.keeper_id,"
        " (CASE WHEN q.doc_id = k.keeper_id THEN 1 ELSE 0 END)::BIGINT"
        "  AS is_keeper"
        " FROM q JOIN k USING (cluster_id) ORDER BY q.doc_id"
    ),
    "asof_join_events": (
        "WITH clicks AS (SELECT event_id, user_id, ts FROM events"
        " WHERE event_type = 'click'),"
        " p AS (SELECT user_id, ts,"
        "  arg_max(event_id, event_id) AS purchase_event_id,"
        "  arg_max(round(value, 6), event_id) AS purchase_value"
        "  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)"
        " SELECT c.event_id, c.user_id, c.ts, p.purchase_event_id,"
        " p.purchase_value"
        " FROM clicks c ASOF LEFT JOIN p"
        " ON c.user_id = p.user_id AND c.ts >= p.ts"
    ),
    "range_join_events": (
        "SELECT c.event_id, c.user_id, count(*) AS n_purchases,"
        " (sum(CAST(round(p.value, 6) AS DECIMAL(18,6))))::DOUBLE"
        "  AS sum_purchase_value"
        " FROM events c JOIN events p"
        " ON c.event_type = 'click' AND p.event_type = 'purchase'"
        " AND c.user_id = p.user_id"
        " AND p.ts <= c.ts AND p.ts >= c.ts - INTERVAL '1 hour'"
        " GROUP BY c.event_id, c.user_id ORDER BY c.event_id"
    ),
    "sessionize_events": (
        # The cumulative sum must scan in the SAME (ts, event_id) order
        # as the lag window that computed brk — ordering it by (ts, brk)
        # would sort a tied-timestamp session opener (brk=1) after its
        # brk=0 peers and assign tied boundary events to the previous
        # session, diverging from Spark's session_window.
        "WITH b AS (SELECT user_id, ts, event_id,"
        " CASE WHEN lag(ts) OVER w IS NULL"
        "  OR ts - lag(ts) OVER w > INTERVAL '30 minutes'"
        " THEN 1 ELSE 0 END AS brk FROM events"
        " WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),"
        " s AS (SELECT user_id, ts, sum(brk) OVER ("
        "  PARTITION BY user_id ORDER BY ts, event_id"
        "  ROWS UNBOUNDED PRECEDING) AS sid FROM b)"
        " SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,"
        " count(*) AS n_events FROM s GROUP BY user_id, sid"
    ),
    "dedup_ngram_jaccard": _near_dup_sql(
        _CHAR_SHINGLES_CTE, 0.5, max_bucket=20, num_hashes=16, band_size=4
    ),
    "dedup_containment": _containment_sql(_SHINGLES_CTE, 0.7, 20),
    "dedup_containment_cross": _cross_containment_sql(
        _SHINGLES_CTE, 0.7, 20, "doc_id % 2 = 0", "doc_id % 2 = 1"
    ),
    "stream_dedup_near_emb": _sign_lsh_keeper_sql(
        bits=8, tables=2, threshold=0.3
    ),
    "knn_join_emb": _knn_join_sql(
        bits=_KNN_LSH_BITS,
        tables=_KNN_LSH_TABLES,
        max_bucket=100,
        k=3,
        left_pred="vec_id % 2 = 0",
        right_pred="vec_id % 2 = 1",
    ),
    "dedup_embedding_cross": _cross_sign_lsh_sql(
        bits=8,
        tables=2,
        max_bucket=100,
        threshold=0.3,
        left_pred="vec_id % 2 = 0",
        right_pred="vec_id % 2 = 1",
    ),
    # the persisted-store probe is the same cross pair set UNGUARDED
    # (store probes don't offer max_bucket — see the builder docstring)
    "dedup_emb_store_probe": _cross_sign_lsh_sql(
        bits=8,
        tables=2,
        max_bucket=None,
        threshold=0.3,
        left_pred="vec_id % 2 = 0",
        right_pred="vec_id % 2 = 1",
    ),
    "dedup_embedding": _sign_lsh_near_dup_sql(
        bits=8, tables=2, max_bucket=100, threshold=0.3
    ),
    "dedup_embedding_hyperplane": _hyperplane_near_dup_sql(
        bits=_EMB_HP_BITS,
        tables=_EMB_HP_TABLES,
        max_bucket=100,
        threshold=0.3,
    ),
    "text_bpe_tokens": (
        "SELECT doc_id, len(string_split(text, ' ')) AS n_ws_tokens,"
        " len(regexp_extract_all(text, '{pat}')) AS n_bpe_tokens,"
        " round(len(regexp_extract_all(text, '{pat}'))"
        "  / len(string_split(text, ' ')), 6) AS bpe_per_ws"
        " FROM documents"
    ).format(pat=BPE_ISH_RE.replace("'", "''")),
    "dedup_exact": (
        "SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id,"
        " count(*) AS n_copies FROM documents GROUP BY text"
    ),
    "dedup_minhash_pairs": (
        "WITH "
        + _MINHASH_CTE
        + ",\nsizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),\n"
        "inter AS (SELECT c.id_a, c.id_b, count(*) AS i FROM cand c"
        " JOIN sh sa ON sa.doc_id = c.id_a"
        " JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle"
        " GROUP BY c.id_a, c.id_b)\n"
        "SELECT id_a, id_b, round(i / (na.n + nb.n - i), 6) AS jaccard"
        " FROM inter JOIN sizes na ON na.doc_id = id_a"
        " JOIN sizes nb ON nb.doc_id = id_b"
        " WHERE i / (na.n + nb.n - i) >= 0.2"
    ),
    "dedup_cross_pairs": _cross_near_dup_sql(
        _SHINGLES_CTE, "doc_id % 2 = 0", "doc_id % 2 = 1", 0.2
    ),
    "dedup_simhash": (
        "WITH " + _SIMHASH_FP_CTE + " SELECT doc_id, simhash FROM fp"
    ),
    "dedup_simhash_pairs": (
        "WITH " + _SIMHASH_FP_CTE + ","
        " bands AS (SELECT doc_id, 0 AS band, substr(simhash, 1, 16) AS sig"
        " FROM fp UNION ALL SELECT doc_id, 1, substr(simhash, 17, 16)"
        " FROM fp),"
        " bf AS (SELECT doc_id, band, sig FROM ("
        "  SELECT *, count(*) OVER (PARTITION BY band, sig) AS bc"
        "  FROM bands) WHERE bc <= 64),"
        " cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b"
        "  FROM bf a JOIN bf b ON a.band = b.band AND a.sig = b.sig"
        "  AND a.doc_id < b.doc_id)"
        " SELECT c.id_a, c.id_b, len(list_filter(range(1, 33),"
        "  i -> substr(fa.simhash, i, 1) != substr(fb.simhash, i, 1)"
        " ))::BIGINT AS hamming"
        " FROM cand c JOIN fp fa ON fa.doc_id = c.id_a"
        " JOIN fp fb ON fb.doc_id = c.id_b"
        " WHERE len(list_filter(range(1, 33),"
        "  i -> substr(fa.simhash, i, 1) != substr(fb.simhash, i, 1)"
        " )) <= 1 ORDER BY c.id_a, c.id_b"
    ),
    "dedup_simhash64_pairs": (
        "WITH " + _simhash_fp_cte(64) + ","
        " bands AS (SELECT doc_id, 0 AS band, substr(simhash, 1, 32) AS sig"
        " FROM fp UNION ALL SELECT doc_id, 1, substr(simhash, 33, 32)"
        " FROM fp),"
        " bf AS (SELECT doc_id, band, sig FROM ("
        "  SELECT *, count(*) OVER (PARTITION BY band, sig) AS bc"
        "  FROM bands) WHERE bc <= 64),"
        " cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b"
        "  FROM bf a JOIN bf b ON a.band = b.band AND a.sig = b.sig"
        "  AND a.doc_id < b.doc_id)"
        " SELECT c.id_a, c.id_b, len(list_filter(range(1, 65),"
        "  i -> substr(fa.simhash, i, 1) != substr(fb.simhash, i, 1)"
        " ))::BIGINT AS hamming"
        " FROM cand c JOIN fp fa ON fa.doc_id = c.id_a"
        " JOIN fp fb ON fb.doc_id = c.id_b"
        " WHERE len(list_filter(range(1, 65),"
        "  i -> substr(fa.simhash, i, 1) != substr(fb.simhash, i, 1)"
        " )) <= 1 ORDER BY c.id_a, c.id_b"
    ),
    "knn_brute": (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
        " q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),"
        " scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,"
        "  list_dot_product(q.v, c.v) /"
        "  sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)) AS cos"
        "  FROM q JOIN e c ON q.vec_id <> c.vec_id)"
        " SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY query_id"
        "   ORDER BY cos DESC, neighbor_id) AS rank FROM scored)"
        " WHERE rank <= 5"
    ),
    "knn_ivf": (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
        " cent AS (SELECT vec_id AS cid, v AS cv FROM e"
        f"  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {_KNN_IVF_LISTS}),"
        # r9: 2-way boundary replication — rk <= REPL, not rk = 1
        " asg AS (SELECT vec_id, cid AS list FROM ("
        "  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id"
        "   ORDER BY list_dot_product(e.v, c.cv) /"
        "   sqrt(list_dot_product(e.v, e.v) * list_dot_product(c.cv, c.cv))"
        "   DESC, c.cid ASC) AS rk FROM e CROSS JOIN cent c)"
        f" WHERE rk <= {_KNN_IVF_REPL}),"
        " q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),"
        " probes AS (SELECT query_id, qv, cid AS list FROM ("
        "  SELECT q.query_id, q.qv, c.cid, row_number() OVER ("
        "   PARTITION BY q.query_id"
        "   ORDER BY list_dot_product(q.qv, c.cv) /"
        "   sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.cv, c.cv))"
        "   DESC, c.cid ASC) AS prk FROM q CROSS JOIN cent c)"
        f" WHERE prk <= {_KNN_IVF_NPROBE}),"
        # DISTINCT: a (query, neighbor) pair sharing several probed
        # lists must rank once (mirrors the operator's max-collapse)
        " scored AS (SELECT DISTINCT p.query_id, e.vec_id AS neighbor_id,"
        "  list_dot_product(p.qv, e.v) /"
        "  sqrt(list_dot_product(p.qv, p.qv) * list_dot_product(e.v, e.v)) AS cos"
        "  FROM probes p JOIN asg a ON a.list = p.list"
        "  JOIN e ON e.vec_id = a.vec_id WHERE e.vec_id <> p.query_id)"
        " SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY query_id"
        "   ORDER BY cos DESC, neighbor_id) AS rank FROM scored)"
        " WHERE rank <= 3"
    ),
    # IVF drift signal (r12): centroid + replicated-assignment CTEs
    # verbatim from knn_ivf, then per-list occupancy + mean assignment
    # cosine. round-6 after avg: the ~1e-16·n summation-order skew
    # between engines sits ten orders below the rounding grain.
    "knn_ivf_drift": (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
        " cent AS (SELECT vec_id AS cid, v AS cv FROM e"
        f"  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {_KNN_IVF_LISTS}),"
        " asg AS (SELECT vec_id, cid AS list FROM ("
        "  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id"
        "   ORDER BY list_dot_product(e.v, c.cv) /"
        "   sqrt(list_dot_product(e.v, e.v) * list_dot_product(c.cv, c.cv))"
        "   DESC, c.cid ASC) AS rk FROM e CROSS JOIN cent c)"
        f" WHERE rk <= {_KNN_IVF_REPL}),"
        " j AS (SELECT a.list, list_dot_product(e.v, c.cv) /"
        "  sqrt(list_dot_product(e.v, e.v) * list_dot_product(c.cv, c.cv))"
        "  AS cos FROM asg a JOIN e ON e.vec_id = a.vec_id"
        "  JOIN cent c ON c.cid = a.list)"
        " SELECT list AS list_id, count(*)::BIGINT AS n_vectors,"
        " round(avg(cos), 6) AS mean_cos FROM j GROUP BY list"
        " ORDER BY list_id"
    ),
    # IVF kNN JOIN: centroids sampled from the RIGHT corpus only, the
    # probe set is the (corpus-sized) LEFT relation, and there is no
    # same-id exclusion — equal ids across two distinct corpora are
    # legitimate matches. Shared-list duplicates collapse via DISTINCT
    # (cosines are identical per pair, mirroring the operator's
    # combining max).
    "knn_join_emb_ivf": (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
        " r AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 1),"
        " l AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),"
        " cent AS (SELECT vec_id AS cid, v AS cv FROM r"
        f"  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {_KNN_IVF_LISTS}),"
        " asg AS (SELECT vec_id, cid AS list FROM ("
        "  SELECT r.vec_id, c.cid, row_number() OVER (PARTITION BY r.vec_id"
        "   ORDER BY list_dot_product(r.v, c.cv) /"
        "   sqrt(list_dot_product(r.v, r.v) * list_dot_product(c.cv, c.cv))"
        "   DESC, c.cid ASC) AS rk FROM r CROSS JOIN cent c)"
        f" WHERE rk <= {_KNN_IVF_REPL}),"
        " probes AS (SELECT left_id, qv, cid AS list FROM ("
        "  SELECT l.vec_id AS left_id, l.v AS qv, c.cid, row_number() OVER ("
        "   PARTITION BY l.vec_id"
        "   ORDER BY list_dot_product(l.v, c.cv) /"
        "   sqrt(list_dot_product(l.v, l.v) * list_dot_product(c.cv, c.cv))"
        "   DESC, c.cid ASC) AS prk FROM l CROSS JOIN cent c)"
        f" WHERE prk <= {_KNN_IVF_NPROBE}),"
        " scored AS (SELECT DISTINCT p.left_id, r.vec_id AS right_id,"
        "  list_dot_product(p.qv, r.v) /"
        "  sqrt(list_dot_product(p.qv, p.qv) * list_dot_product(r.v, r.v)) AS cos"
        "  FROM probes p JOIN asg a ON a.list = p.list"
        "  JOIN r ON r.vec_id = a.vec_id)"
        " SELECT left_id, right_id, rank, round(cos, 6) AS cosine FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY left_id"
        "   ORDER BY cos DESC, right_id) AS rank FROM scored)"
        " WHERE rank <= 3"
    ),
    # Streaming-maintained IVF: identical probe/rank tail to knn_ivf;
    # only the centroid CTE differs — the md5 rank runs over the SEED
    # subset (the first ceil(n/4) vec_ids = the first staged replay
    # file), the assignment still covers ALL vectors (every arrival is
    # posted against the fixed centroids).
    "stream_knn_ivf": (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
        " seed AS (SELECT vec_id, v FROM ("
        "  SELECT e.*, row_number() OVER (ORDER BY vec_id) AS rn FROM e)"
        "  WHERE rn <= (SELECT CAST(ceil(count(*) / 4.0) AS BIGINT) FROM e)),"
        " cent AS (SELECT vec_id AS cid, v AS cv FROM seed"
        f"  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {_KNN_IVF_LISTS}),"
        " asg AS (SELECT vec_id, cid AS list FROM ("
        "  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id"
        "   ORDER BY list_dot_product(e.v, c.cv) /"
        "   sqrt(list_dot_product(e.v, e.v) * list_dot_product(c.cv, c.cv))"
        "   DESC, c.cid ASC) AS rk FROM e CROSS JOIN cent c)"
        f" WHERE rk <= {_KNN_IVF_REPL}),"
        " q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),"
        " probes AS (SELECT query_id, qv, cid AS list FROM ("
        "  SELECT q.query_id, q.qv, c.cid, row_number() OVER ("
        "   PARTITION BY q.query_id"
        "   ORDER BY list_dot_product(q.qv, c.cv) /"
        "   sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.cv, c.cv))"
        "   DESC, c.cid ASC) AS prk FROM q CROSS JOIN cent c)"
        f" WHERE prk <= {_KNN_IVF_NPROBE}),"
        " scored AS (SELECT DISTINCT p.query_id, e.vec_id AS neighbor_id,"
        "  list_dot_product(p.qv, e.v) /"
        "  sqrt(list_dot_product(p.qv, p.qv) * list_dot_product(e.v, e.v)) AS cos"
        "  FROM probes p JOIN asg a ON a.list = p.list"
        "  JOIN e ON e.vec_id = a.vec_id WHERE e.vec_id <> p.query_id)"
        " SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY query_id"
        "   ORDER BY cos DESC, neighbor_id) AS rank FROM scored)"
        " WHERE rank <= 3 ORDER BY query_id, rank"
    ),
    # Tree-quantizer IVF: the CTE chain re-derives every level of the
    # two-level assignment — supers are the first isqrt(L) rows of the
    # SAME md5 rank that picked the centroids; each centroid attaches
    # to its 2 nearest supers; each vector routes through its 2 nearest
    # supers and posts into its REPL nearest candidate centroids. The
    # probe/rank tail is knn_ivf's verbatim. max(cos): a centroid
    # reached through both probed supers scores twice identically —
    # GROUP BY collapses it like the operator's combining max.
    "knn_ivf_tree": (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
        " cent AS (SELECT vec_id AS cid, v AS cv FROM e"
        f"  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {_KNN_IVF_LISTS}),"
        " sup AS (SELECT cid AS sid, cv AS sv FROM cent"
        f"  ORDER BY md5(cid::VARCHAR), cid LIMIT {max(2, int(_KNN_IVF_LISTS**0.5))}),"
        " cs AS (SELECT sid, cid, cv FROM ("
        "  SELECT s.sid, c.cid, c.cv, row_number() OVER (PARTITION BY c.cid"
        "   ORDER BY list_dot_product(c.cv, s.sv) /"
        "   sqrt(list_dot_product(c.cv, c.cv) * list_dot_product(s.sv, s.sv))"
        "   DESC, s.sid ASC) AS crk FROM cent c CROSS JOIN sup s)"
        " WHERE crk <= 2),"
        " vsup AS (SELECT vec_id, sid FROM ("
        "  SELECT e.vec_id, s.sid, row_number() OVER (PARTITION BY e.vec_id"
        "   ORDER BY list_dot_product(e.v, s.sv) /"
        "   sqrt(list_dot_product(e.v, e.v) * list_dot_product(s.sv, s.sv))"
        "   DESC, s.sid ASC) AS vrk FROM e CROSS JOIN sup s)"
        " WHERE vrk <= 2),"
        " cand AS (SELECT vec_id, cid, max(cos) AS cos FROM ("
        "  SELECT v.vec_id, cs.cid,"
        "   list_dot_product(e.v, cs.cv) /"
        "   sqrt(list_dot_product(e.v, e.v) * list_dot_product(cs.cv, cs.cv)) AS cos"
        "  FROM vsup v JOIN e ON e.vec_id = v.vec_id"
        "  JOIN cs ON cs.sid = v.sid) GROUP BY vec_id, cid),"
        " asg AS (SELECT vec_id, cid AS list FROM ("
        "  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id"
        "   ORDER BY cos DESC, cid ASC) AS trk FROM cand)"
        f" WHERE trk <= {_KNN_IVF_REPL}),"
        " q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),"
        " probes AS (SELECT query_id, qv, cid AS list FROM ("
        "  SELECT q.query_id, q.qv, c.cid, row_number() OVER ("
        "   PARTITION BY q.query_id"
        "   ORDER BY list_dot_product(q.qv, c.cv) /"
        "   sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.cv, c.cv))"
        "   DESC, c.cid ASC) AS prk FROM q CROSS JOIN cent c)"
        f" WHERE prk <= {_KNN_IVF_NPROBE}),"
        " scored AS (SELECT DISTINCT p.query_id, e.vec_id AS neighbor_id,"
        "  list_dot_product(p.qv, e.v) /"
        "  sqrt(list_dot_product(p.qv, p.qv) * list_dot_product(e.v, e.v)) AS cos"
        "  FROM probes p JOIN asg a ON a.list = p.list"
        "  JOIN e ON e.vec_id = a.vec_id WHERE e.vec_id <> p.query_id)"
        " SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY query_id"
        "   ORDER BY cos DESC, neighbor_id) AS rank FROM scored)"
        " WHERE rank <= 3"
    ),
    # Sign-LSH oracle: the hyperplane sums are generated from the SAME
    # lsh_hyperplanes schedule the Spark operator uses — plain integer
    # arithmetic, so both engines bake identical (dim, ±1) literals and
    # sum them in identical order (IEEE doubles → bit-equal signs).
    "knn_lsh": (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, "
        + ", ".join(
            "concat("
            + ", ".join(
                "CASE WHEN ("
                + " + ".join(
                    f"embedding[{i}]::DOUBLE * {float(s)}" for i, s in terms
                )
                + ") > 0 THEN '1' ELSE '0' END"
                for terms in row
            )
            + f") AS sig{t}"
            for t, row in enumerate(
                lsh_hyperplanes(_KNN_LSH_BITS, _KNN_LSH_TABLES, 64)
            )
        )
        + " FROM embeddings),"
        " bands AS ("
        + " UNION ALL ".join(
            f"SELECT vec_id, v, {t} AS band, sig{t} AS sig FROM e"
            for t in range(_KNN_LSH_TABLES)
        )
        + "),"
        " q AS (SELECT vec_id, v, band, sig FROM bands WHERE vec_id < 10),"
        " scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,"
        "  max(list_dot_product(q.v, c.v) /"
        "  sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)))"
        "  AS cos"
        "  FROM q JOIN bands c ON q.band = c.band AND q.sig = c.sig"
        "  AND q.vec_id <> c.vec_id GROUP BY q.vec_id, c.vec_id)"
        " SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY query_id"
        "   ORDER BY cos DESC, neighbor_id) AS rank FROM scored)"
        " WHERE rank <= 3"
    ),
    # Ordinal-LSH oracle: the sig expressions are generated from the
    # SAME wta_pairs schedule the Spark operator uses — the schedule is
    # plain integer arithmetic, so both engines see identical (i, j)
    # constants and the comparison bits are exact (no float summation).
    "knn_wta": (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, "
        + ", ".join(
            "concat("
            + ", ".join(
                f"CASE WHEN embedding[{i}] > embedding[{j}]"
                " THEN '1' ELSE '0' END"
                for i, j in row
            )
            + f") AS sig{t}"
            for t, row in enumerate(
                wta_pairs(_KNN_WTA_BITS, _KNN_WTA_TABLES, 64)
            )
        )
        + " FROM embeddings),"
        " bands AS ("
        + " UNION ALL ".join(
            f"SELECT vec_id, v, {t} AS band, sig{t} AS sig FROM e"
            for t in range(_KNN_WTA_TABLES)
        )
        + "),"
        " q AS (SELECT vec_id, v, band, sig FROM bands WHERE vec_id < 10),"
        " scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,"
        "  max(list_dot_product(q.v, c.v) /"
        "  sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)))"
        "  AS cos"
        "  FROM q JOIN bands c ON q.band = c.band AND q.sig = c.sig"
        "  AND q.vec_id <> c.vec_id GROUP BY q.vec_id, c.vec_id)"
        " SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY query_id"
        "   ORDER BY cos DESC, neighbor_id) AS rank FROM scored)"
        " WHERE rank <= 3"
    ),
    "text_langid": (
        "WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word"
        " FROM documents), s AS (SELECT doc_id,\n  "
        + _LANG_SCORE
        + "\n FROM t GROUP BY doc_id)"
        " SELECT doc_id, en_score, de_score, es_score, fr_score,"
        " CASE WHEN greatest(en_score, de_score, es_score, fr_score) <= 0"
        " THEN 'und'"
        " WHEN en_score = greatest(en_score, de_score, es_score, fr_score) THEN 'en'"
        " WHEN de_score = greatest(en_score, de_score, es_score, fr_score) THEN 'de'"
        " WHEN es_score = greatest(en_score, de_score, es_score, fr_score) THEN 'es'"
        " ELSE 'fr' END AS pred_lang FROM s"
    ),
    "text_quality": (
        "WITH base AS (SELECT doc_id, text, string_split(text, ' ') AS t"
        " FROM documents)"
        " SELECT doc_id, len(t) AS n_tokens,"
        " round(len(list_distinct(t)) / len(t), 6) AS distinct_ratio,"
        " round((length(text) - (len(t) - 1)) / len(t), 6) AS mean_token_len,"
        " round(len(list_filter(t, x -> regexp_matches(x, '^[A-Za-z]+$')))"
        "  / len(t), 6) AS alpha_ratio,"
        " round(len(list_filter(t, x -> x IN ({stop}))) / len(t), 6)"
        "  AS stopword_ratio,"
        " CASE WHEN len(t) >= 10 AND len(list_distinct(t)) / len(t) >= 0.2"
        " THEN 'keep' ELSE 'flag' END AS label FROM base"
    ).format(stop=_ALL_STOP_IN),
    "text_token_stats": (
        "WITH t AS (SELECT source, doc_id, unnest(string_split(text, ' ')) AS w"
        " FROM documents)"
        " SELECT source, count(DISTINCT doc_id) AS n_docs,"
        " count(*) AS n_tokens, count(DISTINCT w) AS n_distinct_tokens,"
        " round(count(*) / count(DISTINCT doc_id), 6) AS tokens_per_doc"
        " FROM t GROUP BY source ORDER BY source"
    ),
    "text_fingerprint": (
        "WITH " + _SHINGLES_CTE
        + " SELECT doc_id, min(md5(shingle)) AS fingerprint FROM sh GROUP BY doc_id"
    ),
    "vocab_top_tokens": (
        "WITH t AS (SELECT unnest(string_split(text, ' ')) AS token"
        " FROM documents),"
        " c AS (SELECT token, count(*) AS cnt FROM t GROUP BY token"
        "  ORDER BY cnt DESC, token LIMIT 100)"
        " SELECT (row_number() OVER (ORDER BY cnt DESC, token) - 1)::BIGINT"
        "  AS token_id, token, cnt FROM c"
    ),
    "text_ngrams": (
        "WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),"
        " b AS (SELECT unnest(list_transform("
        "  generate_series(1, len(toks) - 1),"
        "  i -> toks[i] || ' ' || toks[i + 1])) AS ngram FROM t)"
        " SELECT ngram, count(*) AS cnt FROM b GROUP BY ngram"
        " ORDER BY cnt DESC, ngram LIMIT 50"
    ),
    "text_logprob": (
        "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok"
        "  FROM documents),"
        " c AS (SELECT tok, count(*)::DOUBLE AS c FROM tok GROUP BY tok),"
        " n AS (SELECT sum(c) AS n FROM c),"
        " v AS (SELECT tok, c FROM c ORDER BY c DESC, tok LIMIT 1000)"
        " SELECT t.doc_id, count(*)::BIGINT AS n_tokens,"
        " round(sum(-log2(coalesce(v.c, 0.5) / (SELECT n FROM n)))"
        "  / count(*), 6) AS xent"
        " FROM tok t LEFT JOIN v USING (tok)"
        " GROUP BY t.doc_id ORDER BY t.doc_id"
    ),
    "dedup_fuzzy_names": (
        "SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,"
        " levenshtein(a.c_name, b.c_name)::BIGINT AS dist"
        " FROM customer a JOIN customer b"
        " ON substr(a.c_name, 1, 16) = substr(b.c_name, 1, 16)"
        " AND a.c_custkey < b.c_custkey"
        " WHERE levenshtein(a.c_name, b.c_name) <= 1"
        " ORDER BY id_a, id_b"
    ),
    "sample_hash": (
        "SELECT doc_id, lang, source FROM documents"
        " WHERE substr(md5(doc_id::VARCHAR), 1, 4) < '4000' ORDER BY doc_id"
    ),
    "sample_stratified": (
        "SELECT doc_id, lang FROM ("
        " SELECT doc_id, lang, row_number() OVER (PARTITION BY lang"
        "  ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk FROM documents)"
        " WHERE rk <= 20 ORDER BY lang, doc_id"
    ),
    "chunk_docs": (
        "WITH b AS (SELECT doc_id, string_split(text, ' ') AS t"
        " FROM documents),"
        # range bound mirrors the engine's no-redundant-trailing-chunk
        # rule: emit start s only when s = 0 or s + overlap < n
        " s AS (SELECT doc_id, t,"
        "  unnest(range(0, greatest(len(t) - 5, 1), 15)) AS st FROM b)"
        " SELECT doc_id, (st // 15)::BIGINT AS chunk_idx,"
        " len(t[st + 1 : st + 20])::BIGINT AS n_chunk_tokens,"
        " array_to_string(t[st + 1 : st + 20], ' ') AS chunk_text"
        " FROM s ORDER BY doc_id, chunk_idx"
    ),
    "pack_sequences": (
        "WITH b AS (SELECT doc_id, doc_id % 8 AS shard,"
        " len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),"
        " w AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard"
        "  ORDER BY doc_id ROWS UNBOUNDED PRECEDING)::BIGINT AS fill FROM b)"
        " SELECT doc_id, shard, ((fill - n_tokens) // 256)::BIGINT AS batch_id,"
        " n_tokens, fill AS batch_fill FROM w ORDER BY doc_id"
    ),
    "corpus_curation": (
        "WITH k AS (SELECT doc_id, text FROM ("
        "  SELECT doc_id, text, row_number() OVER ("
        "   PARTITION BY text ORDER BY doc_id) AS rn FROM documents)"
        "  WHERE rn = 1),"
        " base AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM k),"
        " q AS (SELECT doc_id, len(t) AS n_tokens,"
        "  round(len(list_distinct(t)) / len(t), 6) AS distinct_ratio"
        "  FROM base WHERE len(t) >= 10"
        "  AND len(list_distinct(t)) / len(t) >= 0.2),"
        " tok AS (SELECT doc_id, unnest(t) AS word FROM base),"
        " s AS (SELECT doc_id,\n  "
        + _LANG_SCORE
        + "\n FROM tok GROUP BY doc_id),"
        " l AS (SELECT doc_id,"
        " CASE WHEN greatest(en_score, de_score, es_score, fr_score) <= 0"
        " THEN 'und'"
        " WHEN en_score = greatest(en_score, de_score, es_score, fr_score) THEN 'en'"
        " WHEN de_score = greatest(en_score, de_score, es_score, fr_score) THEN 'de'"
        " WHEN es_score = greatest(en_score, de_score, es_score, fr_score) THEN 'es'"
        " ELSE 'fr' END AS pred_lang FROM s)"
        " SELECT q.doc_id, l.pred_lang, q.n_tokens, q.distinct_ratio"
        " FROM q JOIN l USING (doc_id) ORDER BY doc_id"
    ),
    "multimodal_decode": (
        "SELECT doc_id, octet_length(encode(text))::INTEGER AS n_bytes,"
        " md5(text) AS content_hash,"
        " (1 + ascii(substr(text, 1, 1)) % 64)::INTEGER AS width,"
        " (1 + ascii(substr(text, length(text), 1)) % 64)::INTEGER AS height,"
        " CASE WHEN octet_length(encode(text)) % 2 = 0 THEN 'RGB' ELSE 'L' END"
        "  AS mode FROM documents"
    ),
    "multimodal_resize": (
        "WITH b AS (SELECT doc_id,"
        " (1 + ascii(substr(text, 1, 1)) % 64) AS w,"
        " (1 + ascii(substr(text, length(text), 1)) % 64) AS h,"
        " md5(text) AS chash FROM documents),"
        " g AS (SELECT *,"
        " CASE WHEN greatest(w, h) > 32"
        "  THEN greatest(1, (w * 32) // greatest(w, h)) ELSE w END AS rw,"
        " CASE WHEN greatest(w, h) > 32"
        "  THEN greatest(1, (h * 32) // greatest(w, h)) ELSE h END AS rh"
        " FROM b)"
        " SELECT doc_id, w::INTEGER AS width, h::INTEGER AS height,"
        " rw::INTEGER AS resized_width, rh::INTEGER AS resized_height,"
        " md5(chash || ':' || rw || ':' || rh) AS resized_hash FROM g"
    ),
    "multimodal_frames": (
        "WITH b AS (SELECT doc_id, octet_length(encode(text)) AS nb,"
        " md5(text) AS chash FROM documents),"
        " f AS (SELECT doc_id, chash,"
        " greatest(1, nb // 16) AS n_frames,"
        " greatest(1, greatest(1, nb // 16) // 4) AS stride FROM b)"
        " SELECT doc_id, idx::INTEGER AS frame_idx,"
        " n_frames::INTEGER AS n_frames,"
        " md5(chash || ':' || idx) AS frame_hash FROM ("
        "  SELECT doc_id, chash, n_frames,"
        "  unnest(list_filter(list_transform(range(0, 4), i -> i * stride),"
        "   x -> x < n_frames)) AS idx FROM f)"
    ),
    "pii_scan": (
        _PII_SYNTH_CTE
        + " SELECT doc_id, "
        + ", ".join(
            "len(regexp_extract_all(text, '{p}'))::BIGINT AS n_{n}".format(
                p=_PII_SQL[n], n=n
            )
            for n in ["email", "phone", "ssn", "ipv4"]
        )
        + ", ("
        + " + ".join(
            f"len(regexp_extract_all(text, '{_PII_SQL[n]}'))"
            for n in ["email", "phone", "ssn", "ipv4"]
        )
        + ")::BIGINT AS n_pii FROM p ORDER BY doc_id"
    ),
    "pii_redact": (
        _PII_SYNTH_CTE
        + ", r AS (SELECT doc_id, ("
        + " + ".join(
            f"len(regexp_extract_all(text, '{_PII_SQL[n]}'))"
            for n in ["email", "phone", "ssn", "ipv4"]
        )
        + ")::BIGINT AS n_redactions, "
        + "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        "text, '{email}', '<EMAIL>', 'g'), '{phone}', '<PHONE>', 'g'),"
        " '{ssn}', '<SSN>', 'g'), '{ipv4}', '<IPV4>', 'g')"
        " AS redacted FROM p)".format(**_PII_SQL)
        + " SELECT doc_id, n_redactions, redacted FROM r"
        " WHERE n_redactions > 0 ORDER BY doc_id"
    ),
    # identical semantics to pii_redact: a stateless projection drained
    # through availableNow equals its batch run on the same files
    "stream_pii_redact": (
        _PII_SYNTH_CTE
        + ", r AS (SELECT doc_id, ("
        + " + ".join(
            f"len(regexp_extract_all(text, '{_PII_SQL[n]}'))"
            for n in ["email", "phone", "ssn", "ipv4"]
        )
        + ")::BIGINT AS n_redactions, "
        + "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        "text, '{email}', '<EMAIL>', 'g'), '{phone}', '<PHONE>', 'g'),"
        " '{ssn}', '<SSN>', 'g'), '{ipv4}', '<IPV4>', 'g')"
        " AS redacted FROM p)".format(**_PII_SQL)
        + " SELECT doc_id, n_redactions, redacted FROM r"
        " WHERE n_redactions > 0 ORDER BY doc_id"
    ),
    "decontam_docs": (
        "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t"
        " FROM documents),"
        " sh AS (SELECT doc_id, unnest(list_distinct(list_transform("
        "range(1, len(t) - 11), i -> md5(array_to_string(t[i:i+12], ' ')"
        ")))) AS h FROM toks WHERE len(t) >= 13),"
        " bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 17 = 0),"
        " cnt AS (SELECT s.doc_id, count(*) AS n_ngrams, count(b.h) AS hit"
        " FROM sh s LEFT JOIN bench b ON s.h = b.h GROUP BY s.doc_id)"
        " SELECT doc_id, n_ngrams::BIGINT AS n_ngrams,"
        " hit::BIGINT AS n_contaminated_ngrams, hit > 0 AS contaminated"
        " FROM cnt ORDER BY doc_id"
    ),
    # join-mode streaming decontamination drained over availableNow ==
    # the batch decontam_docs run on the same files (per-doc n-gram
    # aggregation is micro-batch-local), so it carries the batch
    # oracle verbatim — including the grows-with-the-corpus benchmark
    # the stateless array path auto-rejects
    "stream_decontam_join": (
        "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t"
        " FROM documents),"
        " sh AS (SELECT doc_id, unnest(list_distinct(list_transform("
        "range(1, len(t) - 11), i -> md5(array_to_string(t[i:i+12], ' ')"
        ")))) AS h FROM toks WHERE len(t) >= 13),"
        " bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 17 = 0),"
        " cnt AS (SELECT s.doc_id, count(*) AS n_ngrams, count(b.h) AS hit"
        " FROM sh s LEFT JOIN bench b ON s.h = b.h GROUP BY s.doc_id)"
        " SELECT doc_id, n_ngrams::BIGINT AS n_ngrams,"
        " hit::BIGINT AS n_contaminated_ngrams, hit > 0 AS contaminated"
        " FROM cnt ORDER BY doc_id"
    ),
    # incremental streaming near-dedup == the batch pair-set keeper
    # rule under ordered arrival: the minhash pair CTE (identical to
    # dedup_minhash_pairs — per-doc signatures are corpus-independent,
    # so the banded candidate set and the exact-Jaccard verdicts are
    # the same whether computed batch-global or batch-incremental)
    # with a keeper anti-join on the larger pair member
    "stream_dedup_near_docs": (
        "WITH "
        + _MINHASH_CTE
        + ",\nsizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),\n"
        "inter AS (SELECT c.id_a, c.id_b, count(*) AS i FROM cand c"
        " JOIN sh sa ON sa.doc_id = c.id_a"
        " JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle"
        " GROUP BY c.id_a, c.id_b),\n"
        "dropped AS (SELECT DISTINCT id_b FROM inter"
        " JOIN sizes na ON na.doc_id = id_a"
        " JOIN sizes nb ON nb.doc_id = id_b"
        " WHERE i / (na.n + nb.n - i) >= 0.2)\n"
        "SELECT d.doc_id, d.source FROM documents d"
        " LEFT JOIN dropped x ON d.doc_id = x.id_b"
        " WHERE x.id_b IS NULL ORDER BY d.doc_id"
    ),
    # the ENGAGED hot-band backstop (r12): the same keeper rule over
    # the template-injected corpus (the CASE rewrite mirrors the
    # pyarrow staging verbatim — one _HOT_BAND_TEMPLATE definition),
    # with _minhash_cand_sql's bc <= cap window guard mirroring the
    # drive's corpus-global max_bucket exactly. Template docs survive
    # in BOTH (their groups exceed the cap), which is the whole point.
    "stream_dedup_hot_band": (
        "WITH "
        + _minhash_cand_sql(
            f"mod AS (SELECT doc_id, CASE WHEN doc_id < {_HOT_BAND_N}"
            f" THEN '{_HOT_BAND_TEMPLATE}' ELSE text END AS text"
            " FROM documents),\n"
            "toks AS (SELECT doc_id, string_split(text, ' ') AS t"
            " FROM mod),\n"
            "sh AS (SELECT doc_id, unnest(list_distinct(list_transform("
            "range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' ||"
            " t[i+2]))) AS shingle FROM toks WHERE len(t) >= 3)",
            max_bucket=_HOT_BAND_CAP,
        )
        + ",\nsizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),\n"
        "inter AS (SELECT c.id_a, c.id_b, count(*) AS i FROM cand c"
        " JOIN sh sa ON sa.doc_id = c.id_a"
        " JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle"
        " GROUP BY c.id_a, c.id_b),\n"
        "dropped AS (SELECT DISTINCT id_b FROM inter"
        " JOIN sizes na ON na.doc_id = id_a"
        " JOIN sizes nb ON nb.doc_id = id_b"
        " WHERE i / (na.n + nb.n - i) >= 0.2)\n"
        "SELECT d.doc_id, d.source FROM documents d"
        " LEFT JOIN dropped x ON d.doc_id = x.id_b"
        " WHERE x.id_b IS NULL ORDER BY d.doc_id"
    ),
    # same semantics as decontam_docs: a stateless stream-static probe
    # over availableNow equals the batch run on the same files
    "stream_decontam_docs": (
        "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t"
        " FROM documents),"
        " sh AS (SELECT doc_id, unnest(list_distinct(list_transform("
        "range(1, len(t) - 11), i -> md5(array_to_string(t[i:i+12], ' ')"
        ")))) AS h FROM toks WHERE len(t) >= 13),"
        " bench AS (SELECT DISTINCT h FROM sh WHERE doc_id < 35),"
        " cnt AS (SELECT s.doc_id, count(*) AS n_ngrams, count(b.h) AS hit"
        " FROM sh s LEFT JOIN bench b ON s.h = b.h GROUP BY s.doc_id)"
        " SELECT doc_id, n_ngrams::BIGINT AS n_ngrams,"
        " hit::BIGINT AS n_contaminated_ngrams, hit > 0 AS contaminated"
        " FROM cnt ORDER BY doc_id"
    ),
    "repetition_scores": (
        "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t"
        " FROM documents),"
        " w AS (SELECT doc_id, unnest(t) AS word FROM toks),"
        " wc AS (SELECT doc_id, word, count(*) AS c FROM w"
        " GROUP BY doc_id, word),"
        " a AS (SELECT doc_id, sum(c)::DOUBLE AS n, count(*) AS nd,"
        " max(c) AS mx FROM wc GROUP BY doc_id),"
        " g AS (SELECT doc_id, (len(t) - 1)::DOUBLE AS n2,"
        " len(list_distinct(list_transform(range(1, len(t)),"
        " i -> t[i] || ' ' || t[i+1])))::DOUBLE AS nd2"
        " FROM toks WHERE len(t) >= 2)"
        " SELECT a.doc_id, round(1 - nd / n, 6) AS dup_word_frac,"
        " round(mx / n, 6) AS top_word_frac,"
        " round(1 - nd2 / n2, 6) AS dup_2gram_frac,"
        " CASE WHEN round(1 - nd / n, 6) <= 0.6"
        "  AND round(1 - nd2 / n2, 6) <= 0.4"
        " THEN 'keep' ELSE 'flag' END AS label"
        " FROM a JOIN g ON a.doc_id = g.doc_id ORDER BY a.doc_id"
    ),
    "mix_sources": (
        "SELECT doc_id, source FROM documents"
        " WHERE substr(md5(doc_id::VARCHAR), 1, 4) < CASE source"
        + "".join(
            f" WHEN '{s}' THEN '{t}'" for s, t in MIX_WEIGHTS.items()
        )
        + " ELSE '0000' END ORDER BY doc_id"
    ),
    # (doc_id % 2^31) mirrors the overflow guard in shuffle_shards —
    # nonnegative ids, so % == pmod on both engines.
    "shuffle_shards": (
        "SELECT doc_id, (doc_id % 2147483648 * 2654435761) % 16 AS shard,"
        " (row_number() OVER (PARTITION BY (doc_id % 2147483648 * 2654435761) % 16"
        "  ORDER BY md5(doc_id::VARCHAR), doc_id) - 1)::BIGINT AS pos"
        " FROM documents ORDER BY doc_id"
    ),
    "anomaly_zscore_events": (
        "WITH s AS (SELECT event_id, event_type, value,"
        " round((value - avg(value) OVER (PARTITION BY event_type)) /"
        " stddev_pop(value) OVER (PARTITION BY event_type), 6) AS zscore"
        " FROM events)"
        " SELECT event_id, event_type, value, zscore FROM s"
        " WHERE abs(zscore) >= 3.0 ORDER BY event_id"
    ),
    "salted_agg_events": (
        # DECIMAL(38,9) mirrors salted_aggregate's sum_decimal default
        # (the partial-sum cast scale is part of the operator contract)
        "SELECT event_type, count(*) AS n,"
        " sum(value::DECIMAL(38,9))::DOUBLE AS sum_value"
        " FROM events GROUP BY event_type ORDER BY event_type"
    ),
    # The salt only changes the exchange distribution, never which rows
    # match — so the oracle is the PLAIN join + aggregate.
    "salted_join_events": (
        "SELECT c.c_mktsegment, count(*) AS n,"
        " sum(e.value::DECIMAL(18,6))::DOUBLE AS sum_value"
        " FROM events e JOIN customer c ON e.user_id = c.c_custkey"
        " GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"
    ),
    # The partitioned rewrite is layout-only: values must equal the same
    # aggregate over the flat table.
    "events_partitioned_prune": (
        "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS ds,"
        " event_type, count(*) AS n,"
        " sum(value::DECIMAL(18,6))::DOUBLE AS sum_value"
        " FROM events"
        " WHERE date_trunc('day', ts) BETWEEN DATE '2024-01-03'"
        "  AND DATE '2024-01-09'"
        " GROUP BY 1, 2 ORDER BY 1, 2"
    ),
    "events_partitioned_dpp": (
        "WITH f AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d')"
        "  AS ds, event_type FROM events),"
        " dim AS (SELECT DISTINCT ds FROM f"
        "  WHERE day(ds::DATE) % 7 = 3)"
        " SELECT f.ds, f.event_type, count(*) AS n"
        " FROM f JOIN dim ON f.ds = dim.ds"
        " GROUP BY f.ds, f.event_type ORDER BY f.ds, f.event_type"
    ),
    "funnel_events": (
        "WITH t1 AS (SELECT user_id, ts, event_type,"
        " min(CASE WHEN event_type = 'view' THEN ts END)"
        "  OVER (PARTITION BY user_id) AS s1 FROM events),"
        " t2 AS (SELECT *, min(CASE WHEN event_type = 'click'"
        "  AND ts >= s1 THEN ts END)"
        "  OVER (PARTITION BY user_id) AS s2 FROM t1),"
        " t3 AS (SELECT *, min(CASE WHEN event_type = 'purchase'"
        "  AND ts >= s2 THEN ts END)"
        "  OVER (PARTITION BY user_id) AS s3 FROM t2)"
        " SELECT count(DISTINCT user_id) AS n_users,"
        " count(DISTINCT CASE WHEN s1 IS NOT NULL THEN user_id END)"
        "  AS n_step1,"
        " count(DISTINCT CASE WHEN s2 IS NOT NULL THEN user_id END)"
        "  AS n_step2,"
        " count(DISTINCT CASE WHEN s3 IS NOT NULL THEN user_id END)"
        "  AS n_step3 FROM t3"
    ),
    "cohort_retention_events": (
        "WITH f AS (SELECT user_id, ts,"
        " min(ts) OVER (PARTITION BY user_id) AS first FROM events)"
        " SELECT strftime(date_trunc('week', first), '%Y-%m-%d')"
        "  AS cohort_week,"
        " (date_diff('day', first::DATE, ts::DATE) // 7)::BIGINT"
        "  AS week_offset,"
        " count(DISTINCT user_id) AS n_active"
        " FROM f GROUP BY 1, 2 ORDER BY 1, 2"
    ),
    "tpch_q5_local_supply": (
        "SELECT n_name,"
        " sum(l_extendedprice::DECIMAL(18,2)"
        "  * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)))::DOUBLE"
        " AS revenue, count(*) AS n_items"
        " FROM customer"
        " JOIN nation ON c_nationkey = n_nationkey"
        " JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'"
        " JOIN orders ON c_custkey = o_custkey"
        " JOIN lineitem ON o_orderkey = l_orderkey"
        " JOIN supplier ON l_suppkey = s_suppkey"
        "  AND s_nationkey = c_nationkey"
        " WHERE o_orderdate >= TIMESTAMP '1996-01-01'"
        "  AND o_orderdate < TIMESTAMP '1997-01-01'"
        " GROUP BY n_name ORDER BY revenue DESC, n_name"
    ),
    "embedding_label_spread": (
        "WITH e AS (SELECT label, embedding::DOUBLE[] AS v"
        " FROM embeddings),"
        " d AS (SELECT label, unnest(generate_series(1, len(v))) AS pos,"
        " v FROM e),"
        " tv AS (SELECT label, sum(vp) AS var_trace FROM ("
        "  SELECT label, pos, var_pop(v[pos]) AS vp FROM d"
        "  GROUP BY label, pos) GROUP BY label),"
        " nm AS (SELECT label, count(*) AS n,"
        " avg(sqrt(list_dot_product(v, v))) AS mean_norm"
        " FROM e GROUP BY label)"
        " SELECT nm.label, nm.n, round(tv.var_trace, 6) AS var_trace,"
        " round(nm.mean_norm, 6) AS mean_norm"
        " FROM nm JOIN tv ON nm.label = tv.label ORDER BY nm.label"
    ),
    "embedding_centroids": (
        "WITH d AS (SELECT label, unnest(generate_series(1,"
        " len(embedding))) AS pos, embedding::DOUBLE[] AS v"
        " FROM embeddings)"
        " SELECT label, pos, round(avg(v[pos]), 6) AS centroid"
        " FROM d GROUP BY label, pos ORDER BY label, pos"
    ),
    "embedding_outliers": (
        "WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v"
        " FROM embeddings),"
        " d AS (SELECT label, unnest(generate_series(1, len(v))) AS pos,"
        " v FROM e),"
        " c AS (SELECT label, pos, round(avg(v[pos]), 6) AS centroid"
        " FROM d GROUP BY label, pos),"
        " cv AS (SELECT label, list(centroid ORDER BY pos) AS cvec"
        " FROM c GROUP BY label)"
        " SELECT e.vec_id, e.label,"
        " round(list_dot_product(e.v, cv.cvec) /"
        "  sqrt(list_dot_product(e.v, e.v)"
        "   * list_dot_product(cv.cvec, cv.cvec)), 6) AS cos_centroid,"
        " round(list_dot_product(e.v, cv.cvec) /"
        "  sqrt(list_dot_product(e.v, e.v)"
        "   * list_dot_product(cv.cvec, cv.cvec)), 6) < 0.0 AS is_outlier"
        " FROM e JOIN cv ON e.label = cv.label ORDER BY e.vec_id"
    ),
    "training_pipeline": (
        "WITH keep1 AS (SELECT doc_id, text, source FROM ("
        " SELECT doc_id, text, source, row_number() OVER ("
        "  PARTITION BY text ORDER BY doc_id) AS rn FROM documents)"
        " WHERE rn = 1),"
        " q AS (SELECT * FROM keep1"
        "  WHERE len(string_split(text, ' ')) >= 10"
        "  AND len(list_distinct(string_split(text, ' ')))::DOUBLE"
        "   / len(string_split(text, ' ')) >= 0.2),"
        " toksall AS (SELECT doc_id, string_split(text, ' ') AS t"
        "  FROM documents),"
        " shb AS (SELECT doc_id, unnest(list_distinct(list_transform("
        "range(1, len(t) - 11), i -> md5(array_to_string(t[i:i+12], ' ')"
        ")))) AS h FROM toksall WHERE len(t) >= 13),"
        " bench AS (SELECT DISTINCT h FROM shb WHERE doc_id % 17 = 0),"
        " contaminated AS (SELECT DISTINCT s.doc_id FROM shb s"
        "  JOIN bench b ON s.h = b.h),"
        " clean AS (SELECT q.* FROM q LEFT JOIN contaminated c"
        "  ON q.doc_id = c.doc_id WHERE c.doc_id IS NULL),"
        " mixed AS (SELECT * FROM clean"
        "  WHERE substr(md5(doc_id::VARCHAR), 1, 4) < CASE source"
        + "".join(
            f" WHEN '{s}' THEN '{t}'" for s, t in MIX_WEIGHTS.items()
        )
        + " ELSE '0000' END)"
        " SELECT doc_id, source,"
        " len(string_split(text, ' '))::BIGINT AS n_tokens,"
        " (doc_id % 2147483648 * 2654435761) % 16 AS shard,"
        " (row_number() OVER (PARTITION BY (doc_id % 2147483648 * 2654435761) % 16"
        "  ORDER BY md5(doc_id::VARCHAR), doc_id) - 1)::BIGINT AS pos"
        " FROM mixed ORDER BY shard, pos"
    ),
    "inverted_index": (
        "WITH dw AS (SELECT doc_id,"
        " unnest(list_distinct(string_split(text, ' '))) AS term"
        " FROM documents),"
        " g AS (SELECT term, count(*) AS df_count,"
        "  (list(doc_id ORDER BY doc_id))[1:20] AS postings"
        "  FROM dw GROUP BY term)"
        # Parallel unnests zip element-wise in DuckDB — the positions
        # list rides along with the postings list.
        " SELECT term, df_count,"
        " unnest(range(1, len(postings) + 1))::BIGINT AS pos,"
        " unnest(postings)::BIGINT AS doc_id"
        " FROM g ORDER BY term, pos"
    ),
    "tfidf_top_terms": (
        "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t"
        " FROM documents),"
        " dw AS (SELECT doc_id, unnest(list_distinct(t)) AS term"
        " FROM toks),"
        " dfreq AS (SELECT term, count(*) AS dfc FROM dw GROUP BY term),"
        " vocab AS (SELECT term, dfc FROM dfreq"
        " ORDER BY dfc DESC, term LIMIT 500),"
        " nd AS (SELECT count(*) AS n FROM documents),"
        " tf AS (SELECT dw.doc_id, dw.term,"
        " len(list_filter(toks.t, x -> x = dw.term)) AS tfc"
        " FROM dw JOIN toks ON dw.doc_id = toks.doc_id),"
        " scored AS (SELECT tf.doc_id, tf.term, tf.tfc,"
        " round(tf.tfc * (ln((nd.n + 1) / (coalesce(vocab.dfc, 0) + 1))"
        " + 1), 6) AS tfidf"
        " FROM tf CROSS JOIN nd LEFT JOIN vocab ON tf.term = vocab.term)"
        " SELECT doc_id, rank::BIGINT AS rank, term, tfc::BIGINT AS tf,"
        " tfidf FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY doc_id"
        "   ORDER BY tfidf DESC, term) AS rank FROM scored)"
        " WHERE rank <= 3 ORDER BY doc_id, rank"
    ),
    "multimodal_pairs": (
        # DuckDB md5 takes VARCHAR and hashes its UTF-8 bytes — exactly
        # the Spark-side md5(encode(text, 'UTF-8')).
        "WITH meta AS (SELECT doc_id,"
        "  octet_length(encode(text))::BIGINT AS n_bytes,"
        "  md5(text) AS content_hash FROM documents),"
        " e AS (SELECT vec_id AS doc_id,"
        "  round(sqrt(list_dot_product(embedding::DOUBLE[],"
        "  embedding::DOUBLE[])), 6) AS emb_norm FROM embeddings)"
        " SELECT meta.doc_id, n_bytes, content_hash, emb_norm,"
        " md5(meta.doc_id::VARCHAR || content_hash) AS pair_id"
        " FROM meta JOIN e ON meta.doc_id = e.doc_id ORDER BY meta.doc_id"
    ),
    "tpch_q18_topk": (
        "SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,"
        " o.o_totalprice,"
        " (sum(l.l_quantity::DECIMAL(18,2)))::DOUBLE AS sum_qty"
        " FROM lineitem l"
        " JOIN orders o ON l.l_orderkey = o.o_orderkey"
        " JOIN customer c ON o.o_custkey = c.c_custkey"
        " WHERE l.l_orderkey IN (SELECT l_orderkey FROM lineitem"
        "  GROUP BY l_orderkey HAVING sum(l_quantity::DECIMAL(18,2)) > 250)"
        " GROUP BY 1, 2, 3, 4, 5"
        " ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100"
    ),
    "embedding_quantize": (
        "WITH m AS (SELECT vec_id, embedding::DOUBLE[] AS v,"
        " list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS vmax"
        " FROM embeddings)"
        " SELECT vec_id, round(vmax / 127, 9) AS scale,"
        " t.i::BIGINT AS pos, round(v[t.i] * 127 / vmax)::BIGINT AS q"
        " FROM m, generate_series(1, 64) AS t(i)"
    ),
}

# The streaming quality query is the identical stateless projection in
# append mode — it carries the batch oracle verbatim.
ORACLE_SQL["stream_quality_docs"] = ORACLE_SQL["text_quality"]
# the persisted list-major index probe returns knn_ivf's exact result
# (md5-deterministic centroids, layout-independent duplicate collapse)
ORACLE_SQL["knn_ivf_persisted"] = ORACLE_SQL["knn_ivf"]


# --------------------------------------------------------------------------
# Query registry. ORDER IS LOAD-BEARING: the external correctness gate
# attests exactly the FIRST 50 entries in dict order per round
# (CORRECTNESS_r02 == list(QUERIES)[:50], verified key-by-key in the r2
# verdict). Three blocks:
#   _GATE_FRONT — queries with no driver-green CORRECTNESS row yet (the
#     r2 extension surface) plus everything NEW this round. Add new
#     queries HERE, never at the end of _PROVEN.
#   _SENTINELS — a minimal §2 cross-section kept inside the window so
#     every round re-attests one representative of each operator class
#     (emoji kernel, tweet end-to-end, events batch, streaming, dedup).
#   _PROVEN — queries green in an earlier round's driver gate; rotated
#     behind the window to make room. Their pytest + sf0.01 parity
#     coverage (tests/test_oracle_parity.py) still runs every round.
#     Ordered oldest-attestation-first so the window's tail slots
#     re-attest the stalest rows each round.
# --------------------------------------------------------------------------

_GATE_FRONT = {
    # ---- r13 window: every entry below was functionally TOUCHED this
    # optimization round, so all re-attest per the rotation rule (a
    # plan or operator-internals change behind the window re-enters
    # the gate front the round it lands). The four streaming drives +
    # the drift signal run their in-drive maintenance on a background
    # thread with deferred reaping (streaming.jobs._MaintenanceScheduler;
    # drained results identical, machinery changed); the IVF kNN join
    # narrows the unrolled dot to the pair stage behind the plan-time
    # volume gate (similarity._unroll_pair_gate); the decontam stream
    # pair gains the measured per-batch scan spread
    # (core.spread_stream); training_pipeline computes the keeper
    # window once (contaminated ids from the pre-keeper quality gate);
    # the sessionize demo's verify side replaces the double-exceptAll
    # with the grouped-count symmetric difference. Results verified
    # hash-identical for every one (oracle parity + driver contract).
    # The 42 unchanged r12-attested rows rotate to the end of _PROVEN;
    # their former slots drain the pre-declared r13 head (knn_lsh,
    # embedding_outliers, multimodal_decode, the 21 remaining r10 rows,
    # then the oldest r11 rows through the window boundary). ----
    "stream_dedup_hot_band": stream_dedup_hot_band,
    "knn_ivf_drift": knn_ivf_drift_q,
    "stream_dedup_near_docs": stream_dedup_near_docs,
    "stream_dedup_near_emb": stream_dedup_near_emb,
    "stream_knn_ivf": stream_knn_ivf,
    "knn_join_emb_ivf": knn_join_emb_ivf_q,
    "stream_decontam_join": stream_decontam_join,
    "training_pipeline": training_pipeline_q,
    "stream_decontam_docs": stream_decontam_docs,
    "stream_sessionize_stateful_demo": stream_sessionize_stateful_demo,
    # ---- plan changed behind the window: the banded kNNs share one
    # band-row function whose posexplode_outer runs the signature UDF
    # once per side (knn_lsh had run it twice per side), and the LSH
    # kNN join collapses duplicates in the band-join stage's partial
    # aggregate. Results hash-identical. ----
    "knn_lsh": knn_lsh_q,
    "knn_join_emb": knn_join_emb_q,
}


# STANDING POLICY (r12, resolving the r11 sentinel question for good):
# the sentinel block stays EMPTY — the class-representation rule IS
# the invariant. Each round's 50-slot window must contain at least one
# representative of every operator class (emoji kernel, tweet-shape,
# events batch/partitioned/sketch, streaming, dedup, ANN, relational,
# text/shaping/safety/multimodal), satisfied by construction because
# the oldest-first drain cycles every family through the window on a
# ≤3-round period (118 queries / 50 slots) and new/reshaped surface
# enters at the front. A dedicated sentinel set would only duplicate
# rows the drain already re-attests; re-introduce one ONLY if the
# catalog ever grows past ~150 queries (when the drain period exceeds
# 3 rounds and a class could go unattested longer than the staleness
# contract allows).
_SENTINELS = {}

_PROVEN = {
    # ---- window boundary: slots above re-attest in r12. ----
    # The r13 drain head, pre-declared, is embedding_outliers and
    # multimodal_decode (displaced from the r12 window tail by the
    # three optimization-reshaped plans re-entering the gate front;
    # knn_lsh, displaced with them, re-entered the gate front with its
    # band-row plan change) plus the 21 remaining r10-attested
    # rows below (oldest-first), then the oldest r11
    # rows. RULE (rotation invariant): any entry whose PLAN changes
    # behind the window — an operator edit that alters the physical
    # plan even with bit-identical results — must re-enter
    # _GATE_FRONT the round the change lands, ahead of the staleness
    # drain; with 118 queries in a 50-slot window the steady-state
    # staleness floor is 2 rounds, and it holds iff each round drains
    # its pre-declared head. ----
    "embedding_outliers": embedding_outliers_q,
    "multimodal_decode": multimodal_decode_q,
    "multimodal_resize": multimodal_resize_q,
    "multimodal_frames": multimodal_frames_q,
    "chunk_docs": chunk_docs_q,
    "funnel_events": funnel_events,
    "cohort_retention_events": cohort_retention_events,
    "salted_agg_events": salted_agg_events,
    "anomaly_zscore_events": anomaly_zscore_events,
    "q1_kernel_equiv": q1_kernel_equiv,
    "text_ngrams": text_ngrams_q,
    "text_logprob": text_logprob_q,
    "dedup_fuzzy_names": dedup_fuzzy_names_q,
    "stream_quality_docs": stream_quality_docs,
    "embedding_quantize": embedding_quantize_q,
    "multimodal_pairs": multimodal_pairs_q,
    "tpch_q18_topk": tpch_q18_topk,
    "event_value_percentiles_approx": event_value_percentiles_approx,
    "salted_join_events": salted_join_events,
    "asof_join_events": asof_join_events,
    "range_join_events": range_join_events,
    "sessionize_events": sessionize_events,
    # ---- driver-attested green in r11 (CORRECTNESS_r11 window),
    # window order preserved = oldest-attestation-first for the r13+
    # rotation (the three r11 rows absent here —
    # stream_dedup_near_docs/emb, stream_knn_ivf — re-attest in the
    # r12 gate front above). ----
    "dedup_emb_store_probe": dedup_emb_store_probe_q,
    "knn_ivf_persisted": knn_ivf_persisted_q,
    "knn_ivf": knn_ivf_q,
    "knn_ivf_tree": knn_ivf_tree_q,
    "dedup_embedding": dedup_embedding_q,
    "dedup_embedding_cross": dedup_embedding_cross_q,
    "dedup_embedding_hyperplane": dedup_embedding_hyperplane_q,
    "stream_stream_join_events": stream_stream_join_events,
    "stream_dedup_events": stream_dedup_events,
    "dedup_exact": dedup_exact_q,
    "knn_brute": knn_brute_q,
    "q1_rare_words": q1_rare_words,
    "q1_word_search": q1_word_search,
    "q1_emoji_kernel_synth": q1_emoji_kernel_synth,
    "q3_ratio_synth": q3_ratio_synth,
    "q3_corpus_counts": q3_corpus_counts,
    "q7_events_late": q7_events_late,
    "q2_tweets_stream_top_emojis": q2_tweets_stream_top_emojis,
    "stream_windowed_events": stream_windowed_events,
    "decontam_docs": decontam_docs_q,
    "q1_top_emojis": q1_top_emojis,
    "q7_events_early": q7_events_early,
    "q2_stream_top_words": q2_stream_top_words,
    "dedup_cross_pairs": dedup_cross_pairs_q,
    "dedup_containment_cross": dedup_containment_cross_q,
    "word_position_counts": word_position_counts,
    "setop_intersect": setop_intersect,
    "setop_except": setop_except,
    "rollup_doc_counts": rollup_doc_counts,
    "cube_doc_counts": cube_doc_counts,
    "pivot_events_by_day": pivot_events_by_day,
    "events_json_props": events_json_props,
    "window_running_value": window_running_value,
    "event_value_percentiles": event_value_percentiles,
    "tpch_q1_pricing": tpch_q1_pricing,
    "tpch_q3_topk": tpch_q3_topk,
    "join_revenue_by_nation": join_revenue_by_nation,
    "window_top_customer_per_nation": window_top_customer_per_nation,
    "events_partitioned_prune": events_partitioned_prune,
    "events_partitioned_dpp": events_partitioned_dpp,
    "event_value_percentiles_sketch": event_value_percentiles_sketch,
    "bucketed_join_events": bucketed_join_events,
    "event_distinct_users_sketch": event_distinct_users_sketch,
    # ---- driver-attested green in r12 (CORRECTNESS_r12 window),
    # untouched in r13 — rotated behind the window, newest attestation
    # last. ----
    "dedup_simhash64_pairs": dedup_simhash64_pairs_q,
    "event_top_users_sketch": event_top_users_sketch,
    "stream_sessionize_native": stream_sessionize_native,
    "dedup_simhash": dedup_simhash_q,
    "dedup_simhash_pairs": dedup_simhash_pairs_q,
    "shuffle_shards": shuffle_shards_q,
    "q4_tweets_end_to_end": q4_tweets_end_to_end,
    "q4_words_by_source": q4_words_by_source,
    "q5_words_by_lang": q5_words_by_lang,
    "q4_emoji_by_user_synth": q4_emoji_by_user_synth,
    "q6_words_by_lang_excl": q6_words_by_lang_excl,
    "q6_word_search_by_lang": q6_word_search_by_lang,
    "q5_tweets_categories": q5_tweets_categories,
    "q6_tweets_geo": q6_tweets_geo,
    "q1_top_words": q1_top_words,
    "text_langid": text_langid_q,
    "text_quality": text_quality_q,
    "text_token_stats": text_token_stats_q,
    "text_fingerprint": text_fingerprint_q,
    "text_bpe_tokens": text_bpe_tokens_q,
    "corpus_curation": corpus_curation_q,
    "vocab_top_tokens": vocab_top_tokens_q,
    "sample_hash": sample_hash_q,
    "sample_stratified": sample_stratified_q,
    "pack_sequences": pack_sequences_q,
    "pii_scan": pii_scan_q,
    "pii_redact": pii_redact_q,
    "stream_pii_redact": stream_pii_redact,
    "repetition_scores": repetition_scores_q,
    "mix_sources": mix_sources_q,
    "embedding_centroids": embedding_centroids_q,
    "embedding_label_spread": embedding_label_spread_q,
    "tfidf_top_terms": tfidf_top_terms_q,
    "inverted_index": inverted_index_q,
    "tpch_q5_local_supply": tpch_q5_local_supply,
    "dedup_minhash_pairs": dedup_minhash_pairs_q,
    "dedup_ngram_jaccard": dedup_ngram_jaccard_q,
    "dedup_clusters": dedup_clusters,
    "dedup_keep_best": dedup_keep_best_q,
    "dedup_containment": dedup_containment_q,
    "knn_wta": knn_wta_q,
}

QUERIES = {**_GATE_FRONT, **_SENTINELS, **_PROVEN}
