"""Physical-plan regression tests: pin the shuffle/plan shapes the
engine's 100 TB design claims (SCALE.md). A refactor that silently adds
an Exchange or turns a top-k into a global sort should fail HERE, not in
a benchmark three rounds later.

Plans are inspected on raw reads (no ``load_table`` spread) so the assertions see
only the operator's own exchanges, not the local-parallelism repartition.
"""

import re

import pytest
from pyspark.sql import functions as F

from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import (
    minhash_signatures,
    doc_shingle_arrays,
    simhash_fingerprints,
)
from big_data_analysis_of_twitter_emoji_usage_spark.operators.relational import (
    asof_join,
    salted_aggregate,
)
from big_data_analysis_of_twitter_emoji_usage_spark.operators.shaping import (
    chunk_documents,
    hash_sample,
)
from big_data_analysis_of_twitter_emoji_usage_spark.operators.safety import (
    decontaminate,
    pii_redact,
    pii_scan,
    repetition_scores,
)
from big_data_analysis_of_twitter_emoji_usage_spark.operators.shaping import (
    mix_sources,
    shuffle_shards,
)
from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
    embedding_centroids,
    embedding_outliers,
)
from big_data_analysis_of_twitter_emoji_usage_spark.operators.text_analysis import (
    curate_corpus,
    tfidf_top_terms,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def data_exchanges(plan: str) -> int:
    """Hash/range exchanges (real shuffles); broadcast exchanges and
    explicit round-robin repartitions are not data-movement regressions
    in the sense these tests pin."""
    return len(re.findall(r"Exchange (hash|range)partitioning", plan))


def test_simhash_is_pure_projection(docs):
    assert data_exchanges(plan_of(simhash_fingerprints(docs))) == 0


def test_minhash_signatures_map_side(docs):
    sigs = minhash_signatures(doc_shingle_arrays(docs))
    assert data_exchanges(plan_of(sigs)) == 0


def test_chunking_is_map_side(docs):
    assert data_exchanges(plan_of(chunk_documents(docs))) == 0


def test_hash_sample_pushed_to_scan(docs):
    assert data_exchanges(plan_of(hash_sample(docs, "4000"))) == 0


def test_pii_ops_are_pure_projections(docs):
    assert data_exchanges(plan_of(pii_scan(docs))) == 0
    assert data_exchanges(plan_of(pii_redact(docs))) == 0


def test_repetition_scores_pure_projection(docs):
    assert data_exchanges(plan_of(repetition_scores(docs))) == 0


def test_mix_sources_pushed_to_scan(docs):
    assert data_exchanges(plan_of(mix_sources(docs, {"src0": "ffff"}))) == 0


def test_decontaminate_join_probes_broadcast_table(docs):
    """Default strategy: benchmark meets the corpus in a broadcast hash
    join (probe table built once per task, O(1) probes); exactly two
    hash exchanges — the benchmark-side distinct and the per-doc
    partial-agg count — and only the latter touches corpus-derived
    rows (one counter row per doc)."""
    plan = plan_of(decontaminate(docs, docs.limit(20)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # corpus-derived rows shuffle exactly once, pre-collapsed to
    # per-doc counters ("partial_count" before the exchange)
    assert plan.count("Exchange hashpartitioning(doc_id") == 1
    assert data_exchanges(plan) <= 2
    assert "partial_count" in plan


def test_decontaminate_array_strategy_never_shuffles(docs):
    """The tiny-benchmark strategy keeps the corpus side at zero
    hash/range exchanges (per-row intersect cost — see SCALE.md)."""
    plan = plan_of(decontaminate(docs, docs.limit(20), strategy="array"))
    assert data_exchanges(plan) == 0
    assert "BroadcastExchange" in plan or "BroadcastNestedLoop" in plan


def test_shuffle_shards_single_exchange(docs):
    assert data_exchanges(plan_of(shuffle_shards(docs, 16))) == 1


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_embedding_centroids_single_exchange(embs):
    assert data_exchanges(plan_of(embedding_centroids(embs))) == 1


def test_embedding_outliers_corpus_broadcast_joined(embs):
    """The corpus side must meet the (tiny) centroid table in a
    broadcast hash join — the only hash exchanges allowed are inside
    the |labels|-sized centroid sub-plan."""
    plan = plan_of(embedding_outliers(embs))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_tfidf_corpus_never_shuffles(docs):
    """One hash exchange total (the vocabulary df-count agg); corpus
    scoring/top-k is a projection fed by broadcast 1-row joins."""
    plan = plan_of(tfidf_top_terms(docs))
    assert data_exchanges(plan) == 1
    assert "SortMergeJoin" not in plan


def test_salted_agg_spreads_hot_keys(docs):
    """Stage-1 exchange must partition on (key, salt) — the hot-key
    spread — and stage 2 on the key alone; plus the final sort."""
    out = salted_aggregate(docs, ["lang"], salt_buckets=8)
    plan = plan_of(out)
    assert re.search(r"Exchange hashpartitioning\(lang[^)]*_salt", plan)
    assert data_exchanges(plan) == 3  # salted, combine, orderBy


def test_salted_join_spreads_hot_keys_and_matches_plain_join(spark):
    """The join analog: (a) a pathologically hot fact key must land on
    several (key, salt) sub-keys — the spread a plain shuffle join can't
    give you; (b) the salted result is row-identical to the plain join
    (the salt never changes which rows match)."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.relational import salted_join

    fact = spark.range(0, 2000).select(
        F.col("id").alias("row_id"),
        # 90% of rows share key 7 — the canonical straggler shape.
        F.when(F.col("id") % 10 == 0, F.col("id") % 5).otherwise(F.lit(7)).alias("k"),
    )
    dim = spark.range(0, 10).select(
        F.col("id").alias("dk"), (F.col("id") * 100).alias("payload")
    )
    out = salted_join(fact, dim, fact_key="k", dim_key="dk",
                      salt_from="row_id", salt_buckets=8)
    plain = fact.join(dim.withColumnRenamed("dk", "k"), "k")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, plain.collect()))
    # the hot key's fact rows really are spread across many salt buckets
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("row_id")), F.lit(8))
    )
    n_buckets = (
        salted_fact.filter(F.col("k") == 7)
        .select("_salt").distinct().count()
    )
    assert n_buckets == 8, f"hot key only spread over {n_buckets} buckets"
    # and the join key of the salted plan is the compound (k, _salt)
    plan = plan_of(out)
    assert re.search(r"\[k#\d+L?, _salt#\d+L?\]", plan) or "_salt" in plan


def test_partitioned_dpp_plan_has_dynamic_pruning(spark, sf_dir):
    """events_partitioned_dpp's green row attests values; this pins the
    PLAN property separately so a regression that silently drops the
    dynamicpruningexpression (e.g. a cast sneaking onto the join key)
    fails fast even at fixture scale."""
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        events_partitioned_dpp,
        events_partitioned_prune,
    )

    dpp = events_partitioned_dpp(spark, sf_dir)
    assert "dynamicpruning" in plan_of(dpp).lower()
    pruned = events_partitioned_prune(spark, sf_dir)
    assert re.search(r"PartitionFilters: \[[^\]]*ds", plan_of(pruned))


def test_curation_is_single_shuffle(docs):
    plan = plan_of(curate_corpus(docs).drop("doc_id"))  # drop final sort col
    # one hash exchange for the keeper window; the trailing orderBy adds
    # a range exchange over the (tiny) survivor set — allow exactly those
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    # keeper selection must prune map-side, not shuffle the full corpus
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_asof_join_is_single_shuffle(spark, sf_dir):
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_events

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("p_id")
    )
    out = asof_join(
        clicks, purchases, key="user_id", left_ts="ts", right_ts="ts",
        right_payload=["p_id"],
    )
    assert data_exchanges(plan_of(out)) == 1


def test_topk_plans_as_take_ordered(spark, sf_dir):
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import tpch_q3_topk

    plan = plan_of(tpch_q3_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_ivf_centroids_take_ordered(docs, spark, sf_dir):
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        select_ivf_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = plan_of(select_ivf_centroids(emb))
    assert "TakeOrderedAndProject" in plan


def test_token_by_dimension_single_kernel_eval(spark, sf_dir):
    """The token explode in token_by_dimension must not trigger
    InferFiltersFromGenerate's ``size(kernel(text)) > 0`` pre-Generate
    Filter, which re-runs the whole regexp/transform word kernel per
    row for a same-stage prune that saves nothing (r7; same Catalyst
    caveat as the r6 decontam finding — SCALE.md). The outer-explode +
    output-null-filter shape keeps exactly one kernel evaluation: the
    optimized plan must contain no Filter computing size() over a
    computed (non-attribute) expression on the token side."""
    import re

    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import QUERIES

    for name in ("q4_words_by_source", "q5_words_by_lang"):
        plan = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        hits = re.findall(r"Filter.{0,40}size\((?!\w+#\d)", plan)
        assert not hits, f"{name}: inferred generator filter returned: {hits}"


def test_banded_knn_signature_udf_runs_once_per_side(spark, sf_dir):
    """The hyperplane-signature pandas UDF of the banded kNNs must run
    once per side: exactly 2 ArrowEvalPython nodes in the executed
    plan of knn_lsh (query side + corpus side) and of knn_join_emb
    (left + right). An inner ``posexplode`` of the signature array lets
    InferFiltersFromGenerate add a ``size(sigs) > 0`` Filter below the
    Generate, which evaluates the UDF a second time per side (4 nodes;
    the r6 caveat in SCALE.md). ``posexplode_outer`` avoids it."""
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import QUERIES

    for name in ("knn_lsh", "knn_join_emb"):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert plan.count("ArrowEvalPython") == 2, name


def test_ann_recall_floors(spark, sf_dir):
    """ANN quality regression: recall@3 vs the exact brute-force top-3.
    Everything is hash-deterministic, so these floors are exact numbers
    for the fixture (measured at sf0.001: lsh 0.933 with the r7
    4-bit × 18-table banding — 0.567 for the r5/r6 5×10, 0.40 on the
    r1–r4 axis slices; ivf 0.90 with the r9 24-list/8-probe 2-replica
    point — 0.667 for the r6 hard 16/4, 0.633 at r7's 16/6 on this
    sf; curve in SCALE.md) — a drop means a quality regression, not
    flake."""
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import QUERIES

    truth = {}
    for r in QUERIES["knn_brute"](spark, sf_dir).collect():
        if r["rank"] <= 3:
            truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    total = sum(len(v) for v in truth.values())
    # knn_ivf_tree: same 24/8x2 sizing through the two-level coarse
    # quantizer — measured 0.933/0.933/0.90 at sf0.001/0.01/0.1 (r9),
    # i.e. the tree routing costs NO recall on this fixture; same 0.85
    # floor as flat so either's regression trips the same wire.
    for name, floor in [
        ("knn_lsh", 0.9),
        ("knn_wta", 0.9),
        ("knn_ivf", 0.85),
        ("knn_ivf_tree", 0.85),
    ]:
        got = {}
        for r in QUERIES[name](spark, sf_dir).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
        assert hits / total >= floor, f"{name} recall {hits}/{total}"


def test_wta_sigs_projection_is_codegened(spark, sf_dir):
    """The WTA signature projection must stay inside whole-stage
    codegen at the SHIPPED 4-bit × 26-table fan-out. The r7-initial
    expression built the schedule as transform() over a literal array —
    higher-order functions are CodegenFallback, so the projection ran
    INTERPRETED per row (the executed plan showed a bare Project above
    *(1) ColumnarToRow). The r8 flat array(concat(IF…)) form compiles;
    a regression to a fallback expression shape fails here. Headroom
    note: 104 comparison terms vs janino's ~800-term/64 KB method
    cliff documented for the sign-LSH family."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        wta_pairs,
        wta_sigs_expr,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _KNN_WTA_BITS,
        _KNN_WTA_TABLES,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = wta_pairs(_KNN_WTA_BITS, _KNN_WTA_TABLES, 64)
    df = emb.select(
        "vec_id", F.expr(wta_sigs_expr("embedding", pairs, 64)).alias("_sigs")
    )
    top = (
        df._jdf.queryExecution().executedPlan().toString().split("\n")[0]
    ).lstrip()
    assert top.startswith("*("), (
        "WTA sig projection fell out of whole-stage codegen "
        f"(CodegenFallback expression shape?): {top[:120]}"
    )


def test_embedding_hyperplane_dedup_planted_twin_recall(spark, sf_dir):
    """Quality pin for the hyperplane embedding-dedup upgrade path:
    every 10th fixture vector gets a deterministic near-identical twin
    (alternating ±0.01 perturbation, cosine ≈ 0.999) and the operator
    must recover the planted pairs at threshold 0.99. Deterministic
    end-to-end (seeded planes, exact-cosine verify), so the floor is a
    regression pin, not a statistical bound (measured 50/50 at sf0.001
    for both 6-table hyperplane and 8-table coordinate-sign — fixture
    buckets are tiny; the schemes separate at corpus scale, where
    coordinate-sign's dim/bits table cap costs 15% recall — SCALE.md)."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        embedding_near_dup_pairs_hyperplane,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    twins = (
        emb.filter(F.col("vec_id") % 10 == 0)
        .withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000))
        .withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, i: x
                + F.when(i % 2 == 0, F.lit(0.01)).otherwise(F.lit(-0.01)),
            ),
        )
    )
    planted = {
        (r[0] - 10_000_000, r[0]) for r in twins.select("vec_id").collect()
    }
    pairs = embedding_near_dup_pairs_hyperplane(
        emb.unionByName(twins),
        threshold=0.99,
        bits=8,
        tables=6,
        max_bucket=100,
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    hits = len(planted & found)
    assert hits / len(planted) >= 0.95, f"recall {hits}/{len(planted)}"
    # precision is structural (exact-cosine verify): nothing below the
    # threshold can appear, and at 0.99 only planted twins qualify.
    assert found <= planted, f"unexpected pairs: {sorted(found - planted)[:5]}"


def test_minhash_recall_vs_exact_truth(spark, sf_dir):
    """Retrieval-quality regression for the MinHash pipeline: compare
    against EXACT all-pairs Jaccard ground truth (computed in DuckDB —
    feasible at test scale, the thing LSH exists to avoid at 100 TB).
    Precision must be 1.0 structurally (the verify stage recomputes
    exact Jaccard); recall is pinned at the measured fixture value."""
    import duckdb

    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import QUERIES

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS"
        f" SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    truth = {
        (a, b)
        for a, b in con.sql(
            "WITH toks AS (SELECT doc_id, string_split(text,' ') AS t"
            " FROM documents),"
            " sh AS (SELECT doc_id, unnest(list_distinct(list_transform("
            "range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' ||"
            " t[i+2]))) AS s FROM toks WHERE len(t) >= 3),"
            " sizes AS (SELECT doc_id, count(*) AS n FROM sh"
            " GROUP BY doc_id),"
            " inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
            " count(*) AS i FROM sh a JOIN sh b ON a.s = b.s"
            " AND a.doc_id < b.doc_id GROUP BY 1, 2)"
            " SELECT id_a, id_b FROM inter"
            " JOIN sizes na ON na.doc_id = id_a"
            " JOIN sizes nb ON nb.doc_id = id_b"
            " WHERE i / (na.n + nb.n - i) >= 0.2"
        ).fetchall()
    }
    found = {
        (r["id_a"], r["id_b"])
        for r in QUERIES["dedup_minhash_pairs"](spark, sf_dir).collect()
    }
    assert found <= truth, "verify stage must forbid false positives"
    assert truth, "fixture must contain near-dup pairs"
    assert len(found & truth) / len(truth) >= 0.9


def test_ngram_jaccard_recall_vs_exact_truth(spark, sf_dir):
    """Retrieval-quality regression for the char-4-gram pipeline — the
    r7 rebanding exists because the shipped r5/r6 config measured only
    0.60 recall against this kind of ground truth (heavy-headed char
    grams collapsed 2-hash band buckets until the skew guard dropped
    real-dup buckets; SCALE.md §dedup). Exact all-pairs truth in DuckDB
    at test scale; precision is structural, recall pinned at the
    measured fixture value (1.000 at sf0.1 and sf0.001 for 4-hash
    bands)."""
    import duckdb

    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import QUERIES

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS"
        f" SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    truth = {
        (a, b)
        for a, b in con.sql(
            "WITH sh AS (SELECT doc_id, unnest(list_distinct("
            " list_transform(range(1, length(text) - 2),"
            " i -> substr(text, i, 4)))) AS s FROM documents"
            " WHERE length(text) >= 4),"
            " sizes AS (SELECT doc_id, count(*) AS n FROM sh"
            " GROUP BY doc_id),"
            " inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
            " count(*) AS i FROM sh a JOIN sh b ON a.s = b.s"
            " AND a.doc_id < b.doc_id GROUP BY 1, 2)"
            " SELECT id_a, id_b FROM inter"
            " JOIN sizes na ON na.doc_id = id_a"
            " JOIN sizes nb ON nb.doc_id = id_b"
            " WHERE i / (na.n + nb.n - i) >= 0.5"
        ).fetchall()
    }
    found = {
        (r["id_a"], r["id_b"])
        for r in QUERIES["dedup_ngram_jaccard"](spark, sf_dir).collect()
    }
    assert found <= truth, "verify stage must forbid false positives"
    assert truth, "fixture must contain char-gram near-dup pairs"
    assert len(found & truth) / len(truth) >= 0.95


def test_every_query_is_oracle_paired_or_known_rows_only():
    """Registry consistency: a new catalog query without an oracle
    should be a deliberate decision, not an accident — the rows-only
    set is pinned here."""
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import ORACLE_SQL, QUERIES

    assert set(ORACLE_SQL) <= set(QUERIES)
    # Since r4: empty — the sketch-percentile and stateful-sessionize
    # entries self-verify in-plan and emit hashable booleans.
    assert set(QUERIES) - set(ORACLE_SQL) == set()


def test_training_pipeline_array_variant_two_shuffles(docs):
    """The fully-fused composition's claim (decontam_strategy='array'):
    dedup keeper + shard windows are the ONLY hash exchanges;
    quality/decontam/mixing fuse into those stages (plus the final
    orderBy range exchange and the benchmark's SinglePartition
    collect_set). The DEFAULT strategy is 'join' — the r7 100× decade
    measured the array probe going O(corpus × |bench|) once the
    benchmark grows with the corpus."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.text_analysis import (
        training_data_pipeline,
    )

    bench = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    plan = plan_of(
        training_data_pipeline(docs, bench, decontam_strategy="array")
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2


def test_training_pipeline_join_variant_broadcast_probe_and_parity(docs):
    """Default (join) decontam: the benchmark hash table is broadcast
    into a left-semi probe (never a shuffled join of the corpus grams),
    and both strategies keep the same rows."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.text_analysis import (
        training_data_pipeline,
    )

    bench = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    joined = training_data_pipeline(docs, bench)
    plan = plan_of(joined)
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan
    arr = training_data_pipeline(docs, bench, decontam_strategy="array")
    assert joined.exceptAll(arr).count() == 0
    assert arr.exceptAll(joined).count() == 0


def test_ngram_counts_single_shuffle_take_ordered(docs):
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.text_analysis import ngram_counts

    plan = plan_of(ngram_counts(docs, n=2, top_k=50))
    assert data_exchanges(plan) == 1  # the n-gram hash agg
    assert "TakeOrderedAndProject" in plan  # top-k, never a global sort


def test_unigram_logprob_corpus_never_shuffles(docs):
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.text_analysis import unigram_logprob

    plan = plan_of(unigram_logprob(docs))
    # one hash exchange total (the token-count agg feeding vocab+total);
    # doc scoring is a projection over broadcast 1-row joins
    assert data_exchanges(plan) == 1
    assert "SortMergeJoin" not in plan


def test_keep_best_corpus_side_is_broadcast_joined(spark, docs):
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import keep_best_per_cluster

    scored = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("quality")
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    plan = plan_of(keep_best_per_cluster(scored, pairs))
    # the corpus reaches the output through broadcast hash joins only —
    # no sort-merge join, no corpus-keyed exchange on doc_id
    assert "SortMergeJoin" not in plan
    assert not re.search(r"Exchange hashpartitioning\(doc_id", plan)


def test_containment_no_quadratic_join_and_bounded_shuffles(docs):
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import (
        containment_pairs,
    )

    plan = plan_of(containment_pairs(docs))
    # candidate generation must stay posting-list shaped: equi-joins
    # only, never a cross/nested-loop pair enumeration
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # df pass, postings semi-join co-partition, member lists, sizes,
    # pair agg, two sizes joins — bounded exchange count (the pair
    # stage's uniform keys are the only heavy shuffle)
    assert data_exchanges(plan) <= 7, plan


def test_containment_recall_vs_uncapped_truth(spark, sf_dir):
    """Retrieval-quality regression for containment dedup: ground truth
    is the UNCAPPED containment join (no stop-shingle guard) in DuckDB.
    The df cap redefines both numerator and denominator (containment
    over informative shingles), so in principle it can both miss pairs
    held together by boilerplate shingles AND admit pairs whose unique
    shingles are all shared — measured at fixture scale both effects
    are nil: recall 1.000 AND precision 1.000 at sf0.001 / sf0.01 /
    sf0.1 (28 / 25 / 256 truth pairs). Floors pinned at 0.95."""
    import duckdb

    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import QUERIES

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS"
        f" SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    truth = {
        (a, b)
        for a, b in con.sql(
            "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t"
            " FROM documents),"
            " sh AS (SELECT doc_id, unnest(list_distinct(list_transform("
            " range(1, len(t) - 1),"
            " i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s"
            " FROM toks WHERE len(t) >= 3),"
            " sizes AS (SELECT doc_id, count(*) AS n FROM sh"
            " GROUP BY doc_id),"
            " inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
            " count(*) AS i FROM sh a JOIN sh b ON a.s = b.s"
            " AND a.doc_id < b.doc_id GROUP BY 1, 2)"
            " SELECT id_a, id_b FROM inter"
            " JOIN sizes na ON na.doc_id = id_a"
            " JOIN sizes nb ON nb.doc_id = id_b"
            " WHERE greatest(i / na.n, i / nb.n) >= 0.7"
        ).fetchall()
    }
    found = {
        (r["id_a"], r["id_b"])
        for r in QUERIES["dedup_containment"](spark, sf_dir).collect()
    }
    assert truth, "fixture must contain containment pairs"
    assert len(found & truth) / len(truth) >= 0.95
    assert len(found & truth) / len(found) >= 0.95


def test_freq_sketch_keeps_groups_when_no_provable_heavy_hitter(spark):
    """10×-decade regression (SCALE.md): approx_top_k's no-false-
    positives reporting returns an EMPTY item list once distinct keys
    outgrow the tracked slots under near-uniform traffic. The plan must
    keep such groups alive (vacuously-true checks), not drop them — the
    original inner-explode shape returned 0 rows at sf1.0."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import _freq_sketch_checked

    ev = (
        spark.range(4000)
        .select(
            F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("event_type"),
            (F.col("id") % 2000).alias("user_id"),  # uniform, 1000/type
        )
    )
    rows = _freq_sketch_checked(ev, k=5, tracked=16).collect()
    assert len(rows) == 2, "every group must survive an empty sketch list"
    for r in rows:
        assert r["n_rows"] == 2000
        assert r["bound_ok"] is True and r["coverage_ok"] is True


def _synthetic_embeddings(spark, n):
    """Deterministic pseudo-random 64-dim corpus, partition-layout
    independent (hash-fold expression, not F.rand): values ~uniform
    in [-0.5, 0.5), every 100th vector given a near-identical twin
    (cosine ≈ 0.99999) at id + 10_000_000."""
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            # pmod, not %: Spark's % keeps the dividend sign, which
            # would make half the dims always-negative (P(bit)=0.25,
            # skewed buckets) instead of ~uniform in [-0.5, 0.5).
            lambda d: F.pmod(
                F.sin(F.col("id") * 12.9898 + d * 78.233) * 43758.5453,
                F.lit(1.0),
            )
            - 0.5,
        ).alias("embedding"),
    )
    twins = (
        base.filter(F.col("vec_id") % 100 == 0)
        .withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000))
        .withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, i: x
                + F.when(i % 2 == 0, F.lit(0.001)).otherwise(F.lit(-0.001)),
            ),
        )
    )
    return base.unionByName(twins)


@pytest.mark.parametrize("n", [2_000, 50_000])
def test_embedding_dedup_auto_bits_same_caller_both_decades(spark, n):
    """The r8 auto-sizing contract: bits=None derives the operating
    point from the corpus (auto_sign_bits: ceil(log2(n/occupancy)),
    dim//tables-capped), so the SAME caller code recovers planted
    twins at 2k AND 50k vectors. The r7 decade sweep showed why this
    must be code, not documentation: the static 8-bit fixture point
    bucket-collapses at 200k vectors (occupancy ~780 > max_bucket →
    every bucket guard-dropped → silent 0 rows), and at 50k here the
    same static point would already put ~195 in a typical bucket vs
    the guard's 100."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    corpus = _synthetic_embeddings(spark, n)
    planted = {(i, i + 10_000_000) for i in range(0, n, 100)}
    found = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            corpus, threshold=0.99, tables=2, max_bucket=100
        ).collect()
    }
    hits = len(planted & found)
    assert hits / len(planted) >= 0.9, f"recall {hits}/{len(planted)} at n={n}"
    assert found <= planted, f"unexpected pairs: {sorted(found - planted)[:5]}"


def test_embedding_dedup_auto_bits_warns_on_collapse(spark):
    """The occupancy warning must fire when even the derived operating
    point implies typical buckets past the skew guard."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    corpus = _synthetic_embeddings(spark, 2_000)
    with pytest.warns(RuntimeWarning, match="bucket occupancy"):
        # target_occupancy 512 drives bits down to min_bits=4 →
        # expected occupancy ~126 > max_bucket=10.
        embedding_near_dup_pairs(
            corpus, threshold=0.99, tables=2, max_bucket=10,
            target_occupancy=512,
        )


def test_containment_scan_count_bounded(spark, sf_dir):
    """containment_pairs must run the scan→shingle→explode kernel ONCE.

    History: the r7-initial shape re-derived per-doc sizes and
    self-joined them once per containment direction, and every
    DataFrame consumer re-executes its subtree — 12 parquet relations
    in one optimized plan (SCALE.md, subtree-recompute caveat).
    Carrying sizes through the member structs cut that to the
    irreducible 2 (df-cap count + join probe). r8 A/B'd collapsing
    those 2 to 1 via a postings localCheckpoint and the DECADE
    measurement said no (wins 10% at sf0.1, loses 14% at 500k docs —
    the exploded relation is corpus-sized), so the recompute default
    stays and this pins the 2-scan shape. Counts are structural
    (logical node names, not substring-of-path matches — a fixture
    path containing 'parquet' can't flake the pin)."""
    import re

    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import QUERIES

    plan = (
        QUERIES["dedup_containment"](spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    relations = len(re.findall(r"Relation \[", plan))
    rdds = len(re.findall(r"LogicalRDD", plan))
    assert rdds == 0, f"expected no checkpoint in the default plan, got {rdds}"
    assert 0 < relations <= 2, f"expected <=2 corpus scans, got {relations}"


def test_cross_dedup_plans_are_equijoin_only(spark, docs, sf_dir):
    """The cross-corpus near-dup operators, and the self-join operators
    that run the same pair path on one frame, must candidate-generate
    through (band/bucket) EQUI-joins — never a cross/nested-loop pair
    enumeration — and keep a bounded exchange count (the r9 cross
    family's 100 TB contract: one scan + one band shuffle per corpus,
    no self-join term on either side)."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import near_dup_pairs_cross
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        embedding_near_dup_pairs_cross,
    )

    plan = plan_of(
        near_dup_pairs_cross(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
            threshold=0.2,
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan2 = plan_of(
        embedding_near_dup_pairs_cross(
            emb.filter(F.col("vec_id") % 2 == 0),
            emb.filter(F.col("vec_id") % 2 == 1),
            threshold=0.3,
            bits=8,
            tables=2,
            max_bucket=100,
        )
    )
    assert "CartesianProduct" not in plan2
    assert "BroadcastNestedLoopJoin" not in plan2

    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import (
        containment_pairs_cross,
    )

    plan3 = plan_of(
        containment_pairs_cross(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
            threshold=0.7,
            max_df=20,
        )
    )
    assert "CartesianProduct" not in plan3
    assert "BroadcastNestedLoopJoin" not in plan3

    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import near_dup_pairs
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_hyperplane,
    )

    for self_plan in (
        plan_of(near_dup_pairs(docs, threshold=0.2)),
        plan_of(
            embedding_near_dup_pairs(
                emb, threshold=0.3, bits=8, tables=2, max_bucket=100
            )
        ),
        plan_of(
            embedding_near_dup_pairs_hyperplane(
                emb, threshold=0.3, bits=6, max_bucket=100
            )
        ),
    ):
        assert "CartesianProduct" not in self_plan
        assert "BroadcastNestedLoopJoin" not in self_plan


def test_embedding_self_dedup_orders_pair_before_cosine(spark, sf_dir):
    """The self-join embedding dedups restrict the shared pair path to
    id_a < id_b INSIDE it, right after the bucket join: Catalyst then
    puts that conjunct FIRST in the pair join's condition, so mirrored
    pairs and self-pairs are rejected before the cosine dot product is
    evaluated. Filtering the tail's output instead would be pushed into
    the join AFTER the cosine conjunct — same rows, every mirrored pair
    and self-pair paying the dot."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_hyperplane,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pair_join = re.compile(
        r"Join \[_t#\d+, _b#\d+\], \[_t#\d+, _b#\d+\], Inner, "
        r"(?:Build(?:Left|Right), )?(.*)$",
        re.M,
    )
    for max_bucket in (None, 100):
        for df in (
            embedding_near_dup_pairs(
                emb, threshold=0.3, bits=8, tables=2, max_bucket=max_bucket
            ),
            embedding_near_dup_pairs_hyperplane(
                emb, threshold=0.3, bits=6, max_bucket=max_bucket
            ),
        ):
            conds = pair_join.findall(plan_of(df))
            assert len(conds) == 1, conds
            assert re.match(
                r"\(\(id_a#\d+L? < id_b#\d+L?\) AND .*aggregate", conds[0]
            ), conds[0][:200]


def test_knn_join_recall_floor(spark, sf_dir):
    """Retrieval-quality regression for the ANN kNN JOIN: recall@3 vs
    brute-force cross top-3 at the shipped operating point (knn_lsh's
    4 bits x 18 hyperplane tables). Measured 0.913/0.912 at
    sf0.001/sf0.01; floored at 0.85. The coordinate-sign 8x2 point the
    operator first shipped on measured 0.025 on the same truth — the
    near-dup operating point is NOT a kNN operating point (operator
    docstring has the analysis)."""
    from pyspark.sql import Window

    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        cosine,
        cosine_knn_join,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    l = left.select(
        F.col("vec_id").alias("left_id"),
        F.col("embedding").cast("array<double>").alias("lv"),
    )
    r = right.select(
        F.col("vec_id").alias("right_id"),
        F.col("embedding").cast("array<double>").alias("rv"),
    )
    w = Window.partitionBy("left_id").orderBy(F.desc("c"), F.asc("right_id"))
    truth = {
        (x.left_id, x.right_id)
        for x in (
            l.crossJoin(r)
            .select("left_id", "right_id", cosine(F.col("lv"), F.col("rv")).alias("c"))
            .withColumn("rk", F.row_number().over(w))
            .filter("rk <= 3")
            .collect()
        )
    }
    got = {
        (x.left_id, x.right_id)
        for x in cosine_knn_join(
            left, right, k=3, bits=4, tables=18, max_bucket=100
        ).collect()
    }
    assert len(got & truth) / len(truth) >= 0.85


def test_training_pipeline_join_variant_single_keeper_window(docs):
    """r13: the contaminated-id branch derives its grams from the
    quality-gated PRE-keeper frame, so the keeper's full-text window
    subtree appears exactly ONCE in the join-variant plan (it used to
    be planned twice — Catalyst reuses no exchange between the
    anti-join's two sides). The shard window is the only other
    hash-by-derived-key exchange."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.text_analysis import (
        training_data_pipeline,
    )

    bench = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    plan = plan_of(training_data_pipeline(docs, bench))
    assert len(re.findall(r"Exchange hashpartitioning\(text", plan)) == 1
