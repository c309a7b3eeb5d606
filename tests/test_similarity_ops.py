"""Unit coverage for similarity primitives — in particular the
sign_bucket dimensionality contract (VERDICT r2 #4): multi-table LSH
reads dims [t*bits, (t+1)*bits), so a vector shorter than offset+bits
must error loudly instead of silently collapsing into one null-derived
degenerate bucket."""

import os

import pytest
from pyspark.sql import functions as F

from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import sign_bucket


@pytest.fixture()
def vecs(spark):
    return spark.createDataFrame(
        [(1, [1.0, -1.0, 2.0, -0.5])], ["id", "v"]
    )


def test_sign_bucket_in_range(vecs):
    got = vecs.select(
        sign_bucket(F.col("v"), bits=3).alias("b"),
        sign_bucket(F.col("v"), bits=2, offset=2).alias("b2"),
    ).collect()[0]
    assert got["b"] == "101"
    assert got["b2"] == "10"


def test_sign_bucket_short_vector_errors(vecs):
    with pytest.raises(Exception, match="fewer than"):
        vecs.select(
            sign_bucket(F.col("v"), bits=3, offset=2).alias("b")
        ).collect()


def test_lsh_hyperplanes_rejects_nnz_over_dim():
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import lsh_hyperplanes

    with pytest.raises(ValueError, match="nnz=9 > dim=8"):
        lsh_hyperplanes(bits=2, tables=2, dim=8, nnz=9)


def test_hyperplane_expression_and_udf_sigs_bit_identical(spark, sf_dir):
    """The two signature implementations — the portable JVM expression
    (hyperplane_bucket, a left-deep Add tree summed in schedule order)
    and the Arrow-batched numpy path (_hyperplane_sigs_udf, accumulated
    over term slots in the same order) — must emit bit-identical bucket
    strings: this is the contract that lets the DuckDB oracle's unrolled
    SQL mirror the vectorized plan. IEEE doubles added in one fixed
    order agree everywhere; any reordering in either path breaks this
    on near-orthogonal vectors."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        _as_double,
        _hyperplane_sigs_udf,
        hyperplane_bucket,
        lsh_hyperplanes,
    )

    bits, tables, dim = 5, 4, 64
    planes = lsh_hyperplanes(bits, tables, dim)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("_v")
    )
    expr_sigs = emb.select(
        "vec_id",
        *[
            hyperplane_bucket(F.col("_v"), planes[t], dim).alias(f"s{t}")
            for t in range(tables)
        ],
    )
    udf_sigs = emb.select(
        "vec_id", _hyperplane_sigs_udf(planes, dim)(F.col("_v")).alias("arr")
    ).select(
        "vec_id", *[F.col("arr")[t].alias(f"s{t}") for t in range(tables)]
    )
    a = sorted(map(tuple, expr_sigs.collect()))
    b = sorted(map(tuple, udf_sigs.collect()))
    assert len(a) > 0
    assert a == b


def test_wta_sigs_expr_matches_wta_bucket(spark, sf_dir):
    """The single-SQL-string signature builder (wta_sigs_expr — one
    F.expr call instead of tables×bits py4j-built when-chains; the
    column-DSL form cost ~2 s of DRIVER time per query build at 26×4)
    must emit bit-identical sig strings to the per-table wta_bucket
    column kernel it replaces in cosine_knn_wta — same comparisons,
    same order, same '1'/'0' encoding — on the real embeddings
    fixture. This is the contract that keeps the DuckDB oracle's
    unrolled CASE/concat SQL a faithful mirror."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        wta_bucket,
        wta_pairs,
        wta_sigs_expr,
    )

    bits, tables, dim = 4, 26, 64
    pr = wta_pairs(bits, tables, dim)
    emb = load_table(spark, sf_dir, "embeddings")
    col_sigs = emb.select(
        "vec_id",
        *[
            wta_bucket(F.col("embedding"), pr[t], dim).alias(f"s{t}")
            for t in range(tables)
        ],
    )
    expr_sigs = emb.select(
        "vec_id", F.expr(wta_sigs_expr("embedding", pr, dim)).alias("arr")
    ).select(
        "vec_id", *[F.col("arr")[t].alias(f"s{t}") for t in range(tables)]
    )
    a = sorted(map(tuple, col_sigs.collect()))
    b = sorted(map(tuple, expr_sigs.collect()))
    assert len(a) > 0
    assert a == b


def test_wta_sigs_expr_short_vector_errors(spark):
    """The SQL-string form must keep wta_bucket's dim guard: a vector
    shorter than dim raises instead of silently comparing nulls."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        wta_pairs,
        wta_sigs_expr,
    )

    pr = wta_pairs(2, 2, 8)
    short = spark.createDataFrame(
        [(1, [0.1] * 4)], ["vec_id", "embedding"]
    )
    with pytest.raises(Exception, match="fewer than 8 dims"):
        short.select(
            F.expr(wta_sigs_expr("embedding", pr, 8)).alias("arr")
        ).collect()


def test_wta_sigs_expr_handles_awkward_column_names(spark):
    """ADVICE r7: vec_col is spliced into SQL text, so non-identifier
    names (dots, spaces) must parse via backtick quoting, and a name
    containing a backtick is rejected instead of escaped."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        wta_pairs,
        wta_sigs_expr,
    )

    pr = wta_pairs(2, 2, 4)
    df = spark.createDataFrame([(1, [0.4, 0.1, 0.3, 0.2])], ["vec_id", "em b.x"])
    rows = df.select(
        F.expr(wta_sigs_expr("em b.x", pr, 4)).alias("arr")
    ).collect()
    assert len(rows[0]["arr"]) == 2
    with pytest.raises(ValueError, match="backtick"):
        wta_sigs_expr("bad`name", pr, 4)


def test_auto_bits_dim_probe_skips_null_vectors(spark):
    """bits=None's dim probe must read the first NON-NULL vector:
    size(NULL) is NULL under the non-ANSI default, so a corpus whose
    first scanned row has a null embedding would crash int(None) at
    plan-build time (review find)."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    rows = [(0, None)] + [
        (i, [float(i + j) for j in range(8)]) for i in range(1, 4)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # the null row is FIRST in scan order: plan build must not raise
    out = embedding_near_dup_pairs(df, bits=None, tables=2)
    assert {"id_a", "id_b"} <= set(out.columns)


def test_cosine_zero_vector_is_null_not_error(spark):
    """A zero-magnitude vector must yield NULL cosine (undefined), not
    an ANSI DIVIDE_BY_ZERO that kills the job on one poison row
    (review find: Spark 4 defaults ansi.enabled=true)."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import cosine

    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0]), ([3.0, 4.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    rows = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()
    assert rows[0]["c"] is None
    assert abs(rows[1]["c"] - 0.6) < 1e-9


def test_quantize_zero_vector_yields_zero_codes(spark):
    """An all-zero embedding quantizes to zero codes with scale 0
    instead of raising ANSI DIVIDE_BY_ZERO on 127/vmax (review find)."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id long, embedding array<double>",
    )
    rows = quantize_embeddings(df).collect()
    z = [r for r in rows if r["vec_id"] == 1]
    assert len(z) == 3
    assert all(r["q"] == 0 and r["scale"] == 0.0 for r in z)
    nz = {r["pos"]: r["q"] for r in rows if r["vec_id"] == 2}
    assert nz == {1: 64, 2: -127, 3: 32}


def test_lloyd_refine_exact_means(spark):
    """lloyd_refine_centroids moves each list's centroid to the
    element-wise mean of its members, rounded to 6 decimals (the
    rounding is the cross-engine determinism contract)."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        lloyd_refine_centroids,
    )

    e = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [3.0, 1.0]), (3, [0.0, 5.0])],
        "_id long, _v array<double>",
    )
    assign = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20)], "_id long, _list long"
    )
    got = {
        r["_cid"]: r["_cv"]
        for r in lloyd_refine_centroids(e, assign).collect()
    }
    assert got == {10: [2.0, 0.5], 20: [0.0, 5.0]}


def test_ivf_replication_dedupes_shared_list_candidates(spark):
    """With replication > 1 a (query, neighbor) pair can share several
    probed lists; the output must rank each neighbor exactly once, with
    dense ranks 1..k — the max-collapse aggregate runs BEFORE the rank
    window."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        cosine_knn_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = cosine_knn_ivf(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=3,
        n_lists=8,
        nprobe=4,
        replication=2,
    ).collect()
    seen = {}
    for r in out:
        key = (r["query_id"], r["neighbor_id"])
        assert key not in seen, f"duplicate ranked pair {key}"
        seen[key] = r["rank"]
    by_q = {}
    for (q, _), rk in seen.items():
        by_q.setdefault(q, []).append(rk)
    for q, rks in by_q.items():
        assert sorted(rks) == list(range(1, len(rks) + 1)), (q, rks)


def test_tree_assign_full_probe_equals_flat(spark):
    """The tree quantizer's exactness law: with probe_supers >= the
    super count, every vector's candidate set is the FULL centroid set
    (every centroid attaches to at least one super), so the two-level
    assignment — and therefore the whole kNN result, ranks and rounded
    cosines included — must EQUAL the flat path's bit-for-bit. Pins
    that the tree's approximation comes only from routing, never from
    a semantics drift in scoring, tie-breaks, or the posting window."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        cosine_knn_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 10)
    kw = dict(k=3, n_lists=24, nprobe=8, replication=2)
    flat = cosine_knn_ivf(emb, qs, **kw)
    # n_supers = isqrt(24) = 4; probing all 4 supers covers every list
    tree = cosine_knn_ivf(
        emb, qs, coarse_assign="tree", probe_supers=4, **kw
    )
    assert sorted(map(tuple, flat.collect())) == sorted(
        map(tuple, tree.collect())
    )


def test_tree_assign_rejects_unknown_mode(spark):
    """coarse_assign is a closed enum — a typo must fail at build time
    with a targeted message, not fall through to the flat path."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        cosine_knn_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="coarse_assign"):
        cosine_knn_ivf(
            emb, emb.limit(1), coarse_assign="tre"
        )


def test_embedding_cross_pairs_equal_self_restricted_to_cross_parity(spark):
    """embedding_near_dup_pairs_cross(even, odd) at the same operating
    point must emit exactly the self-join operator's cross-parity pairs
    re-oriented (even, odd) — the dedup_embedding_cross catalog
    contract. And the identity the self-join is built on: the cross
    operator given the same frame on both sides, restricted to
    id_a < id_b, IS the self-join operator at explicit bits, with and
    without the max_bucket guard."""
    import random

    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_cross,
    )

    rng = random.Random(7)
    base = [rng.gauss(0, 1) for _ in range(16)]
    rows = []
    for i in range(12):
        if i % 3 == 0:
            v = [x + rng.gauss(0, 0.01) for x in base]  # near-dup cluster
        else:
            v = [rng.gauss(0, 1) for _ in range(16)]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.3, bits=4, tables=2)
    self_pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(df, **kw).collect()
    }
    want = {
        (p if p % 2 == 0 else q, q if p % 2 == 0 else p): c
        for (p, q), c in self_pairs.items()
        if p % 2 != q % 2
    }
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs_cross(
            df.filter(F.col("vec_id") % 2 == 0),
            df.filter(F.col("vec_id") % 2 == 1),
            **kw,
        ).collect()
    }
    assert got == want and len(got) >= 1

    for max_bucket in (None, 3):
        kw_mb = dict(kw, max_bucket=max_bucket)
        one_frame = {
            (r.id_a, r.id_b): r.cosine
            for r in embedding_near_dup_pairs_cross(df, df, **kw_mb).collect()
            if r.id_a < r.id_b
        }
        self_mb = {
            (r.id_a, r.id_b): r.cosine
            for r in embedding_near_dup_pairs(df, **kw_mb).collect()
        }
        assert one_frame == self_mb and len(self_mb) >= 1, max_bucket
    # the guard engages on this fixture: the near-dup cluster's 4
    # vectors share a bucket
    assert self_mb != self_pairs


def test_embedding_cross_overlapping_id_spaces_never_conflate(spark):
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        embedding_near_dup_pairs_cross,
    )

    a = [1.0, 0.5, -0.25, 2.0, 1.5, -1.0, 0.75, 0.1]
    anti = [-x for x in a]
    ref = spark.createDataFrame(
        [(1, a)], "vec_id long, embedding array<double>"
    )
    new = spark.createDataFrame(
        [(1, anti), (2, a)], "vec_id long, embedding array<double>"
    )
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs_cross(
            ref, new, threshold=0.5, bits=4, tables=2
        ).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (1, 1) not in got  # same id, anti-parallel vector: no pair


def test_embedding_store_probe_equals_cross_recompute(spark, tmp_path, sf_dir):
    """The persisted-vector-store loop (embedding twin of
    test_store_probe_equals_cross_recompute): build_signbucket_store
    written to parquet, probed with embedding_near_dup_against_store,
    must emit exactly embedding_near_dup_pairs_cross at the same
    operating point (no guard on either — the store contract)."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        build_signbucket_store,
        embedding_near_dup_against_store,
        embedding_near_dup_pairs_cross,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ref = emb.filter(F.col("vec_id") % 10 != 0)
    new = emb.filter(F.col("vec_id") % 10 == 0)
    store_path = str(tmp_path / "vstore")
    build_signbucket_store(ref, bits=8, tables=2).write.parquet(store_path)

    got = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_against_store(
            spark.read.parquet(store_path), new, bits=8, tables=2, threshold=0.3
        ).collect()
    }
    want = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs_cross(
            ref, new, bits=8, tables=2, threshold=0.3
        ).collect()
    }
    assert got == want and len(got) >= 1


def test_ivf_index_probe_equals_inline_knn(spark, tmp_path, sf_dir):
    """The persisted-index loop: build_ivf_index written to parquet
    (centroids + postings), probed with cosine_knn_ivf_probe, must
    return cosine_knn_ivf(corpus, queries) bit-for-bit at the shipped
    operating point — persistence changes where the index comes from,
    never the neighbors. Covers both coarse-assign modes."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        build_ivf_index,
        cosine_knn_ivf,
        cosine_knn_ivf_probe,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    for mode in ("flat", "tree"):
        kw = dict(n_lists=24, replication=2, coarse_assign=mode)
        c, p = build_ivf_index(emb, **kw)
        cdir = str(tmp_path / f"cent_{mode}")
        pdir = str(tmp_path / f"post_{mode}")
        c.write.parquet(cdir)
        p.write.parquet(pdir)
        got = sorted(
            tuple(r)
            for r in cosine_knn_ivf_probe(
                spark.read.parquet(cdir),
                spark.read.parquet(pdir),
                queries,
                k=3,
                nprobe=8,
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in cosine_knn_ivf(emb, queries, k=3, nprobe=8, **kw).collect()
        )
        assert got == want and len(got) == 30, mode


def test_knn_join_ivf_full_probe_is_exact(spark, sf_dir):
    """cosine_knn_join_ivf's exactness law: nprobe >= n_lists with
    replication=1 probes every posting list, so the result equals
    brute-force cross top-k bit-for-bit — recall is a budget knob,
    never a correctness one."""
    from pyspark.sql import Window

    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        cosine,
        cosine_knn_join_ivf,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") % 2 == 0).filter(F.col("vec_id") < 100)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    got = sorted(
        tuple(r)
        for r in cosine_knn_join_ivf(
            left, right, k=3, n_lists=8, nprobe=8, replication=1
        ).collect()
    )
    l = left.select(
        F.col("vec_id").alias("left_id"),
        F.col("embedding").cast("array<double>").alias("lv"),
    )
    r = right.select(
        F.col("vec_id").alias("right_id"),
        F.col("embedding").cast("array<double>").alias("rv"),
    )
    w = Window.partitionBy("left_id").orderBy(F.desc("_c"), F.asc("right_id"))
    want = sorted(
        (x.left_id, x.right_id, x.rank, round(x._c, 6))
        for x in (
            l.crossJoin(r)
            .select("left_id", "right_id", cosine(F.col("lv"), F.col("rv")).alias("_c"))
            .withColumn("rank", F.row_number().over(w))
            .filter("rank <= 3")
            .collect()
        )
    )
    assert got == want and len(got) == 150


def test_ivf_probe_collapse_is_unconditional(spark, tmp_path, sf_dir):
    """ADVICE r9 #3: the probe once took a ``replication`` argument
    that gated the shared-list duplicate collapse, so a caller passing
    a value below the index's build-time replication silently filled
    top-k ranks with the same neighbor twice. The collapse is
    unconditional and the argument is gone: probing a replication=2
    index must put no (query, neighbor) pair in two ranks."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        build_ivf_index,
        cosine_knn_ivf_probe,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    c, p = build_ivf_index(emb, n_lists=24, replication=2)
    got = cosine_knn_ivf_probe(c, p, queries, k=3, nprobe=8).collect()
    pairs = [(r.query_id, r.neighbor_id) for r in got]
    assert len(pairs) == len(set(pairs)) == 30


def test_knn_join_ivf_probe_equals_inline(spark, tmp_path, sf_dir):
    """The persisted-index loop for the kNN JOIN (r10): build_ivf_index
    written to parquet, probed with cosine_knn_join_ivf_probe for a
    left corpus, must return cosine_knn_join_ivf(left, right)
    bit-for-bit — index once, align every arriving batch."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        build_ivf_index,
        cosine_knn_ivf_probe,
        cosine_knn_join_ivf,
        cosine_knn_join_ivf_probe,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    c, p = build_ivf_index(right, n_lists=24, replication=2)
    cdir, pdir = str(tmp_path / "cent"), str(tmp_path / "post")
    c.write.parquet(cdir)
    p.write.parquet(pdir)
    got = sorted(
        tuple(r)
        for r in cosine_knn_join_ivf_probe(
            spark.read.parquet(cdir), spark.read.parquet(pdir), left,
            k=3, nprobe=8,
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in cosine_knn_join_ivf(
            left, right, k=3, n_lists=24, nprobe=8, replication=2
        ).collect()
    )
    assert got == want and len(got) == 750
    # the join probe is the query probe with left as the query set: the
    # id sets are disjoint, so the query probe's same-id exclusion never
    # fires and the rows match once the columns are renamed
    as_queries = sorted(
        tuple(r)
        for r in cosine_knn_ivf_probe(
            spark.read.parquet(cdir), spark.read.parquet(pdir), left,
            k=3, nprobe=8,
        ).collect()
    )
    assert as_queries == got


def test_knn_join_equals_sign_lsh_with_left_as_queries(spark, sf_dir):
    """The LSH kNN join is the sign-LSH query kNN with the left corpus
    as the query set and the right as the corpus: same hyperplane
    schedule, band rows, collision scoring and rank tail. With disjoint
    id sets (even left, odd right) the query kNN's same-id exclusion
    never fires, so without ``max_bucket`` the rows are equal."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        cosine_knn_join,
        cosine_knn_sign_lsh,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    got = sorted(
        tuple(r) for r in cosine_knn_join(left, right, bits=4, tables=18).collect()
    )
    want = sorted(
        tuple(r)
        for r in cosine_knn_sign_lsh(right, left, bits=4, tables=18).collect()
    )
    assert got == want and len(got) > 0


def test_knn_ivf_probe_dir_equals_probe(spark, tmp_path, sf_dir):
    """The list-major persisted index (r11): write_ivf_index + the
    direct-path probe must equal the in-memory probe bit-for-bit, the
    postings must land one file per _list leaf (the file-bomb
    invariant), and the probe's file index must contain ONLY the
    probed lists' subtrees — at n_lists ~ sqrt(n) a probe batch
    touches a small fraction of the lists, and listing the rest per
    batch is the cost the layout removes."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        _ivf_route_probes,
        build_ivf_index,
        cosine_knn_ivf_probe,
        cosine_knn_ivf_probe_dir,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    c, p = build_ivf_index(emb, n_lists=24, replication=2)
    cdir, pdir = str(tmp_path / "cent"), str(tmp_path / "post")
    write_ivf_index(c, p, cdir, pdir)

    # one file per list leaf
    ldirs = [d for d in os.listdir(pdir) if d.startswith("_list=")]
    assert ldirs
    for d in ldirs:
        files = [
            f
            for f in os.listdir(os.path.join(pdir, d))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (d, files)

    got = cosine_knn_ivf_probe_dir(
        spark, cdir, pdir, queries, k=3, nprobe=4
    )
    want = cosine_knn_ivf_probe(
        spark.read.parquet(cdir), spark.read.parquet(pdir), queries,
        k=3, nprobe=4,
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )

    # the probe's read set: only the probed lists' subtrees
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    probed = {
        r[0]
        for r in _ivf_route_probes(spark.read.parquet(cdir), q, 4)
        .select("_list")
        .distinct()
        .collect()
    }
    assert len(probed) < len(ldirs)
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.readers import (
        read_partition_subtrees,
    )

    e = read_partition_subtrees(spark, pdir, "_list", sorted(probed))
    assert all(
        any(f"/_list={k}/" in f for k in probed) for f in e.inputFiles()
    )


def test_knn_ivf_probe_dir_empty_lists(spark, tmp_path, sf_dir):
    """A probe whose routed lists all lack a partition dir (possible
    on a sparse streamed index) must return an empty result with the
    probe schema, not fail the read."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        build_ivf_index,
        cosine_knn_ivf_probe_dir,
        write_ivf_index,
    )
    import shutil

    emb = load_table(spark, sf_dir, "embeddings")
    c, p = build_ivf_index(emb, n_lists=8, replication=1)
    cdir, pdir = str(tmp_path / "cent"), str(tmp_path / "post")
    write_ivf_index(c, p, cdir, pdir)
    for d in os.listdir(pdir):
        if d.startswith("_list="):
            shutil.rmtree(os.path.join(pdir, d))
    got = cosine_knn_ivf_probe_dir(
        spark, cdir, pdir, emb.filter(F.col("vec_id") < 3), k=3, nprobe=2
    )
    assert got.columns == ["query_id", "neighbor_id", "rank", "cosine"]
    assert got.count() == 0


def test_ivf_drift_stats_and_summary(spark, sf_dir, tmp_path):
    """r12 re-centering drift signal: per-list occupancy + mean
    assignment cosine over a persisted list-major index. Invariants:
    every posting row is counted exactly once (sum n_vectors =
    replication x corpus), assignment cosines are sane for the
    nearest-replica quantizer, the recent tail of a two-tier streamed
    store is included, and the driver-side summary rolls up the
    rebuild-signal scalars."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        build_ivf_index,
        ivf_drift_summary,
        ivf_index_drift_stats,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    cdir = str(tmp_path / "cent")
    pdir = str(tmp_path / "post")
    c, p = build_ivf_index(emb, n_lists=16, replication=2)
    write_ivf_index(c, p, cdir, pdir)

    stats = ivf_index_drift_stats(spark, cdir, pdir)
    got = stats.collect()
    assert 0 < len(got) <= 16
    assert sum(r["n_vectors"] for r in got) == 2 * n
    assert all(-1.0 <= r["mean_cos"] <= 1.0 for r in got)
    s = ivf_drift_summary(stats, 16)
    assert s["postings"] == 2 * n
    assert s["nonempty_lists"] == len(got)
    assert s["empty_lists"] == 16 - len(got)
    assert s["occupancy_skew"] >= 1.0
    assert -1.0 <= s["min_list_mean_cos"] <= s["mean_assign_cos"] <= 1.0

    # two-tier: a recent tail (streamed landings not yet rolled) is
    # part of the index and must be counted
    extra = p.limit(40)
    extra.write.mode("overwrite").parquet(pdir + "_recent/batch_id=0")
    n_extra = extra.count()
    stats2 = ivf_index_drift_stats(spark, cdir, pdir)
    assert (
        sum(r["n_vectors"] for r in stats2.collect()) == 2 * n + n_extra
    )

    # no postings at all -> explicit error, not an empty frame
    with pytest.raises(FileNotFoundError):
        ivf_index_drift_stats(spark, cdir, str(tmp_path / "nowhere"))


def test_ivf_drift_summary_empty_stats(spark):
    """r12 review find: an index with no scored postings (zero-row
    recent batches, or postings matching none of the centroids) must
    roll up to a well-formed 'nothing indexed' dict, not a
    float(None) TypeError."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import ivf_drift_summary

    empty = spark.createDataFrame(
        [], "list_id long, n_vectors long, mean_cos double"
    )
    s = ivf_drift_summary(empty, 16)
    assert s == {
        "n_lists": 16,
        "nonempty_lists": 0,
        "empty_lists": 16,
        "occupancy_skew": None,
        "mean_assign_cos": None,
        "min_list_mean_cos": None,
        "postings": 0,
    }


def test_dot_d_unrolled_bit_equals_fold(spark):
    """r13 pin (VERDICT r12 #6): the codegen-unrolled `_dot_d` must be
    BIT-identical to the interpreted HOF fold on every row shape —
    matching width, ragged/mismatched widths (per-row guard → fold),
    NULL cells, empty arrays, and the all-(-0.0)-terms row where the
    fold's leading `0.0 +` seed decides the zero's sign (ADVICE r12)."""
    import math

    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        _dot,
        _dot_d,
    )

    rows_ = [
        (0, [1.5, -2.0, 3.25, 0.5], [4.0, 0.125, -8.0, 2.0]),   # width 4
        (1, [0.1, 0.2, 0.3, 0.4], [0.9, 0.8, 0.7, 0.6]),        # inexact sums
        (2, [1.0, 2.0], [3.0, 4.0]),                             # ragged: dim!=4
        (3, [1.0, None, 2.0, 3.0], [1.0, 1.0, 1.0, 1.0]),        # NULL cell
        (4, [], []),                                             # empty
        (5, None, [1.0, 1.0, 1.0, 1.0]),                         # NULL array
        (6, [0.0, -0.0, 0.0, -0.0], [-1.0, 0.0, -2.0, 5.0]),     # all -0.0 terms
        (7, [1e308, 1.0, -1e308, 1.0], [2.0, 1.0, 2.0, 1.0]),    # order-sensitive
    ]
    df = spark.createDataFrame(
        rows_, "id long, a array<double>, b array<double>"
    )
    got = {
        r["id"]: (r["u"], r["f"])
        for r in df.select(
            "id",
            _dot_d("a", "b", 4).alias("u"),
            _dot("a", "b").alias("f"),
        ).collect()
    }
    for i, (u, f) in got.items():
        if f is None or (isinstance(f, float) and math.isnan(f)):
            assert u is None or math.isnan(u), (i, u, f)
        else:
            assert u == f, (i, u, f)
            # bit-level: zero SIGNS must agree too (the seed contract)
            assert math.copysign(1.0, u) == math.copysign(1.0, f), (i, u, f)
    # explicit: the -0.0-terms row lands on +0.0, as the fold does
    assert got[6][1] == 0.0 and math.copysign(1.0, got[6][1]) == 1.0
    assert math.copysign(1.0, got[6][0]) == 1.0


def test_probe_dim_cache_invalidates_on_inplace_overwrite(
    spark, tmp_path
):
    """r13 (ADVICE r12): `_probe_dim`'s memo keys on per-file
    mtime+size, so a file overwritten IN PLACE with a different vector
    width re-probes instead of serving the stale dim for the
    application's lifetime."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        _probe_dim,
    )

    p = str(tmp_path / "vecs.parquet")

    def write(dim):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([1, 2], pa.int64()),
                    "embedding": pa.array(
                        [[float(i) for i in range(dim)]] * 2,
                        pa.list_(pa.float64()),
                    ),
                }
            ),
            p,
        )

    write(4)
    df = spark.read.parquet(p)
    assert _probe_dim(df, "embedding") == 4
    assert _probe_dim(df, "embedding") == 4  # memo hit
    time.sleep(0.01)
    write(6)
    os.utime(p)  # ensure a fresh mtime even on coarse filesystems
    df2 = spark.read.parquet(p)
    assert _probe_dim(df2, "embedding") == 6


def test_unroll_pair_gate_decisions(spark, tmp_path):
    """r13 (VERDICT r12 #7): the unrolled-dot engagement at the IVF
    join's pair stage is derived from plan-time statistics — engaged
    past the measured crossover, declined for small probes, and the
    measured-good default (engage) when statistics are absent."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        _est_rows,
        _unroll_pair_gate,
        _UNROLL_MIN_EST_PAIRS,
    )

    dim = 64
    p = str(tmp_path / "emb.parquet")
    n = 12000  # n² · repl · nprobe/n_lists ≈ 1e8 est pairs — past the gate
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                # incompressible values — the gate estimates rows from
                # parquet FILE bytes, so constant vectors would RLE
                # down to nothing and undercount by 100x
                "embedding": pa.array(
                    [
                        [j * 0.001 + k * 0.017 + 0.123 for k in range(dim)]
                        for j in range(n)
                    ],
                    pa.list_(pa.float64()),
                ),
            }
        ),
        p,
    )
    corpus = spark.read.parquet(p)
    est = _est_rows(corpus, dim)
    # bytes-based estimate: right order of magnitude, never None
    assert est is not None and n // 10 <= est <= n * 10
    # corpus×corpus with the raw-corpus hint: engaged
    assert _unroll_pair_gate(corpus, corpus, 8, dim, 24, corpus, 2)
    # small probe against the same index: declined
    small = corpus.limit(5)
    assert not _unroll_pair_gate(small, corpus, 8, dim, 24, corpus, 2)
    # absent statistics (in-memory relation): the engage default
    local = spark.createDataFrame(
        [(1, [1.0] * dim)], ["vec_id", "embedding"]
    )
    if _est_rows(local, dim) is None:
        assert _unroll_pair_gate(local, local, 8, dim, 24)
    # join-inflated postings stats alone are not evidence either way:
    # a tiny left with a blown-up postings subtree must not engage
    # via the inflation (the >1e9-row sanity cap voids it)
    blown = corpus.crossJoin(corpus.selectExpr("vec_id as v2")).select(
        "vec_id", "embedding"
    )
    if (_est_rows(blown, dim) or 0) > 1_000_000_000:
        assert _unroll_pair_gate(small, blown, 8, dim, 24)  # unknown→default
    assert _UNROLL_MIN_EST_PAIRS >= 250_000  # above the measured loss regime
