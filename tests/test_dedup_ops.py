"""Unit coverage for dedup operators beyond the oracle-checked catalog
paths — in particular connected_components' iteration-budget behavior
(VERDICT r2 #7): a graph whose diameter exceeds ``max_iterations`` must
warn that the returned labels are under-merged, never return them
silently."""

import warnings

import pytest

from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import connected_components


def _path_edges(spark, n):
    """A path graph 0-1-2-...-n (diameter n)."""
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
    )


def test_cc_budget_exhaustion_warns(spark):
    edges = _path_edges(spark, 12)
    with pytest.warns(RuntimeWarning, match="under-merged"):
        out = connected_components(edges, max_iterations=3)
    # the approximation is still a valid labeling (every node labeled)
    assert out.count() == 13


def test_cc_converged_run_does_not_warn(spark):
    edges = _path_edges(spark, 6)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out = connected_components(edges, max_iterations=20)
    rows = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert rows == {i: 0 for i in range(7)}


def test_cc_reliable_checkpoint_when_dir_configured(spark, tmp_path):
    """r8: with sparkContext.setCheckpointDir configured, the CC loop
    must use RELIABLE (.checkpoint) lineage truncation — executor-loss-
    safe on a cluster where localCheckpoint blocks are unrecoverable —
    and produce identical labels. Verified by the checkpoint files
    actually landing in the configured dir."""
    import os

    sc = spark.sparkContext
    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    try:
        edges = _path_edges(spark, 6)
        rows = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(edges).collect()
        }
        assert rows == {i: 0 for i in range(7)}
        landed = any(files for _, _, files in os.walk(ckdir))
        assert landed, "no reliable checkpoint files written under the dir"
        # File hygiene (review find): Spark never deletes .checkpoint()
        # data on its own, so the loop must clean up superseded
        # iterations — exactly ONE rdd-* dir (the final labels
        # checkpoint backing the returned DataFrame) may survive a run
        # that checkpointed edges + O(diameter) label iterations.
        rdd_dirs = [
            d
            for _, dirs, _ in os.walk(ckdir)
            for d in dirs
            if d.startswith("rdd-")
        ]
        assert len(rdd_dirs) == 1, f"leaked checkpoint dirs: {rdd_dirs}"
    finally:
        # unset so other tests keep the fast local path ($-named scala
        # setter needs getattr; no public Python unset exists)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )


def test_cc_two_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    out = {r["doc_id"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_minhash_coeffs_are_valid_and_deterministic():
    """Universal-hash coefficient invariants: a_i never 0 (a zero
    multiplier is a constant hash), both in modulus range, stable
    across calls (they are baked into the DuckDB oracle as literals),
    and extending num_hashes only appends."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import (
        MINHASH_P,
        minhash_coeffs,
    )

    c16 = minhash_coeffs(16)
    assert c16 == minhash_coeffs(16)
    assert c16[:8] == minhash_coeffs(8)
    assert len(set(c16)) == 16
    for a, b in c16:
        assert 1 <= a < MINHASH_P
        assert 0 <= b < MINHASH_P


def test_auto_sign_bits_rule():
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        auto_sign_bits,
    )

    assert auto_sign_bits(0) == 4            # empty corpus -> min_bits
    assert auto_sign_bits(2_000) == 8        # ceil(log2(250))
    assert auto_sign_bits(50_000) == 13      # ceil(log2(6250))
    assert auto_sign_bits(200_000) == 15
    assert auto_sign_bits(10**12) == 24      # max_bits clamp (LUT guard)
    # monotone in n
    prev = 0
    for n in (10, 100, 10**4, 10**6, 10**9):
        b = auto_sign_bits(n)
        assert b >= prev
        prev = b
    # occupancy target moves bits the right way
    assert auto_sign_bits(2_000, target_occupancy=512) == 4


def test_sample_shingles_rejects_out_of_range_keep_hex():
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import sample_shingles
    from pyspark.sql import functions as F

    for bad in (0, 16, -1):
        with pytest.raises(ValueError, match="out of range"):
            sample_shingles(F.col("shingles"), bad)


def _containment_docs(spark):
    """A small doc fully embedded in a much larger one (Jaccard << 1,
    containment == 1), an unrelated doc, and a stop-shingle block."""
    small = "alpha beta gamma delta epsilon zeta"
    big = (
        "intro words before the quote "
        + small
        + " and a long long tail of extra unrelated filler content "
        "stretching the larger document so resemblance collapses "
        "one two three four five six seven eight nine ten eleven "
        "twelve thirteen fourteen fifteen sixteen seventeen eighteen"
    )
    other = "completely different text with no shared shingles at all here"
    return spark.createDataFrame(
        [(1, small), (2, big), (3, other)], ["doc_id", "text"]
    )


def test_containment_catches_subset_pair_jaccard_misses(spark):
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import (
        containment_pairs,
        near_dup_pairs,
    )

    docs = _containment_docs(spark)
    pairs = {
        (r["id_a"], r["id_b"]): r
        for r in containment_pairs(docs, threshold=0.9).collect()
    }
    assert (1, 2) in pairs, "embedded doc must be surfaced"
    r = pairs[(1, 2)]
    # every shingle of the small doc appears in the big doc
    assert r["containment_a"] == 1.0
    # the symmetric direction is weak — that's the asymmetry being tested
    assert r["containment_b"] < 0.5
    assert (1, 3) not in pairs and (2, 3) not in pairs
    # the same pair's Jaccard sits far below any near-dup threshold, so
    # the symmetric operator (unbanded, threshold 0) reports it low
    jac = {
        (row["id_a"], row["id_b"]): row["jaccard"]
        for row in near_dup_pairs(docs, threshold=0.0).collect()
    }
    assert jac.get((1, 2), 0.0) < 0.2


def test_containment_stop_shingle_guard_drops_boilerplate(spark):
    """Docs sharing ONLY a boilerplate shingle (df > max_df) produce no
    pair; the same corpus with the guard loosened does."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import (
        containment_pairs,
    )

    boiler = "subscribe to our newsletter"
    docs = spark.createDataFrame(
        [(i, f"unique{i} token{i} filler{i} " + boiler) for i in range(6)],
        ["doc_id", "text"],
    )
    capped = containment_pairs(docs, k=3, threshold=0.1, max_df=3)
    assert capped.count() == 0
    open_df = containment_pairs(docs, k=3, threshold=0.1, max_df=10)
    assert open_df.count() > 0


def test_cc_executes_edge_plan_exactly_once(spark):
    """The edge input is typically the tail of the whole MinHash/LSH
    pair pipeline; the label-propagation loop must NOT re-execute it
    per round (r7: pre-checkpoint, the plan ran 2·(1 + iterations)
    times — twice per symmetrizing union branch, again per join). An
    accumulator-ticking UDF in the edge plan counts actual row
    evaluations: exactly one per edge row across the whole run."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    acc = spark.sparkContext.accumulator(0)

    def _tick(x):
        acc.add(1)
        return x

    tick = F.udf(_tick, LongType())
    base = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["a", "b"]
    )
    edges = base.select(tick("a").alias("id_a"), F.col("b").alias("id_b"))
    out = connected_components(edges, max_iterations=20).collect()
    assert {r["cluster_id"] for r in out} == {0}
    assert acc.value == 6


def test_empty_shingle_docs_never_pair(spark):
    """Docs whose signature-stage shingle set is empty (every MinHash
    null) must produce NO candidate pairs — concat_ws skips nulls, so
    without the null-sig guard they'd all share an '' signature in
    every band and pair with each other (jaccard NULL/1.0 noise), while
    the DuckDB oracle's null-propagating || drops them (review find)."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import near_dup_pairs

    # 'alpha beta gamma delta': every word-3-shingle md5 starts with a
    # hex digit outside keep<1's range, so sig_sample_hex=1 samples the
    # signature sets empty for both docs (reproduces the review repro).
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        ["doc_id", "text"],
    )
    out = near_dup_pairs(df, k=3, sig_sample_hex=1).collect()
    assert out == []

    # Control: same docs without sampling DO pair (the guard must not
    # drop real signatures).
    out2 = near_dup_pairs(df, k=3).collect()
    assert len(out2) == 1 and out2[0]["id_a"] == 1 and out2[0]["id_b"] == 2


def test_cc_error_path_reaps_checkpoint_dirs(spark, tmp_path, monkeypatch):
    """r9 (review find): a failure mid-loop must delete every reliable
    checkpoint dir the run created — previously cleanup only ran on the
    happy path, leaking O(iterations) dirs on the distributed FS.
    Injected by letting the first two checkpoints (edges + initial
    labels) land, then failing the first iteration's checkpoint."""
    import os

    sc = spark.sparkContext
    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    try:
        edges = _path_edges(spark, 6)
        # patch the CONCRETE DataFrame class (pyspark.sql.classic
        # overrides checkpoint — patching the pyspark.sql.DataFrame
        # base never intercepts the call)
        cls = type(edges)
        orig = cls.checkpoint
        calls = {"n": 0}

        def flaky(self, eager=True):
            calls["n"] += 1
            if calls["n"] >= 3:
                raise RuntimeError("injected mid-loop failure")
            return orig(self, eager=eager)

        monkeypatch.setattr(cls, "checkpoint", flaky)
        with pytest.raises(RuntimeError, match="injected"):
            connected_components(edges)
        assert calls["n"] >= 3, "failure was not injected mid-loop"
        rdd_dirs = [
            d
            for _, dirs, _ in os.walk(ckdir)
            for d in dirs
            if d.startswith("rdd-")
        ]
        assert rdd_dirs == [], f"error path leaked checkpoint dirs: {rdd_dirs}"
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )


def test_simhash64_bits_match_md5_reference_and_32bit_prefix(spark):
    """The 64-bit widening (r9): bits 0-31 are each hex digit's high
    bit (nibble & 8), bits 32-63 each digit's SECOND bit (nibble & 4) —
    64 independent md5 bits from one digest per token. Pinned against a
    pure-Python md5 reference, plus the compatibility invariant that
    the first 32 bits equal the 32-bit fingerprint (the ≤32-bit
    expression tree is byte-identical to the attested r2–r8 shape)."""
    import hashlib

    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import simhash_fingerprints

    rows = [(1, "the quick brown fox"), (2, "lorem ipsum dolor sit"), (3, "a b a b a")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def ref_fp(text, bits):
        votes = [0] * bits
        for w in set(text.split(" ")):
            hx = hashlib.md5(w.encode()).hexdigest()
            for i in range(bits):
                nibble = int(hx[i if i < 32 else i - 32], 16)
                votes[i] += 1 if nibble & (8 if i < 32 else 4) else -1
        return "".join("1" if v > 0 else "0" for v in votes)

    got64 = {r.doc_id: r.simhash for r in simhash_fingerprints(df, bits=64).collect()}
    got32 = {r.doc_id: r.simhash for r in simhash_fingerprints(df, bits=32).collect()}
    for i, text in rows:
        assert got64[i] == ref_fp(text, 64)
        assert len(got64[i]) == 64
        assert got64[i][:32] == got32[i]


def test_simhash64_two_band_pigeonhole_finds_hamming1_pair(spark):
    """64-bit × 2-band sizing (the catalog's scale entry): a pair at
    Hamming distance ≤ 1 must share one unchanged 32-bit band and be
    emitted; an unrelated document must not pair with either."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import simhash_near_dup_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "completely different words nothing shared here at all")],
        ["doc_id", "text"],
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup_pairs(df, bits=64, bands=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 0
    assert all({3} & set(k) == set() for k in pairs)


def _cross_fixture_docs():
    """Six docs with word-3-shingle overlap structure spanning both
    parities: (0, 1) and (2, 5) are near-identical cross-parity pairs,
    (1, 3) is a near-identical SAME-parity pair (odd/odd — visible to
    the self-join operator, invisible to the cross operator), and 4 is
    unrelated."""
    a = "the quick brown fox jumps over the lazy dog today again"
    b = "observability budgets grow strictly faster than feature teams expect"
    return [
        (0, a),
        (1, a + " extra"),
        (2, b),
        (3, a + " extra"),
        (4, "totally unrelated corpus filler words with no shared shingles"),
        (5, b + " indeed"),
    ]


def test_cross_pairs_equal_self_pairs_restricted_to_cross_parity(spark):
    """near_dup_pairs_cross(even, odd) at the same banding/threshold
    must emit EXACTLY the self-join operator's pairs that straddle the
    parity split, re-oriented (even, odd) — and none of the same-parity
    ones (the catalog query's documented relationship). And the identity
    the self-join is built on: the cross operator given the same frame
    on both sides, restricted to id_a < id_b, IS the self-join operator,
    with and without the max_bucket guard."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import (
        near_dup_pairs,
        near_dup_pairs_cross,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(_cross_fixture_docs(), ["doc_id", "text"])
    self_pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in near_dup_pairs(df, threshold=0.2).collect()
    }
    want = {
        (p if p % 2 == 0 else q, q if p % 2 == 0 else p): j
        for (p, q), j in self_pairs.items()
        if p % 2 != q % 2
    }
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in near_dup_pairs_cross(
            df.filter(F.col("doc_id") % 2 == 0),
            df.filter(F.col("doc_id") % 2 == 1),
            threshold=0.2,
        ).collect()
    }
    assert (1, 3) in self_pairs or (3, 1) in self_pairs  # same-parity pair exists
    assert got == want and len(got) >= 2

    for max_bucket in (None, 2):
        kw = dict(threshold=0.2, max_bucket=max_bucket)
        one_frame = {
            (r.id_a, r.id_b): r.jaccard
            for r in near_dup_pairs_cross(df, df, **kw).collect()
            if r.id_a < r.id_b
        }
        self_kw = {
            (r.id_a, r.id_b): r.jaccard
            for r in near_dup_pairs(df, **kw).collect()
        }
        assert one_frame == self_kw and len(self_kw) >= 1, max_bucket
    # the guard engages on this fixture: docs 0, 1 and 3 share buckets
    assert self_kw != self_pairs


def test_cross_pairs_overlapping_id_spaces_never_conflate(spark):
    """The two corpora's id spaces may collide: the same doc_id naming
    DIFFERENT text on each side must not be conflated (the verify melt
    keys on (side, id)), while the same id naming near-identical text
    is a legitimate emitted pair."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import near_dup_pairs_cross

    a = "shared sentence of many common words repeated across both sides"
    c = "another long shared sentence that matches exactly on both sides"
    ref = spark.createDataFrame(
        [(1, a), (5, c)], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(1, "entirely different text with zero overlap whatsoever here"),
         (2, a + " suffix"), (5, c)],
        ["doc_id", "text"],
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in near_dup_pairs_cross(ref, new, threshold=0.2).collect()
    }
    assert (1, 2) in got          # cross match under colliding id space
    assert (5, 5) in got and got[(5, 5)] == 1.0  # same id, same text: real pair
    assert (1, 1) not in got      # same id, different text: never conflated


def test_dedup_against_reference_keeps_only_unmatched(spark):
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import dedup_against_reference

    ref_text = "reference corpus document body with plenty of stable words"
    ref = spark.createDataFrame([(100, ref_text)], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(1, ref_text + " tail"),  # near-dup of the reference -> dropped
         (2, "fresh document that shares nothing with the reference set")],
        ["doc_id", "text"],
    )
    kept = sorted(r.doc_id for r in dedup_against_reference(new, ref, threshold=0.2).collect())
    assert kept == [2]


def test_store_probe_equals_cross_recompute(spark, tmp_path, sf_dir):
    """The persisted-reference loop: build_minhash_store(ref) written
    to parquet, then near_dup_pairs_against_store over the store must
    emit exactly near_dup_pairs_cross(ref, new) — the store round-trip
    changes where signatures come from, never the pairs. Uses the real
    documents fixture split 90/10 (the measured asymmetric shape)."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import (
        build_minhash_store,
        near_dup_pairs_against_store,
        near_dup_pairs_cross,
    )

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    store_path = str(tmp_path / "store")
    build_minhash_store(ref).write.parquet(store_path)

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in near_dup_pairs_against_store(
            spark.read.parquet(store_path), new, threshold=0.2
        ).collect()
    }
    want = {
        (r.id_a, r.id_b): r.jaccard
        for r in near_dup_pairs_cross(ref, new, threshold=0.2).collect()
    }
    assert got == want and len(got) >= 1


def test_containment_cross_equals_union_restricted(spark, sf_dir):
    """containment_pairs_cross(even, odd) must equal the self-join
    operator run on the union (the whole fixture) restricted to
    cross-parity pairs re-oriented (even, odd) — the combined-df-cap
    contract that makes the two interchangeable."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import (
        containment_pairs,
        containment_pairs_cross,
    )

    docs = load_table(spark, sf_dir, "documents")
    kw = dict(threshold=0.5, max_df=20)
    self_rows = {}
    for r in containment_pairs(docs, **kw).collect():
        if r.id_a % 2 != r.id_b % 2:
            if r.id_a % 2 == 0:
                self_rows[(r.id_a, r.id_b)] = (
                    r.n_common, r.containment_a, r.containment_b
                )
            else:
                self_rows[(r.id_b, r.id_a)] = (
                    r.n_common, r.containment_b, r.containment_a
                )
    got = {
        (r.id_a, r.id_b): (r.n_common, r.containment_a, r.containment_b)
        for r in containment_pairs_cross(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
            **kw,
        ).collect()
    }
    assert got == self_rows and len(got) >= 1


def test_containment_cross_catches_quote_into_reference(spark):
    """The headline direction: a new doc fully quoted from a reference
    doc pairs at containment_b = 1.0 even though Jaccard is tiny; an
    unrelated new doc does not pair. Overlapping id spaces stay
    separate."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import containment_pairs_cross

    big = " ".join(f"w{i}" for i in range(60))
    quote = " ".join(f"w{i}" for i in range(10, 16))  # 6 words inside big
    ref = spark.createDataFrame([(1, big)], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(1, quote), (2, "entirely different words nothing shared at all here")],
        ["doc_id", "text"],
    )
    rows = {
        (r.id_a, r.id_b): (r.containment_a, r.containment_b)
        for r in containment_pairs_cross(ref, new, threshold=0.7, max_df=20).collect()
    }
    assert (1, 1) in rows and rows[(1, 1)][1] == 1.0  # quote fully contained
    assert all(b != 2 for (_, b) in rows)
