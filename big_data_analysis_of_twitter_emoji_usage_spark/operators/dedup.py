"""Deduplication operators for large-scale training-data pipelines.

The reference has no dedup surface; these are the §7-extension operators,
designed Spark-first for 100 TB:

- ``exact_duplicates``     hash-groupBy on content — one shuffle on a
                           uniformly distributed md5 key (no skew).
- MinHash + LSH            shingle → per-doc signature (map-side partial
                           min-agg) → band → bucket self-join. The join is
                           on band signatures, whose cardinality ~ number
                           of documents — no O(n²) pair blow-up; only
                           within-bucket pairs materialize.
- ``simhash_fingerprints`` 16-bit SimHash; near-dups collide on the
                           fingerprint — dedup becomes a groupBy.

Portability note: every hash is derived from ``md5`` hex strings and the
min-hash order is lexicographic on those strings. MD5 is identical in
Spark and DuckDB, which makes each operator oracle-checkable bit-for-bit
(SURVEY §5.1) — a deliberate choice over xxhash64 (Spark-only). At scale
the md5 cost is dwarfed by the shuffle it feeds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from big_data_analysis_of_twitter_emoji_usage_spark.core import explode_nonempty
from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import _hadoop_fs

HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")  # high bit of a hex digit
HEX_BIT2 = ("4", "5", "6", "7", "c", "d", "e", "f")  # second bit (nibble & 4)


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group identical content, keep the smallest id.

    Returns (text_hash, keeper_id, n_copies). Grouping key is the raw
    content so the hash never false-positives; Catalyst's partial
    aggregation keeps the shuffle at one row per distinct text.
    """
    return (
        df.groupBy(text_col)
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
        .select(
            F.md5(F.col(text_col)).alias("text_hash"),
            "keeper_id",
            "n_copies",
        )
    )


def doc_shingle_arrays(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    unit: str = "word",
) -> DataFrame:
    """Distinct k-gram shingles per document as (id, shingles array).

    ``unit='word'``: k-word shingles over whitespace tokens (the MinHash
    classic); ``unit='char'``: character k-grams (n-gram Jaccard's
    usual unit). Documents shorter than k units are dropped (no
    k-shingle). Built entirely from higher-order array functions — no
    Python, and crucially NO explode/groupBy: the shingle set stays one
    array per row, so everything downstream of the scan is map-side
    until the LSH band join. A document's distinct shingle set is
    bounded by its length, so the array comfortably fits in a row even
    for book-length docs.
    """
    if unit == "char":
        n = F.length(F.col(text_col))
        return (
            df.filter(n >= k)
            .select(
                id_col,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), n - k + 1),
                        lambda i: F.substring(F.col(text_col), i, F.lit(k)),
                    )
                ).alias("shingles"),
            )
        )
    toks = F.split(F.col(text_col), " ")
    return (
        df.select(F.col(id_col), toks.alias("_t"))
        .filter(F.size("_t") >= k)
        .select(
            id_col,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("_t") - k),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(F.col("_t"), i + j + 1) for j in range(k)]
                    ),
                )
            ).alias("shingles"),
        )
    )


def sample_shingles(arr, keep_hex: int):
    """Deterministic hash-mod shingle sampling: keep shingles whose md5
    leads with a hex digit < ``keep_hex`` — i.e. a uniform keep_hex/16
    fraction of the shingle UNIVERSE (not per-doc), so two documents'
    sampled sets are sampled consistently and MinHash over them still
    estimates (sampled-set) Jaccard. One md5 per distinct shingle buys
    num_hashes-fold fewer md5 evaluations downstream — the constant-
    factor lever for short char n-grams, whose distinct sets are ~|doc|
    elements. Mirrored verbatim by the SQL oracle
    (``substr(md5(shingle), 1, 1) < '<hex>'``).

    ``keep_hex`` must be 1..15: the bound is a SINGLE hex digit, so 16
    would format as '10' and the lexicographic single-char comparison
    would keep only digits '0' and '1' — a silent 2/16 sample where the
    caller asked for keep-everything (ADVICE r5). A keep-all request is
    a no-op filter, so ask for that by not sampling."""
    if not 1 <= keep_hex <= 15:
        raise ValueError(
            f"sample_shingles: keep_hex={keep_hex} out of range 1..15 "
            "(single-hex-digit bound; keep_hex=16 would silently keep "
            "2/16 — skip sampling instead of asking for all 16/16)"
        )
    bound = format(keep_hex, "x")
    return F.filter(arr, lambda s: F.substring(F.md5(s), 1, 1) < F.lit(bound))


def doc_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Row-per-shingle view of ``doc_shingle_arrays`` (id, shingle).

    ``explode_nonempty``: the upstream length filter guarantees ≥1
    shingle per row, and inner explode would clone the shingle
    expression into a pre-Generate Filter (core.explode_nonempty)."""
    return doc_shingle_arrays(df, text_col, id_col, k).select(
        id_col, explode_nonempty("shingles").alias("shingle")
    )


MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime permutation modulus)


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients (a_i, b_i) for the
    MinHash permutations, seeded from md5 so both engines bake the SAME
    literals (the lsh_hyperplanes pattern): a_i in [1, P-1] (never 0 —
    a zero multiplier is a constant hash), b_i in [0, P-1]."""
    import hashlib

    def h32(tag: str) -> int:
        return int(hashlib.md5(tag.encode()).hexdigest()[:8], 16)

    return [
        (1 + h32(f"mh-a-{i}") % (MINHASH_P - 1), h32(f"mh-b-{i}") % MINHASH_P)
        for i in range(num_hashes)
    ]


def minhash_signatures(
    shingle_arrays: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
) -> DataFrame:
    """Per-doc MinHash signature over ONE base hash per shingle:
    x = first 8 md5-hex chars as an integer, then
    h_i = min((a_i * x + b_i) mod P) with P = 2^31 - 1 and seeded
    ``minhash_coeffs`` literals.

    Base-hash-plus-permutations is the standard MinHash construction
    (Broder '97; Spark MLlib's MinHashLSH is the same shape), and it is
    the hashing-cost lever: the r1–r7 scheme evaluated md5 ONCE PER
    HASH FUNCTION per shingle (num_hashes × |shingles| digests — the
    measured dominant cost of the char-4-gram query: the 16-hash
    signature stage alone was 3× the whole rest of the plan), where
    this computes one digest per shingle and derives the family with
    integer multiply-add — measured 3.1× faster at 16 hashes / sf0.1,
    and the gap widens with num_hashes. Still pure map-side
    ``array_min(transform(...))`` expression work, no shuffle.

    Portability: md5 is bit-identical in Spark and DuckDB, the hex→int
    conversion (Spark ``conv``, DuckDB ``'0x'||…::BIGINT``) yields the
    same 32-bit value, and the mod-arithmetic operands stay under 2^63
    (a < 2^31, x < 2^32), so ANSI mode never overflows and the oracle
    mirrors bit-for-bit. Base-hash collisions (32-bit space) merge a
    vanishing fraction of shingle pairs CONSISTENTLY across docs —
    candidate recall is unaffected and the verify stage computes exact
    Jaccard over the full shingle sets regardless.
    """
    base = F.transform(
        F.col("shingles"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint"),
    )

    def perm(a: int, b: int):
        return lambda x: (F.lit(a).cast("bigint") * x + F.lit(b)) % F.lit(
            MINHASH_P
        )

    coeffs = minhash_coeffs(num_hashes)
    return shingle_arrays.select(F.col(id_col), base.alias("_x")).select(
        F.col(id_col),
        *[
            F.array_min(F.transform(F.col("_x"), perm(a, b))).alias(f"h{i}")
            for i, (a, b) in enumerate(coeffs)
        ],
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signatures and self-join on (band, band_signature).

    Two docs are candidates iff they agree on every hash of some band —
    the standard LSH S-curve. The self-join is ``band_pairs`` with the
    same band frame on both sides, restricted to ``id_a < id_b``; the
    restriction is pushed into the join condition, so mirrored pairs
    and self-pairs never leave the join. The join key (band, sig) is
    high-cardinality and uniform, so the shuffle partitions evenly; the
    cross-product within a bucket is bounded by bucket size, not n.
    Returns distinct (id_a, id_b) with id_a < id_b.

    ``max_bucket`` is the skew guard: buckets larger than it are dropped
    entirely before the self-join. Degenerate buckets appear whenever
    the min-hashed feature distribution is heavy-headed (short char
    n-grams, boilerplate shingles) and contribute O(bucket²) candidate
    pairs of near-zero information — every production LSH dedup caps or
    samples them. The filter is one window count over the band shuffle,
    deterministic, and mirrored by the SQL oracle.
    """
    bands = signature_bands(
        signatures, id_col, num_hashes, band_size, max_bucket
    )
    return band_pairs(bands, bands, id_col).filter(
        F.col("id_a") < F.col("id_b")
    )


def signature_bands(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """The banding half of ``lsh_candidate_pairs``: (id, band, sig)
    rows of a MinHash signature relation, null signatures dropped,
    optional bucket-size skew guard. Bands are emitted with a single
    ``explode`` over a literal array of (band, sig) structs — one
    generator in one stage, instead of a num_bands-way union that
    schedules num_bands tiny concurrent stages. Band each side
    separately and join them with ``band_pairs``: the self-join, the
    cross-corpus join and the store probe
    (``near_dup_pairs_against_store``,
    ``streaming.jobs.stream_near_dedup_minhash``) all use these rows."""
    n_bands = num_hashes // band_size
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                # ':' separator — integer hash values are variable-width
                # strings, so bare concat would alias (1, 23) with
                # (12, 3); the r1–r7 fixed-width md5-hex sigs didn't
                # need one. concat_ws SKIPS nulls (it never returns
                # null), so an empty-shingle doc — every h_i null —
                # would get sig '' in every band and all such docs
                # would collide into one degenerate bucket; guard on
                # the band's first hash so a null signature stays null
                # (all h_i derive from the same array: null together).
                F.when(
                    F.col(f"h{b * band_size}").isNotNull(),
                    F.concat_ws(
                        ":",
                        *[
                            F.col(f"h{i}").cast("string")
                            for i in range(b * band_size, (b + 1) * band_size)
                        ],
                    ),
                ).alias("sig"),
            )
            for b in range(n_bands)
        ]
    )
    # explode_nonempty: the band array is literal-built (never empty),
    # and inner explode would let InferFiltersFromGenerate clone the
    # CollapseProject-inlined minhash signature expressions — the
    # num_hashes × |shingles| md5 folds — into a pre-Generate Filter
    # that re-evaluates them per row (core.explode_nonempty).
    bands = (
        signatures.select(
            F.col(id_col), explode_nonempty(band_structs).alias("bs")
        )
        .select(
            id_col, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
        )
        # Empty-shingle docs (null signature) can never be candidates —
        # mirrors the SQL oracle, where the null sig drops out of the
        # equi-join on its own.
        .filter(F.col("sig").isNotNull())
    )
    if max_bucket is not None:
        w = Window.partitionBy("band", "sig")
        bands = (
            bands.withColumn("_bc", F.count(F.lit(1)).over(w))
            .filter(F.col("_bc") <= max_bucket)
            .drop("_bc")
        )
    return bands


def band_pairs(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "doc_id",
    keys: tuple[str, ...] = ("band", "sig"),
) -> DataFrame:
    """The LSH band join: distinct (id_a, id_b) for every id_a band row
    of ``a`` and id_b band row of ``b`` that agree on all ``keys``
    (``signature_bands``' (band, sig), ``similarity.signbucket_bands``'
    (_t, _b)). Both sides are renamed before the join, so ``a`` and
    ``b`` may be the same frame and their id spaces may overlap.
    Orientation is (a, b) with no id order; a self-join restricts the
    result to ``id_a < id_b``, which Catalyst pushes into the join. To
    broadcast one side, pass it already wrapped in ``F.broadcast``."""
    return (
        a.select(F.col(id_col).alias("id_a"), *keys)
        .join(b.select(F.col(id_col).alias("id_b"), *keys), list(keys))
        .select("id_a", "id_b")
        .distinct()
    )


def near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.4,
    unit: str = "word",
    max_bucket: int | None = None,
    sig_sample_hex: int | None = None,
    materialize_shingles: bool = False,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact shingle Jaccard.

    Output: (id_a, id_b, jaccard) for pairs with Jaccard >= threshold.
    Two-phase shape: cheap LSH recall, exact precision pass. The
    verification joins the candidate pairs back to the per-doc shingle
    *arrays* (one row per doc) and computes the intersection with
    ``array_intersect`` — so the whole operator is: one scan, one band
    shuffle, two hash joins on doc ids. No row-per-shingle shuffle ever
    happens; at 100 TB the heavy state (shingle sets) moves through the
    joins exactly twice, already aggregated per doc.

    ``sig_sample_hex`` (1–15) turns on hash-mod shingle sampling for the
    SIGNATURE stage only: MinHash runs over a uniform sig_sample_hex/16
    sample of the shingle universe (``sample_shingles``), cutting the
    num_hashes×|shingles| md5 work — the dominant cost for char n-grams
    — by the same factor. MinHash of a consistently-sampled set
    estimates the sampled-set Jaccard, which concentrates around true
    Jaccard, so the LSH S-curve shape is preserved; candidates may
    differ at the margin, but the VERIFY stage still computes exact
    full-set Jaccard, so emitted (pair, jaccard) values are exact and
    precision stays structural. The oracle mirrors the same sampled
    signature stage. ``None`` (the default) keeps ALL shingles — 16/16
    has no keep-all encoding because hex-nibble-mod-16 < 16 is a
    tautology; ``sample_shingles`` rejects values outside 1..15.

    Candidates come from ``lsh_candidate_pairs``: the cross path's
    band join (``band_pairs``) with the signature bands on both sides
    and ``id_a < id_b`` pushed into the join, so every pair is emitted
    once, smaller id first, and ``max_bucket`` counts corpus-global
    bucket occupancy.

    ``materialize_shingles`` lazily ``localCheckpoint``s the per-doc
    shingle relation so its two consumers (signature pass, verify
    melt) compute the k-gram build ONCE instead of re-executing the
    scan→shingle subtree each (every DataFrame consumer re-executes
    its subtree — SCALE.md execution caveat). Worth it when the
    shingle build dominates AND the checkpointed relation stays
    compact — char n-grams, whose expensive kernel feeds a per-DOC
    arrays row (measured 8% faster at the 50k-doc decade, a wash
    under sf0.1 host noise); default OFF for word shingles, where the
    build is cheap and the round trip buys nothing (containment's
    exploded-postings twin measured the checkpoint LOSING 14% at
    500k docs — see containment_pairs). The blocks are non-replicated
    executor-local state: a lost executor under cluster dynamic
    allocation makes them unrecoverable (same caveat as
    ``connected_components``; the checkpoint is lazy, so merely
    building the plan executes nothing).
    """
    arrays = doc_shingle_arrays(df, text_col, id_col, k, unit)
    if materialize_shingles:
        arrays = arrays.localCheckpoint(eager=False)
    sig_arrays = arrays
    if sig_sample_hex is not None:
        sig_arrays = arrays.withColumn(
            "shingles", sample_shingles(F.col("shingles"), sig_sample_hex)
        )
    cand = lsh_candidate_pairs(
        minhash_signatures(sig_arrays, id_col, num_hashes),
        id_col,
        num_hashes,
        band_size,
        max_bucket,
    )
    return verify_pairs_jaccard(cand, arrays, id_col, threshold)


def verify_pairs_jaccard(
    cand: DataFrame,
    arrays: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.4,
) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs
    against a per-doc shingle-array relation — the precision half of
    ``near_dup_pairs``, exposed separately (r9) so the incremental
    streaming variant can verify micro-batch candidates against the
    union of batch + history shingle state. Returns
    (id_a, id_b, jaccard) for pairs at or above ``threshold``.

    Verify via pair-melt (r6): the r1–r5 shape joined the candidate
    pairs against TWO aliases of the shingle relation, so the
    map-side shingle computation ran twice over the full corpus (and
    three times counting the signature pass). Melting each pair into
    (pair, member) rows lets ONE pass over the shingle relation serve
    both sides. At 100 TB this halves the heavy-array join traffic:
    the shingle relation is scanned/computed once, the only added
    exchange carries |candidates| two-array rows."""
    melted = cand.select(
        "id_a",
        "id_b",
        explode_nonempty(F.array(F.col("id_a"), F.col("id_b"))).alias("_vid"),
    )
    sh = arrays.select(
        F.col(id_col).alias("_vid"), F.col("shingles").alias("_sh")
    )
    return _jaccard_tail(
        melted.join(sh, "_vid"),
        F.col("_vid") == F.col("id_a"),
        F.col("_vid") == F.col("id_b"),
        threshold,
    )


def _jaccard_tail(
    joined: DataFrame, is_a: Column, is_b: Column, threshold: float
) -> DataFrame:
    """Aggregate, threshold and output shared by both Jaccard verifies:
    ``joined`` holds one (id_a, id_b, _sh) row per pair member, and
    ``is_a`` / ``is_b`` pick out each member's shingle array."""
    # Intersect INSIDE the aggregate's result expressions (r7): the
    # previous shape emitted (_sha, _shb) arrays from the agg and
    # computed array_intersect in a downstream projection — but the
    # threshold Filter gets pushed through that Project with the alias
    # substituted, so the O(|A|+|B|) intersect ran once in the Filter
    # and again in the surviving rows' Project (measured 1.5 s of the
    # 5.1 s total at sf0.1). Emitting the intersection/union SIZES as
    # aggregate outputs makes them Aggregate attributes the Filter
    # cannot be rewritten past — the set arithmetic runs exactly once
    # per pair, and everything downstream is integer math.
    _sha = F.first(F.when(is_a, F.col("_sh")), ignorenulls=True)
    _shb = F.first(F.when(is_b, F.col("_sh")), ignorenulls=True)
    paired = joined.groupBy("id_a", "id_b").agg(
        F.size(F.array_intersect(_sha, _shb)).alias("_i"),
        (F.size(_sha) + F.size(_shb)).alias("_sz"),
    )
    jac = F.col("_i") / (F.col("_sz") - F.col("_i"))
    return (
        paired.filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def _verify_pairs_jaccard_cross(
    cand: DataFrame,
    ref_arrays: DataFrame,
    new_arrays: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.4,
) -> DataFrame:
    """``verify_pairs_jaccard`` for candidates whose two members live in
    DIFFERENT relations (id_a in ``ref_arrays``, id_b in
    ``new_arrays``). The melt keys are (side, id) pairs rather than bare
    ids because the two corpora's id spaces may overlap — the same
    doc_id can name different documents on each side and must never be
    conflated. Same plan shape as the self-join verify: each corpus's
    shingle relation is scanned exactly once, the set arithmetic runs
    inside the pair aggregate (a boundary the threshold Filter cannot
    be rewritten past), and everything downstream is integer math.
    It stays a separate melt from the self verify: run on one frame,
    the (side, id) melt would union the shingle relation with itself
    and scan it twice."""
    melted = cand.select(
        "id_a",
        "id_b",
        explode_nonempty(
            F.array(
                F.struct(F.lit(0).alias("s"), F.col("id_a").alias("i")),
                F.struct(F.lit(1).alias("s"), F.col("id_b").alias("i")),
            )
        ).alias("_m"),
    ).select(
        "id_a",
        "id_b",
        F.col("_m.s").alias("_s"),
        F.col("_m.i").alias("_i_key"),
    )
    sh = ref_arrays.select(
        F.lit(0).alias("_s"),
        F.col(id_col).alias("_i_key"),
        F.col("shingles").alias("_sh"),
    ).unionAll(
        new_arrays.select(
            F.lit(1).alias("_s"),
            F.col(id_col).alias("_i_key"),
            F.col("shingles").alias("_sh"),
        )
    )
    return _jaccard_tail(
        melted.join(sh, ["_s", "_i_key"]),
        F.col("_s") == 0,
        F.col("_s") == 1,
        threshold,
    )


def near_dup_pairs_cross(
    ref_df: DataFrame,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.4,
    unit: str = "word",
    max_bucket: int | None = None,
) -> DataFrame:
    """Cross-corpus MinHash-LSH near-dup pairs: (id_a, id_b, jaccard)
    where id_a ∈ ``ref_df``, id_b ∈ ``new_df``, and exact shingle
    Jaccard ≥ ``threshold``. The batch primitive behind "dedupe the new
    crawl against the existing corpus" / "drop training documents that
    near-match an eval set at the document level" — the self-join entry
    point (``near_dup_pairs``) cannot express it without unioning the
    corpora and re-filtering, which re-pays signatures over the
    (typically huge) reference side's self-pairs and breaks when the
    id spaces overlap. MinHash coefficients are deterministic
    (``minhash_coeffs`` literals), so both sides band into the SAME
    signature space — a reference corpus's signatures can equivalently
    be precomputed and persisted (that persisted form IS the streaming
    twin's store: ``streaming.jobs.stream_near_dedup_minhash``).

    Scale shape: one scan + one band shuffle per corpus, the candidate
    equi-join on (band, sig) (``band_pairs``), then the cross verify
    (each corpus's shingle relation scanned once, set math inside the
    pair aggregate). Neither corpus ever self-joins — at 100 TB of
    reference the reference side contributes exactly one signature
    pass + one columnar band join, no n² term.

    Contract: the pair orientation is (reference, new) with no id
    order. The id spaces may overlap: the verify keys members by
    (side, id), so the same id naming different documents is never
    conflated, and the same id naming near-identical documents is a
    legitimate pair, not a self-match. ``max_bucket`` caps degenerate
    band buckets PER SIDE (each side's own occupancy), bounding a
    both-sides-hot band value's candidate fan-out at max_bucket²; the
    oracle mirrors per-side capping. ``near_dup_pairs`` is this band
    join run on one frame and restricted to ``id_a < id_b``; there the
    per-side occupancy is the corpus occupancy.
    """
    ref_arrays = doc_shingle_arrays(ref_df, text_col, id_col, k, unit)
    new_arrays = doc_shingle_arrays(new_df, text_col, id_col, k, unit)

    def bands(arrays: DataFrame) -> DataFrame:
        return signature_bands(
            minhash_signatures(arrays, id_col, num_hashes),
            id_col,
            num_hashes,
            band_size,
            max_bucket,
        )

    cand = band_pairs(bands(ref_arrays), bands(new_arrays), id_col)
    return _verify_pairs_jaccard_cross(
        cand, ref_arrays, new_arrays, id_col, threshold
    )


def build_minhash_store(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
    unit: str = "word",
) -> DataFrame:
    """Per-document dedup state, computed once for persistence:
    (id, shingles, h0..h{num_hashes-1}). Write this to parquet and
    every later dedup-against-this-corpus run skips the corpus's
    shingle+signature pass entirely — the r9 asymmetric three-arm
    measurement (SCALE.md) found that WITHOUT reuse the cross operator
    buys nothing over a union self-join (the reference signature pass
    dominates both, 6.7 vs 5.8 s at 450k×50k), while probing a
    persisted store runs 2.67 s — 2.2×, growing with the
    reference/arrival ratio. The layout is byte-compatible with
    ``streaming.jobs.stream_near_dedup_minhash``'s accumulating store
    (which builds exactly this state per micro-batch): a batch-built
    reference store can seed the streaming twin and vice versa.
    MinHash coefficients are deterministic (``minhash_coeffs``), so
    stores built in different sessions share one signature space."""
    arrays = doc_shingle_arrays(df, text_col, id_col, k, unit)
    return arrays.join(
        minhash_signatures(arrays, id_col, num_hashes), id_col
    )


def near_dup_pairs_against_store(
    store_df: DataFrame,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.4,
    unit: str = "word",
) -> DataFrame:
    """``near_dup_pairs_cross`` with the reference side already in
    ``build_minhash_store`` form (typically ``spark.read.parquet`` of a
    persisted store): (id_a, id_b, jaccard) with id_a from the store,
    id_b from ``new_df``. Per run this computes shingles + signatures
    for the ARRIVAL only; the store contributes two columnar scans
    (h-columns for the band probe, shingles for the verify) — the
    measured deployment arm of the asymmetric dedup loop, and the
    exact per-trigger plan of the streaming twin. The shingle
    parameters (``k``/``unit``) must match the store's build — they are
    baked into the stored arrays. No ``max_bucket``: occupancy counted
    against a store-vs-arrival split diverges from the corpus-global
    guard (same contract as the streaming twin). Orientation and the
    overlapping-id contract are ``near_dup_pairs_cross``'s, and so is
    the band join (``band_pairs``); the arrival's bands enter it
    wrapped in ``F.broadcast`` (arrival ≪ store is this operator's
    premise — same shape as the streaming twin's per-trigger probe).
    For comparable-sized corpora use ``near_dup_pairs_cross``, whose
    band join lets AQE pick the strategy."""
    new_arrays = doc_shingle_arrays(new_df, text_col, id_col, k, unit)
    cand = band_pairs(
        signature_bands(store_df, id_col, num_hashes, band_size),
        F.broadcast(
            signature_bands(
                minhash_signatures(new_arrays, id_col, num_hashes),
                id_col,
                num_hashes,
                band_size,
            )
        ),
        id_col,
    )
    return _verify_pairs_jaccard_cross(
        cand, store_df.select(id_col, "shingles"), new_arrays, id_col, threshold
    )


def dedup_against_reference(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.4,
    unit: str = "word",
    max_bucket: int | None = None,
) -> DataFrame:
    """Keep the ``new_df`` rows with NO near-dup partner in ``ref_df``
    (the decision step over ``near_dup_pairs_cross``): one anti-join of
    the new corpus against the matched-id set. The reference corpus is
    read-only — cross dedup never drops reference documents."""
    matched = near_dup_pairs_cross(
        ref_df,
        new_df,
        text_col,
        id_col,
        k,
        num_hashes,
        band_size,
        threshold,
        unit,
        max_bucket,
    ).select(F.col("id_b").alias(id_col)).distinct()
    return new_df.join(matched, id_col, "left_anti")


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    unit: str = "word",
    threshold: float = 0.7,
    max_df: int = 20,
) -> DataFrame:
    """Asymmetric containment near-dup pairs: the dedup mode Jaccard
    misses. When a small document A is quoted/embedded inside a much
    larger B, Jaccard(A, B) ≈ |A|/|B| → 0 while containment
    C(A in B) = |S_A ∩ S_B| / |S_A| ≈ 1 — so MinHash-LSH (tuned for
    symmetric resemblance) never surfaces the pair. Training-data
    pipelines need this direction to catch boilerplate wrappers,
    quote-expansions, and subset scrapes.

    Candidate generation is posting-list (prefix-filter family, à la
    ppjoin) rather than MinHash banding: shingles with document
    frequency > ``max_df`` are dropped as *stop shingles* (they carry
    no containment signal and each contributes O(df²) candidate
    pairs — same role as ``max_bucket`` in the LSH operators, mirrored
    by the oracle), and the surviving postings self-join through a
    per-shingle member list. Both containment directions of every
    co-posting pair are computed EXACTLY over the kept (informative)
    shingles; output rows are pairs where either direction clears
    ``threshold``: (id_a, id_b, n_common, containment_a,
    containment_b) with id_a < id_b.

    100 TB shape: the postings relation shuffles on the shingle key
    twice (df count with map-side partial agg, then the semi-join that
    co-partitions on the same key; the join leg gets AQE skew-split,
    which is why the cap is a join and not a window) and every
    downstream buffer is bounded by ``max_df`` — the collect_list runs
    AFTER the df cut, so no degenerate shingle can balloon an
    aggregation buffer; candidate volume is ≤ max_df · |kept
    postings|, never O(n²). Pair counting is one more uniform-key
    shuffle. Per-doc kept-shingle sizes ride ALONG the pipeline (a
    doc-key window on the capped postings, then carried through the
    member structs into the pair rows) instead of being re-derived and
    self-joined twice: the r7-initial shape consumed ``sizes`` once per
    containment direction, and since each consumer of a DataFrame
    re-executes its subtree, the whole scan→shingle→cap pipeline ran
    ~6× per query (12 parquet scans in the formatted plan; AQE's
    broadcast joins defeat ReusedExchange dedup). The restructure cuts
    that to the irreducible 2 (df pass + join probe; 4 scan nodes
    counting AQE's re-printed subplans) — measured 2.6 → 2.2 s at
    sf0.1, where map work is cheap; at 100 TB the win is the pass
    count, 6 corpus-scans → 2. The doc-key window is skew-safe: its
    partition is one document's kept shingles, bounded by document
    length.

    The postings relation is recomputed for its two consumers (df
    count, join probe) rather than checkpointed: a lazy
    ``localCheckpoint`` of it measured 10% faster at sf0.1 but 14%
    slower at 500k docs (SCALE.md), because the exploded relation is
    one row per shingle instance.
    """
    postings = doc_shingle_arrays(df, text_col, id_col, k, unit).select(
        id_col, explode_nonempty("shingles").alias("shingle")
    )
    kept_n = _capped_postings(postings, max_df, id_col)
    # sort_array on (id, n) structs orders by id (unique per list), so
    # pair orientation id_a < id_b matches the plain-id sort it replaces.
    members = kept_n.groupBy("shingle").agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), F.col("_n").alias("n"))
            )
        ).alias("_ms")
    )
    # Ordered pairs from each sorted member list, map-side — each pair
    # row carries BOTH docs' kept-shingle counts, so no sizes join is
    # needed downstream. The size>=2 filter is load-bearing twice over:
    # singleton shingles produce no pairs, and F.sequence(1, 0) would
    # be a DESCENDING [1, 0] sequence (Spark auto-negates the step),
    # not an empty one.
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("_ms") - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.size("_ms")),
                lambda j: F.struct(
                    F.element_at(F.col("_ms"), i)["id"].alias("a"),
                    F.element_at(F.col("_ms"), j)["id"].alias("b"),
                    F.element_at(F.col("_ms"), i)["n"].alias("na"),
                    F.element_at(F.col("_ms"), j)["n"].alias("nb"),
                ),
            ),
        )
    )
    return _containment_tail(
        members.filter(F.size("_ms") >= 2), pair_structs, threshold
    )


def _capped_postings(
    postings: DataFrame, max_df: int, *doc_keys: str
) -> DataFrame:
    """The stop-shingle cap shared by both containment operators: drop
    shingles with document frequency above ``max_df``, then attach each
    document's kept-shingle count ``_n`` (a window over ``doc_keys``)."""
    # df pass FIRST, membership collection second: computing
    # collect_list before the cap would buffer a df-10M stop shingle's
    # whole posting list in one aggregation buffer.
    keep = (
        postings.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("shingle")
    )
    return postings.join(keep, "shingle").withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy(*doc_keys))
    )


def _containment_tail(
    members: DataFrame, pair_structs: Column, threshold: float
) -> DataFrame:
    """Expand ``pair_structs`` (a, b, na, nb) over the per-shingle
    member rows, count shared shingles per pair and keep pairs where
    either containment direction clears ``threshold``."""
    pairs = members.select(explode_nonempty(pair_structs).alias("_p")).select(
        F.col("_p.a").alias("id_a"),
        F.col("_p.b").alias("id_b"),
        F.col("_p.na").alias("_na"),
        F.col("_p.nb").alias("_nb"),
    )
    # _na/_nb are functionally determined by (id_a, id_b); keeping them
    # as grouping keys (constant within each group) preserves map-side
    # partial aggregation with no first()/max() indirection.
    inter = pairs.groupBy("id_a", "id_b", "_na", "_nb").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    cont_a = F.col("n_common") / F.col("_na")
    cont_b = F.col("n_common") / F.col("_nb")
    return (
        inter.filter(F.greatest(cont_a, cont_b) >= threshold)
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.round(cont_a, 6).alias("containment_a"),
            F.round(cont_b, 6).alias("containment_b"),
        )
    )


def containment_pairs_cross(
    ref_df: DataFrame,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    unit: str = "word",
    threshold: float = 0.7,
    max_df: int = 20,
) -> DataFrame:
    """Cross-corpus containment pairs: (id_a ∈ ``ref_df``, id_b ∈
    ``new_df``, n_common, containment_a, containment_b) where either
    containment direction clears ``threshold`` — the contamination
    question Jaccard-based cross dedup cannot ask: "is this new
    document quoted from / embedded in some reference document (or
    vice versa)?". Same posting-list machinery as ``containment_pairs``
    with one structural change: per-shingle member lists are collected
    PER SIDE and pairs expand reference-member × new-member only, so
    neither corpus pays its own self-pairs.

    The stop-shingle df cap is computed over the COMBINED corpora —
    deliberately identical to running the self-join operator on the
    union (a shingle's informativeness doesn't depend on which side it
    lives in), which makes this operator exactly the union run
    restricted to cross pairs (pinned by the unit tests, mirrored by
    the oracle). The cost of that exactness: the reference's df pass
    re-runs per arrival. A reference-only persisted stop-list would
    amortize it but CHANGES semantics near the cap (a shingle at
    df 15 in the reference crosses max_df=20 once arrivals add 6
    more) — left out until measurement justifies the approximation.
    Member keys are (side, id) structs internally, so overlapping id
    spaces never conflate; the ``kept_n`` window partitions by (side,
    id) and stays bounded by document length.

    It shares the df-capped postings and the score tail with
    ``containment_pairs`` but not the pair expansion: run on
    ``(df, df)`` the combined cap would count every posting twice and
    change which shingles survive, and the product expansion would
    emit each pair in both orientations."""
    arrays_r = doc_shingle_arrays(ref_df, text_col, id_col, k, unit)
    arrays_n = doc_shingle_arrays(new_df, text_col, id_col, k, unit)
    postings = arrays_r.select(
        F.lit(0).alias("_s"),
        F.col(id_col),
        explode_nonempty("shingles").alias("shingle"),
    ).unionAll(
        arrays_n.select(
            F.lit(1).alias("_s"),
            F.col(id_col),
            explode_nonempty("shingles").alias("shingle"),
        )
    )
    kept_n = _capped_postings(postings, max_df, "_s", id_col)
    member = F.struct(F.col(id_col).alias("id"), F.col("_n").alias("n"))
    members = kept_n.groupBy("shingle").agg(
        F.collect_list(F.when(F.col("_s") == 0, member)).alias("_ma"),
        F.collect_list(F.when(F.col("_s") == 1, member)).alias("_mb"),
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("_ma"),
            lambda a: F.transform(
                F.col("_mb"),
                lambda b: F.struct(
                    a["id"].alias("a"),
                    b["id"].alias("b"),
                    a["n"].alias("na"),
                    b["n"].alias("nb"),
                ),
            ),
        )
    )
    return _containment_tail(
        members.filter((F.size("_ma") >= 1) & (F.size("_mb") >= 1)),
        pair_structs,
        threshold,
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components by iterative min-label propagation: every
    node ends up labeled with the smallest node id reachable from it.
    This turns near-dup *pairs* into dedup *clusters* (keep min id per
    cluster, drop the rest) — the step after any pairwise dedup.

    The genuinely iterative operator in the engine (the class of
    algorithm SQL can't express non-recursively): a driver-coordinated
    loop of distributed steps. Each iteration is one join + one
    aggregate on (node, label); a per-round checkpoint truncates the
    plan lineage so iteration N doesn't replan/recompute iterations
    0..N-1 — without it the DAG doubles per round. The checkpoint is
    RELIABLE (``.checkpoint()``, executor-loss-safe) when the session
    has ``sparkContext.setCheckpointDir`` configured, else the fast
    executor-local ``localCheckpoint`` (r8 — see the inline comment
    for the fault-tolerance trade). Converges in O(diameter)
    rounds; near-dup graphs have tiny diameters, so the loop exits on
    the no-change check almost immediately. If the iteration budget is
    exhausted before fixpoint (a >``max_iterations``-diameter graph),
    the result's labels are not yet components — that is surfaced with
    a ``warnings.warn`` rather than returned silently.

    Convergence is read off the SAME pass that updates labels (r7):
    each row carries a ``_chg`` bit (labels only ever decrease, so
    change == strictly-smaller), materialized by the round's
    ``localCheckpoint`` job; the follow-up ``max(_chg)`` is a cheap
    scan of the checkpointed partitions. The r1–r6 shape re-joined the
    new labels against the old per round — a second distributed join
    job per iteration that existed only to answer "did anything
    change?".
    """
    import warnings

    # Materialize the edge relation ONCE (r7): ``edges`` is usually the
    # tail of an expensive pipeline (MinHash/LSH candidate generation +
    # exact verify), and it is consumed MANY times — twice by the
    # symmetrizing union (each union branch is an independent execution
    # of the input plan), then by every propagation round's join.
    # Without this checkpoint the whole upstream pair plan re-executed
    # from the scan up 2·(1 + iterations) times; recomputation of this
    # kind never shows in any single action's .explain, because each
    # job's plan is individually optimal. Measured at sf0.1:
    # dedup_keep_best 5.3 s → 2.3 s. The checkpointed state is
    # O(|pairs|) two-id rows — the near-dup subset, tiny relative to
    # the corpus — so its executor-storage FOOTPRINT is safe at any
    # scale. Two deliberate costs of eager localCheckpoint, accepted
    # here and owed to callers: (1) merely BUILDING this DataFrame
    # (explain, schema checks, plan tests) executes the whole upstream
    # pair pipeline — intended for this iterative operator, whose
    # construction is inseparable from running the loop anyway, but a
    # surprise for plan-only tooling; (2) localCheckpoint blocks are
    # NON-REPLICATED executor-local state — on a real cluster a lost
    # executor (failure OR dynamic-allocation scale-in) makes them
    # unrecoverable and fails the job. r8: when the session has a
    # RELIABLE checkpoint dir configured
    # (sparkContext.setCheckpointDir — distributed-FS backed,
    # executor-loss-safe), the loop honors it and uses .checkpoint()
    # instead, paying the FS round trip per iteration for
    # fault-tolerant lineage truncation; with no dir set it keeps the
    # fast executor-local path (right for local mode and
    # static-allocation clusters that accept the retry-the-job
    # failure mode).
    sc = edges.sparkSession.sparkContext
    reliable = sc.getCheckpointDir() is not None

    # Reliable-path file hygiene: Spark never deletes .checkpoint()
    # data unless spark.cleaner.referenceTracking.cleanCheckpoints is
    # enabled (default false) AND the RDD is GC'd, so an O(iterations)-
    # checkpoints-per-run loop would leak checkpoint dirs unboundedly
    # on the distributed FS (review find). Each superseded iteration's
    # files are deleted as soon as the NEXT eager checkpoint
    # materializes (its lineage is then self-contained); a created dir
    # is identified EXACTLY from the checkpointed RDD's own
    # getCheckpointFile (r9 — replaces the r8 listing-diff, which could
    # attribute a CONCURRENT checkpointing thread's rdd-N dir to this
    # call and delete it while live). Only the FINAL labels checkpoint
    # survives: it backs the returned DataFrame. The loop body runs
    # under try/except so a mid-iteration failure (job error during an
    # agg/first or a checkpoint) deletes every dir this run created
    # instead of leaking them on the distributed FS (r9; a dir whose
    # .checkpoint() call itself died mid-write is Spark's own
    # task-cleanup domain and is not tracked here).
    def _delete_ckpt_dirs(paths: set) -> None:
        if not (reliable and paths):  # local path tracks no dirs
            return
        for p in paths:
            fs, hpath = _hadoop_fs(edges.sparkSession, p)
            fs.delete(hpath, True)

    tracked: set = set()  # live reliable-checkpoint dirs this run created

    def ckpt(df: DataFrame) -> tuple[DataFrame, set]:
        """Checkpoint ``df`` eagerly; also return the set of checkpoint
        dirs the call created (empty on the local path). The dir comes
        from the checkpointed LogicalRDD itself — race-free and exact,
        no directory-listing diff."""
        if not reliable:
            return df.localCheckpoint(eager=True), set()
        out = df.checkpoint(eager=True)
        opt = out._jdf.queryExecution().logical().rdd().getCheckpointFile()
        dirs = {opt.get()} if opt.isDefined() else set()
        tracked.update(dirs)
        return out, dirs

    def _drop(paths: set) -> None:
        _delete_ckpt_dirs(paths)
        tracked.difference_update(paths)

    try:
        e, e_dirs = ckpt(
            edges.select(F.col(src).alias("n"), F.col(dst).alias("m"))
        )
        sym = e.unionAll(
            e.select(F.col("m").alias("n"), F.col("n").alias("m"))
        )
        labels, labels_dirs = ckpt(
            sym.groupBy("n").agg(F.min("m").alias("lbl"))
            .select("n", F.least("n", "lbl").alias("lbl"))
        )
        for _ in range(max_iterations):
            lbl_of_m = labels.select(
                F.col("n").alias("_mn"), F.col("lbl").alias("_mlbl")
            )
            neighbor_min = (
                sym.join(lbl_of_m, sym["m"] == F.col("_mn"))
                .groupBy("n")
                .agg(F.min("_mlbl").alias("_nlbl"))
            )
            new_labels = (
                labels.join(neighbor_min, "n", "left")
                .select(
                    "n",
                    F.least("lbl", F.coalesce("_nlbl", "lbl")).alias("_new"),
                    "lbl",
                )
                .select(
                    "n",
                    F.col("_new").alias("lbl"),
                    (F.col("_new") < F.col("lbl")).cast("int").alias("_chg"),
                )
            )
            new_labels, new_dirs = ckpt(new_labels)
            changed = new_labels.agg(F.max("_chg")).first()[0]
            # the new checkpoint is materialized and self-contained — the
            # previous iteration's files are dead weight from here
            _drop(labels_dirs)
            labels, labels_dirs = new_labels.drop("_chg"), new_dirs
            if not changed:
                break
        else:
            warnings.warn(
                f"connected_components exhausted max_iterations="
                f"{max_iterations} before converging: returned labels are "
                "an under-merged approximation (graph diameter exceeds "
                "the budget)",
                RuntimeWarning,
                stacklevel=2,
            )
        # the loop is the edge checkpoint's only consumer; the returned
        # labels are backed solely by their own (final) checkpoint
        _drop(e_dirs)
    except BaseException:
        # error path: nothing is returned, so every dir this run created
        # (including the current labels checkpoint) is dead — reap them
        # instead of leaking O(iterations) dirs on the distributed FS
        _delete_ckpt_dirs(tracked)
        raise
    return labels.select(
        F.col("n").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


def keep_best_per_cluster(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Cluster-aware dedup keeper policy: group near-dup *pairs* into
    clusters (``connected_components``), then keep the highest-quality
    document of each cluster (ties → smallest id). This is the decision
    step real curation pipelines run after fuzzy dedup — "drop
    duplicates" is actually "keep the best copy, drop the rest".

    ``docs`` is (id, quality); quality is any orderable numeric (token
    count, a model score, …). Documents in no pair are their own
    singleton cluster and keep themselves.

    Scale shape: the CC loop and the keeper argmax run only on the
    near-dup SUBSET (nodes that appear in ``pairs`` — tiny relative to
    the corpus); the corpus itself sees two broadcast hash joins and
    never shuffles. Output: (id, cluster_id, keeper_id, is_keeper), one
    row per input document.
    """
    clusters = connected_components(pairs).select(
        F.col("doc_id").alias(id_col), "cluster_id"
    )
    # keeper per real cluster: argmax(quality, tie smallest id) over the
    # clustered subset only — max(struct) keeps the agg a single pass.
    clustered = docs.join(F.broadcast(clusters), id_col)
    keepers = (
        clustered.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(
                    F.col(quality_col).alias("q"),
                    (-F.col(id_col)).alias("neg_id"),
                )
            ).alias("_best")
        )
        .select("cluster_id", (-F.col("_best.neg_id")).alias("keeper_id"))
    )
    return (
        docs.join(F.broadcast(clusters), id_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
        .join(F.broadcast(keepers), "cluster_id", "left")
        .withColumn("keeper_id", F.coalesce("keeper_id", F.col(id_col)))
        .select(
            id_col,
            "cluster_id",
            "keeper_id",
            (F.col(id_col) == F.col("keeper_id")).cast("long").alias("is_keeper"),
        )
    )


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """SimHash over distinct word tokens, as a '0'/'1' string.

    Bit i of a token (i < 32) is the HIGH bit (nibble & 8) of hex digit
    i of md5(token); bits 32–63 draw the SECOND bit (nibble & 4) of hex
    digit i - 32 — 64 independent md5 bits from ONE digest per token,
    so widening costs no extra hashing. The fingerprint bit is the sign
    of the +1/-1 vote sum. String encoding (rather than an int) keeps
    the operator portable to the SQL oracle at any width — there is no
    signed-bigint ceiling to dodge. Returns (doc_id, simhash). Group
    equal fingerprints to find near-dups.

    Sizing at scale (the r9 third-decade measurement, SCALE.md): band
    value space 2^(bits/bands) must stay ≥ corpus size, or the
    max_bucket guard starts dropping typical-occupancy buckets and
    recall decays — 32-bit × 2-band sizing measurably hits that wall
    at ~5M docs (mean occupancy 76 vs guard 64). 64-bit × 2-band gives
    2^32 band values (occupancy ~0.001 at 5M docs) while the bands-1
    pigeonhole still covers Hamming ≤ 1.

    Computed as a PURE PROJECTION: a single ``aggregate`` folds each
    token's md5 into a ``bits``-wide vote array (``zip_with`` add), so
    the whole fingerprint is one map-side pass with NO shuffle — vs. the
    naive explode → groupBy(16 sums), which shuffles every (doc, token)
    row. The vote array is threaded through one lambda accumulator so
    each token's hash is computed exactly once, not once per bit.
    The ≤32-bit expression tree is kept byte-identical to the r2–r8
    shape (no constant-true width branch in the per-token lambda), so
    attested 16/32-bit plans are unchanged.
    """
    assert bits <= 64
    hashes = F.transform(
        F.array_distinct(F.split(F.col(text_col), " ")), lambda w: F.md5(w)
    )
    if bits <= 32:
        def _tok_votes(h):
            return F.transform(
                F.sequence(F.lit(1), F.lit(bits)),
                lambda i: F.when(
                    F.substring(h, i, F.lit(1)).isin(*HEX_HIGH), F.lit(1)
                ).otherwise(F.lit(-1)),
            )
    else:
        def _tok_votes(h):
            return F.transform(
                F.sequence(F.lit(1), F.lit(bits)),
                lambda i: F.when(
                    F.when(
                        i <= F.lit(32),
                        F.substring(h, i, F.lit(1)).isin(*HEX_HIGH),
                    ).otherwise(
                        F.substring(h, i - F.lit(32), F.lit(1)).isin(
                            *HEX_BIT2
                        )
                    ),
                    F.lit(1),
                ).otherwise(F.lit(-1)),
            )
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(acc, _tok_votes(h), lambda a, b: a + b),
    )
    simhash = F.concat_ws(
        "",
        F.transform(
            votes, lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0"))
        ),
    )
    return df.select(F.col(id_col), simhash.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    bands: int = 2,
    max_hamming: int = 1,
    max_bucket: int | None = 64,
) -> DataFrame:
    """SimHash near-dup pairs: band the fingerprints, bucket-join, then
    verify Hamming distance — completing the SimHash pipeline the same
    way ``near_dup_pairs`` completes MinHash.

    Banding guarantee (pigeonhole): any pair within Hamming distance
    ``bands - 1`` shares at least one unchanged band, so with the
    defaults every pair at distance ≤ 1 is found; more distant pairs
    surface only if their flips cluster in one band. Sizing rule
    (measured through three document decades, SCALE.md): band value
    space 2^(bits/bands) must stay ≥ corpus size or ``max_bucket``
    starts dropping typical buckets and recall decays — 16-bit × 2
    collapses at ~500k docs, 32-bit × 2 at ~5M. The catalog's
    scale entry is ``bits=64, bands=2`` (2^32 band values, the
    measured fix for the 5M-doc boundary); ``max_bucket`` stays
    mandatory in spirit at every width, bounding the self-join at
    O(bucket²) on corpora beyond the width's regime.

    Plan (r12 shape): fingerprints are a pure projection; one explode
    emits the (band, sig) rows WITH the full fingerprint carried
    through, so the bucket equi-join — the only corpus shuffle — hands
    the verify both strings directly and the two broadcast join-backs
    to the fingerprint table are gone from the plan (each re-ran the
    md5-fold kernel over the corpus). The Hamming verify itself is
    ``bit_count(xor)`` over the ``conv``-packed 32-bit chunks of the
    two fingerprints — whole-stage-codegen arithmetic, replacing the
    r9 interpreted higher-order ``filter`` that evaluated 2·bits
    ``substring`` calls per candidate row (measured at sf0.1: the
    64-bit pair query went 3.22 → 1.10 s, the 32-bit 1.43 → 0.85 s,
    bit-identical results). Carrying the fingerprint widens the
    shuffled row by ``bits`` chars — far cheaper than two extra
    corpus-wide kernel passes; the dedup is deferred to one DISTINCT
    over the (narrow) verified output, identical row set because the
    fingerprint is functionally dependent on the id. Returns
    (id_a, id_b, hamming), hamming ≤ ``max_hamming``.
    """
    assert bits % bands == 0
    width = bits // bands
    fps = simhash_fingerprints(df, text_col, id_col, bits)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.substring("simhash", b * width + 1, width).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    # explode_nonempty: literal band array (never empty); inner explode
    # would clone the inlined simhash substrings into a pre-Generate
    # Filter (core.explode_nonempty).
    bcols = fps.select(
        F.col(id_col), F.col("simhash"), explode_nonempty(band_structs).alias("bs")
    ).select(
        id_col,
        "simhash",
        F.col("bs.band").alias("band"),
        F.col("bs.sig").alias("sig"),
    )
    if max_bucket is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "sig")
        bcols = (
            bcols.withColumn("_bc", F.count(F.lit(1)).over(w))
            .filter(F.col("_bc") <= max_bucket)
            .drop("_bc")
        )

    def _hamming(sa, sb):
        # '0'/'1' strings compared in ≤32-char chunks: conv(·,2,10)
        # packs a chunk into a long (32 bits always fits — no signed-
        # bigint edge), xor + bit_count counts the differing positions
        terms = []
        for off in range(0, bits, 32):
            wlen = min(32, bits - off)
            ca = F.conv(F.substring(sa, off + 1, wlen), 2, 10).cast("long")
            cb = F.conv(F.substring(sb, off + 1, wlen), 2, 10).cast("long")
            terms.append(F.bit_count(ca.bitwiseXOR(cb)).cast("long"))
        out = terms[0]
        for x in terms[1:]:
            out = out + x
        return out

    a, b_ = bcols.alias("a"), bcols.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            _hamming(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
