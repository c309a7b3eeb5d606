"""Similarity search over embedding columns (array<float>).

Extension operators (SURVEY §7.7): brute-force cosine top-k as the exact
baseline, and a hyperplane-sign LSH bucketed variant as the scale path.

Scale design: the query set is broadcast (it is small by construction —
you search for k neighbors of a handful of probes, or you bucket first),
so the big side streams through a map-side join with no shuffle of the
corpus. All arithmetic is JVM-side higher-order functions
(``zip_with`` + ``aggregate``) in double precision — no Python, no UDF.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_analysis_of_twitter_emoji_usage_spark.core import as_col, explode_nonempty


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# Unrolling cap for _dot_d: past this width the literal expression tree
# risks the janino 64 KB method cliff (the same failure mode the
# hyperplane-signature docstring records), where codegen falls back to
# interpreted anyway — so wider vectors just keep the HOF dot.
_UNROLL_DIM_CAP = 512


# Probe memo keyed on (appId, file set incl. per-file mtime+size,
# column) — same idiom as core._SCAN_PARTITIONS_CACHE: for a fixed
# file-backed input the width never changes, so repeated operator
# calls (the bench's min-of-N, a probe loop over a persisted index)
# pay the LIMIT-1 job once. The mtime/size stamp (r13, ADVICE r12)
# invalidates on in-place overwrites with a different vector width —
# results were already safe (per-row guard) but the fast path would
# silently degrade to the HOF fallback on every row. Never caches a
# None (an empty relation may gain rows later); FIFO-bounded so a
# long-lived application probing many transient stores cannot grow it
# without limit.
_PROBE_DIM_CACHE: dict[tuple, int] = {}
_PROBE_DIM_CACHE_MAX = 512

# The measured crossover for the unrolled dot's NET win (r12 per-site
# A/B table + the r13 pair-only narrowing): engagements at
# corpus×corpus candidate volumes (~1.5M+ scored pairs at the fixture)
# win ~1.4–2×; query-kNN / LSH-bucketed volumes (tens of thousands)
# lose — the fatter expression tree's planning + codegen/JIT weight
# exceeds the per-row saving, and every big generated class also taxes
# the REST of a many-query session (the measured knn_join_emb
# collateral). 1e6 sits between the measured win (≥1.5M) and loss
# (≤250k in-context) regimes.
_UNROLL_MIN_EST_PAIRS = 1_000_000


def _est_rows(df: DataFrame, dim: int) -> int | None:
    """Plan-time row-count estimate from Catalyst's optimized-plan
    ``sizeInBytes`` statistic divided by the estimated vector-row width
    — no Spark job, no data read. For file-backed relations the
    statistic is the real file size; for computed subtrees the default
    (non-CBO) estimation propagates sizes upward multiplicatively
    through joins, i.e. it OVER-estimates — which only ever errs toward
    engaging the unroll, the measured-good default for this operator's
    corpus×corpus callers. Returns None when stats are absent or
    degenerate (the optimizer's "unknown" defaults)."""
    try:
        b = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        b = b if isinstance(b, int) else int(b.toString())
    except Exception:
        return None
    if b <= 0 or b >= (1 << 60):  # unknown / Long.MaxValue-ish defaults
        return None
    return max(1, b // (8 * dim + 16))


def _unroll_pair_gate(
    left: DataFrame,
    postings: DataFrame,
    nprobe: int,
    dim: int,
    n_lists: int | None = None,
    gate_corpus: DataFrame | None = None,
    gate_replication: int = 1,
) -> bool:
    """Principled engagement rule for the unrolled dot at the IVF
    join's candidate-pair stage (r13, VERDICT r12 #7): engage iff the
    ESTIMATED scored-pair volume — |left| · |postings| · nprobe/n_lists
    from plan-time statistics — clears the measured crossover, instead
    of inheriting a fixture-tuned constant. ``n_lists`` comes from the
    caller when known (``cosine_knn_join_ivf`` passes its own
    parameter); otherwise the shipped 24-list geometry is assumed.

    The postings row count comes from, in order: ``gate_corpus`` ×
    ``gate_replication`` when the caller still holds the RAW indexed
    corpus (the inline join does — its stats are real file sizes,
    where the built postings subtree's default non-CBO stats are
    join-inflated by orders of magnitude); the postings relation's own
    stats when plausible (the persisted-index probe shape — postings
    read back from parquet carry true file sizes); else unknown. When
    either side is unknown the measured-good default for this
    operator's shipped corpus×corpus callers (engage) is kept — the
    gate exists to protect SMALL probes from the fat plan, so it only
    disengages on confident evidence (the forced-HOF A/B at the small
    volume measured a wash standalone; declining there buys back the
    session-wide codegen tax, the r12 knn_join_emb collateral)."""
    lr = _est_rows(left, dim)
    pr = None
    if gate_corpus is not None:
        cr = _est_rows(gate_corpus, dim)
        pr = cr * max(1, gate_replication) if cr is not None else None
    if pr is None:
        pr = _est_rows(postings, dim)
        if pr is not None and pr > 1_000_000_000:
            pr = None  # non-CBO join-product blowup: not evidence
    if lr is None or pr is None:
        return True
    frac = min(1.0, nprobe / float(n_lists or 24))
    return lr * pr * frac >= _UNROLL_MIN_EST_PAIRS


def _file_stamps(df: DataFrame, files: list) -> tuple:
    """(path, mtime, size) stamps for a plan's input files via ONE
    Hadoop listStatus per distinct parent dir — no Spark job. Paths
    are matched on their URI *path* component: ``inputFiles()`` URIs
    (``file:///…``) and Hadoop ``Path.toString()`` (``file:/…``) spell
    the same file differently. Files missing from their dir listing
    (concurrently deleted) stamp as (path, None, None), which still
    keys deterministically."""
    from urllib.parse import unquote, urlparse

    def _norm(p: str) -> str:
        u = urlparse(p)
        return unquote(u.path) if u.scheme else p

    sc = df.sparkSession.sparkContext
    hconf = sc._jsc.hadoopConfiguration()
    jvm = sc._jvm
    stat: dict[str, tuple] = {}
    parents = {}
    for f in files:
        parents.setdefault(f.rsplit("/", 1)[0], []).append(f)
    for parent in parents:
        p = jvm.org.apache.hadoop.fs.Path(parent)
        fs = p.getFileSystem(hconf)
        for s in fs.listStatus(p):
            sp = _norm(s.getPath().toString())
            stat[sp] = (s.getModificationTime(), s.getLen())
    return tuple(
        (f, *stat.get(_norm(f), (None, None))) for f in sorted(files)
    )


def _probe_dim(df: DataFrame, vec_col: str) -> int | None:
    """One-row probe of a vector column's width, used to pick the
    codegen-unrolled dot (``_dot_d``) at plan-build time. Returns None
    (→ HOF dot, the old plan) on an empty relation, a NULL/empty
    vector, a width past ``_UNROLL_DIM_CAP``, or any probe failure —
    the probe is a pure FAST-PATH decision and can never change
    results (``_dot_d`` guards per row). Costs one ``first()`` job
    over a single-column projection (LIMIT 1 — the scan stops at the
    first row), memoized for file-backed inputs."""
    key = None
    try:
        files = df.inputFiles()
        if files:
            key = (
                df.sparkSession.sparkContext.applicationId,
                vec_col,
                _file_stamps(df, files),
            )
            cached = _PROBE_DIM_CACHE.get(key)
            if cached is not None:
                return cached
    except Exception:
        key = None
    try:
        r = df.select(F.size(_as_double(as_col(vec_col))).alias("_d")).first()
    except Exception:
        return None
    if r is None or r[0] is None or not (0 < r[0] <= _UNROLL_DIM_CAP):
        return None
    if key is not None:
        if len(_PROBE_DIM_CACHE) >= _PROBE_DIM_CACHE_MAX:
            _PROBE_DIM_CACHE.pop(next(iter(_PROBE_DIM_CACHE)))
        _PROBE_DIM_CACHE[key] = int(r[0])
    return int(r[0])


def _dot_d(a: "Column | str", b: "Column | str", dim: int | None) -> Column:
    """``_dot`` with a codegen fast path for vectors of a known width
    (r12): the HOF dot is CodegenFallback — every pair-scoring stage
    pays an interpreted fold per candidate — while the literal-unrolled
    ``a[0]·b[0] + a[1]·b[1] + …`` is whole-stage-codegen arithmetic
    (measured 2.1× on the IVF kNN join's candidate stage at sf0.1,
    2.7M candidates × dim 64). Bit-identical by construction: the
    unrolled sum adds left-to-right in exactly the fold's order (the
    fold's leading ``0.0 + x`` is IEEE-exact), and rows whose arrays
    do not BOTH have width ``dim`` take the interpreted fold via the
    per-row CASE guard. The fast path engages only when BOTH operands
    are column NAMES: the whole guarded expression is then rendered as
    ONE SQL string for ``F.expr`` — a first cut that assembled it from
    ``getItem``/``+``/``*`` Column objects cost ~190 py4j round trips
    per dot site and measurably blew up DataFrame BUILD time (the
    knn_ivf catalog query went 2.3 → 8.5 s, all of it driver-side
    construction). ``dim=None`` (unprobed/over-cap) or Column operands
    keep the HOF dot unchanged."""
    if dim is None or not (isinstance(a, str) and isinstance(b, str)):
        return _dot(as_col(a), as_col(b))
    qa, qb = f"`{a}`", f"`{b}`"
    # The leading `0.0 +` seed mirrors the fold's ((0.0+t0)+t1)+…
    # EXACTLY, including zero signs (r13, ADVICE r12): without it an
    # all-(-0.0)-terms row returns -0.0 where the fold returns +0.0 —
    # invisible after rounding-to-nonzero but not strictly
    # bit-identical. For every other input the extra add is exact.
    terms = " + ".join(f"({qa}[{i}] * {qb}[{i}])" for i in range(dim))
    return F.expr(
        f"CASE WHEN size({qa}) = {dim} AND size({qb}) = {dim} "
        f"THEN CAST(0.0 AS DOUBLE) + {terms} "
        f"ELSE aggregate(zip_with({qa}, {qb}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) END"
    )


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    """Cosine similarity of two array<double> columns, JVM-side.

    NULL (not an error) when either vector has zero magnitude: cosine
    is undefined there, and under Spark 4's default ANSI mode a plain
    division would raise DIVIDE_BY_ZERO and kill the whole job on one
    bad row — the classic single-poison-row failure at scale. Null
    drops through every consumer's threshold filter and sorts after
    all real scores in the top-k rank windows (desc puts nulls last).
    """
    return F.try_divide(
        _dot_d(a, b, dim), F.sqrt(_dot_d(a, a, dim) * _dot_d(b, b, dim))
    )


def cosine_with_norms(
    a: Column,
    b: Column,
    na: Column,
    nb: Column,
    dim: int | None = None,
) -> Column:
    """``cosine`` with the self-dot-products precomputed per SIDE
    instead of per PAIR (r10): ``na``/``nb`` must be ``_dot(a, a)`` /
    ``_dot(b, b)`` computed on the pre-join relations. Bit-identical to
    ``cosine`` — the norm columns are the same ``aggregate(zip_with)``
    expressions over the same arrays, and ``sqrt(na * nb)`` multiplies
    the same doubles in the same order — but the pair stage evaluates
    ONE interpreted-HOF dot instead of three. The dot HOFs are
    CodegenFallback (same janino story as the hyperplane signatures),
    so on candidate-scoring joins the two self-dots were ~2/3 of the
    hot stage: measured at sf0.1 (min-of-3 warm, noop), the IVF kNN
    join's ~1.3M-candidate plan dropped 12.7 → 5.0 s, the LSH kNN
    join 7.1 → 2.8 s, brute-force kNN 0.77 → 0.41 s (SCALE.md r10).
    Applied to every pair-scoring stage in this module and the
    streaming embedding-dedup verify."""
    return F.try_divide(_dot_d(a, b, dim), F.sqrt(na * nb))


def _as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def cosine_knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Broadcast-join the (small) query set against the corpus, score every
    pair, keep k per query with a rank window partitioned by query —
    partitions are independent, so the window never sees more than one
    query's scores. Self-matches are excluded. Ties break on neighbor id
    (identical vectors produce bit-identical cosines, so the tiebreak is
    deterministic).

    Returns (query_id, neighbor_id, rank, cosine) with cosine rounded to
    6 decimals for cross-engine comparability.
    """
    # dim=None (HOF dot): the unrolled fast path measurably LOSES here
    # at fixture scale — the per-query candidate volume is too small to
    # amortize the fatter plan (interleaved A/B table, OPTIMIZATION_r12)
    dim = None
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    # per-side self-norms (bit-identical; cosine_with_norms): the
    # corpus norm is computed n times, not n x |q| times
    q_n = q.withColumn("_qn", _dot_d("qv", "qv", dim))
    c_n = c.withColumn("_cn", _dot_d("cv", "cv", dim))
    scored = (
        c_n.join(F.broadcast(q_n), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_with_norms(
                "qv", "cv", F.col("_qn"), F.col("_cn"), dim
            ).alias("_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("_cos", 6).alias("cosine"),
        )
    )


def sign_bucket(vec: Column, bits: int = 6, offset: int = 0) -> Column:
    """Axis-hyperplane LSH bucket: the sign pattern of ``bits``
    dimensions starting at ``offset``, as a '0'/'1' string.

    A production variant uses random hyperplanes (dot with seeded
    gaussian vectors); axis-aligned planes keep the operator portable to
    the SQL oracle while exercising the identical plan shape. Distinct
    ``offset`` slices give independent hash tables (band-style LSH).

    Requires ``size(vec) >= offset + bits`` — table t of a multi-table
    caller reads dims [t*bits, (t+1)*bits), so ``tables * bits`` must
    not exceed the embedding dimension. Out-of-range dims would
    otherwise yield ``element_at`` nulls that silently collapse every
    short vector into one degenerate bucket; instead the row errors.
    """
    chars = [
        F.when(F.element_at(vec, offset + i + 1) > 0, "1").otherwise("0")
        for i in range(bits)
    ]
    needed = offset + bits
    return F.when(F.size(vec) >= needed, F.concat(*chars)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"sign_bucket: vector has fewer than {needed} dims "
                    f"(offset={offset} + bits={bits}); got size="
                ),
                F.size(vec).cast("string"),
            )
        )
    )


def auto_sign_bits(
    n_rows: int,
    target_occupancy: int = 8,
    min_bits: int = 4,
    max_bits: int = 24,
) -> int:
    """The bits ~ log₂(n / occupancy) sizing rule, in code (r8).

    Sign-LSH bucket granularity must GROW with the corpus: at fixed
    bits, expected occupancy is n / 2^bits, and once it passes the
    ``max_bucket`` skew guard EVERY typical bucket is guard-dropped —
    recall collapses to zero silently (measured at the r7 decade sweep:
    the 8-bit fixture operating point returned 0 pairs at 200k
    vectors, while the rule's 16-bit point recovered recall 0.845 at
    precision 1.0; SCALE.md "Measured scaling"). This derives the
    operating point from the corpus size so the same caller code holds
    across decades: ceil(log2(n / target_occupancy)), clamped to
    [min_bits, max_bits] (max_bits=24 matches the documented LUT guard
    of the vectorized signature path).
    """
    import math

    raw = math.ceil(
        math.log2(max(1.0, float(n_rows) / max(1, target_occupancy)))
    )
    return max(min_bits, min(max_bits, raw))


def _warn_if_buckets_collapse(
    n_rows: int, bits: int, max_bucket: int | None, op: str
) -> None:
    """Surface the silent-0-rows regime: expected bucket occupancy
    beyond the skew guard means typical buckets get dropped wholesale."""
    import warnings

    if max_bucket is not None and n_rows / float(1 << bits) > max_bucket:
        warnings.warn(
            f"{op}: expected bucket occupancy "
            f"{n_rows / float(1 << bits):.0f} (n={n_rows}, bits={bits}) "
            f"exceeds max_bucket={max_bucket} — the skew guard will drop "
            "typical buckets and recall will collapse toward zero. Raise "
            "bits (or target_occupancy/table budget) or max_bucket.",
            RuntimeWarning,
            stacklevel=3,
        )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    bits: int | None = None,
    tables: int = 1,
    max_bucket: int | None = None,
    target_occupancy: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) for
    pairs sharing a sign-LSH bucket in ANY of ``tables`` hash tables,
    with cosine >= ``threshold``.

    The dedup variant of similarity search, shaped exactly like MinHash
    banding: each vector emits one (table, bucket) row per hash table
    (table t keys on dimensions [t*bits, (t+1)*bits)); the self-join on
    that compound key is the only shuffle, and the pair space is
    sum(bucket²) per table instead of n². Scale knobs (all mirrored by
    the SQL oracle):

    - ``bits`` sets bucket granularity: 2^bits buckets per table. Size
      it so the expected bucket is O(corpus / 2^bits) rows — at 100 TB,
      bits must GROW with the corpus or per-bucket self-joins go
      quadratic (the r1 default of 4 bits = 16 buckets was flagged
      exactly for this).
    - ``tables`` buys back the recall that finer buckets cost: a true
      near-dup pair (cosine near 1) agrees on most sign patterns, so
      the probability it shares at least one of T independent tables
      approaches 1 — the classic multi-table LSH S-curve.
    - ``max_bucket`` is the skew guard (mirrors dedup.lsh_candidate_pairs):
      degenerate buckets — e.g. an all-positive head region of the
      embedding space — are dropped before the join, capping any single
      bucket's contribution at O(max_bucket²) pairs.

    Candidate pairs are distinct-ed, then scored by joining each side
    back to its vector — two hash joins on ids, same verified-candidates
    shape as near_dup_pairs.

    ``bits=None`` (the r8 default) applies the sizing rule in code:
    one cheap count + first-row dim probe derives
    ``auto_sign_bits(n, target_occupancy)``, further capped at
    dim // tables (the coordinate-sign structural budget — table t
    reads dims [t·bits, (t+1)·bits)), and warns if even the capped
    point implies occupancy past ``max_bucket`` (the silent-0-rows
    regime; the capped scheme's escape hatch is
    ``embedding_near_dup_pairs_hyperplane``, whose mixed-coordinate
    tables have no dim cap). The two jobs run at plan-BUILD time —
    explicit ``bits`` skips both and bakes a static operating point
    (what the catalog queries do, so their DuckDB oracles can bake the
    same literals).
    """
    if bits is None:
        n_rows = corpus.count()
        # first NON-NULL vector: under the non-ANSI default size(NULL)
        # is NULL, so probing the literal first row would int(None) on
        # a corpus whose first scanned row has a null embedding.
        row = (
            corpus.filter(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)).alias("d"))
            .first()
        )
        dim = int(row["d"]) if row is not None else 64
        bits = min(
            auto_sign_bits(n_rows, target_occupancy),
            max(1, dim // max(1, tables)),
        )
        _warn_if_buckets_collapse(
            n_rows, bits, max_bucket, "embedding_near_dup_pairs"
        )
    e = corpus.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
    )
    table_structs = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                sign_bucket(F.col("_v"), bits, offset=t * bits).alias("b"),
            )
            for t in range(tables)
        ]
    )
    # explode_nonempty: table_structs is a literal-built array (never
    # empty), and inner explode would let InferFiltersFromGenerate clone
    # the CollapseProject-inlined bucket expressions into a pre-Generate
    # Filter (see core.explode_nonempty).
    buckets = e.select(
        F.col("_id"), explode_nonempty(table_structs).alias("_tb")
    ).select("_id", F.col("_tb.t").alias("_t"), F.col("_tb.b").alias("_b"))
    return _banded_pairs_cosine_verify(e, buckets, threshold, max_bucket)


def _banded_pairs_cosine_verify(
    e: DataFrame,
    buckets: DataFrame,
    threshold: float,
    max_bucket: int | None,
    dim: int | None = None,
) -> DataFrame:
    """Shared tail of the embedding near-dup family: optional
    degenerate-bucket skew guard, then IN-BAND verification (r9) —
    vectors are attached to the surviving band rows by ONE id join and
    the per-(table, bucket) self-join scores each candidate in place;
    only pairs that PASS the threshold reach the final dedupe
    aggregate. ``e`` is (_id, _v double-array); ``buckets`` is
    (_id, _t, _b).

    Why this replaced the candidates-distinct → two-id-joins shape
    (measured at the 100× embedding decade, 200k vectors / 15 auto
    bits / 6 tables, same session A/B): the multi-table candidate set
    is effectively duplicate-free THERE (6,652,598 raw vs 6,649,554
    distinct — chance pairs almost never agree in two 15-bit tables),
    so the old pre-verify ``distinct`` was a full 6.6M-row exchange
    that removed 0.05% of rows, and the two id joins re-shuffled the
    corpus + candidates again to fetch vectors the band rows had
    already seen. In-band: 14.57 s vs 19.20 s (identical 560,705
    pairs), and the sf0.1 gate configs measure the same-or-better
    (SCALE.md r9). The dedupe that IS still needed — a true near-dup
    pair agreeing in several tables — moves AFTER the threshold,
    where it aggregates only the surviving pairs (560k, not 6.6M) and
    duplicate scores are bit-identical so ``max`` is exact. The trade
    is band-shuffle width (rows carry the 64-dim vector); at
    dimensions far past ~10³, or table counts high enough to make the
    dup factor material, the re-join shape wins again — re-measure
    before reusing this tail there."""
    if max_bucket is not None:
        w = Window.partitionBy("_t", "_b")
        buckets = (
            buckets.withColumn("_bc", F.count(F.lit(1)).over(w))
            .filter(F.col("_bc") <= max_bucket)
            .drop("_bc")
        )
    # per-side self-norms ride the band rows so the verify join pays
    # one interpreted-HOF dot per candidate, not three (bit-identical;
    # cosine_with_norms)
    bv = buckets.join(
        e.withColumn("_n", _dot_d("_v", "_v", dim)), "_id"
    )
    aa = bv.select(
        "_t",
        "_b",
        F.col("_id").alias("id_a"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    bb = bv.select(
        "_t",
        "_b",
        F.col("_id").alias("id_b"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    return (
        aa.join(bb, ["_t", "_b"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_with_norms(
                "_va", "_vb", F.col("_na"), F.col("_nb"), dim
            ).alias("_cos"),
        )
        .filter(F.col("_cos") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.round(F.max("_cos"), 6).alias("cosine"))
    )


def embedding_near_dup_pairs_hyperplane(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    bits: int | None = None,
    tables: int = 6,
    dim: int = 64,
    nnz: int = 16,
    max_bucket: int | None = None,
    target_occupancy: int = 8,
) -> DataFrame:
    """Embedding near-dup pairs over seeded sparse-Rademacher
    HYPERPLANE projections — the documented upgrade path past
    ``embedding_near_dup_pairs``' coordinate-sign scheme.

    Coordinate-sign tables key on disjoint stored dimensions, so a
    64-dim corpus caps the table budget at dim/bits independent tables
    (4 at 16 bits — the structural recall ceiling the r7 planted-twin
    experiment measured at 0.845; SCALE.md "Measured scaling"). Here
    every bit mixes ``nnz`` coordinates drawn from ALL dims
    (``lsh_hyperplanes`` — the same seeded schedule ``cosine_knn_
    sign_lsh`` banded on), so tables stay near-independent at ANY
    count: recall is bought with ``tables``, granularity with ``bits``
    (size 2^bits to corpus/2^bits ≈ target occupancy), and the two
    knobs no longer compete for the 64 stored dims.

    Plan shape is identical to the coordinate-sign variant — one
    Arrow-batched signature projection (``_hyperplane_sigs_udf``; see
    its docstring for the measured 10× JVM-expression dead ends), a
    posexplode to (table, sig) band rows, and the shared
    guard + self-join + exact-cosine verify tail — so the banded join
    remains the only shuffle and the skew guard caps any degenerate
    bucket at O(max_bucket²) pairs. The coefficient schedule is baked
    into both the Spark plan and the SQL oracle as literals
    (plans.catalog), with the schedule-order summation contract keeping
    buckets bit-identical across engines.

    ``bits=None`` (the r8 default) derives the operating point from a
    cheap build-time corpus count via ``auto_sign_bits`` — with no
    dim // tables cap, since hyperplane tables draw from all stored
    dims — and warns when the point still implies occupancy past
    ``max_bucket``. Explicit ``bits`` skips the count (the catalog
    query does this so its oracle can bake the schedule literals).
    """
    if bits is None:
        n_rows = corpus.count()
        bits = auto_sign_bits(n_rows, target_occupancy)
        _warn_if_buckets_collapse(
            n_rows, bits, max_bucket, "embedding_near_dup_pairs_hyperplane"
        )
    planes = lsh_hyperplanes(bits, tables, dim, nnz)
    sig_udf = _hyperplane_sigs_udf(planes, dim)
    e = corpus.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
    )
    buckets = e.select(
        "_id", F.posexplode(sig_udf(F.col("_v"))).alias("_t", "_b")
    )
    # HOF dot (dim not forwarded): the unrolled fast path measured a
    # LOSS on this verify at fixture candidate volume (A/B table,
    # OPTIMIZATION_r12); re-engage per call when pair volume is large
    return _banded_pairs_cosine_verify(e, buckets, threshold, max_bucket)


def _banded_pairs_cosine_verify_cross(
    ea: DataFrame,
    buckets_a: DataFrame,
    eb: DataFrame,
    buckets_b: DataFrame,
    threshold: float,
    max_bucket: int | None,
    dim: int | None = None,
) -> DataFrame:
    """``_banded_pairs_cosine_verify`` for two DISTINCT corpora: the
    (table, bucket) join runs reference-side × new-side instead of
    self-join, with no ``id_a < id_b`` canonicalization (orientation is
    (reference, new); overlapping id spaces are legitimate — sides are
    kept in separate relations end to end, so the same id on both
    sides can pair and is never conflated). ``max_bucket`` guards each
    side's buckets independently, bounding a both-sides-hot bucket's
    fan-out at max_bucket² (same per-side rule as
    ``dedup.near_dup_pairs_cross``). In-band verify as the self-join
    tail: vectors ride the band rows, only threshold survivors reach
    the final dedupe aggregate."""

    def guard(buckets: DataFrame) -> DataFrame:
        if max_bucket is None:
            return buckets
        w = Window.partitionBy("_t", "_b")
        return (
            buckets.withColumn("_bc", F.count(F.lit(1)).over(w))
            .filter(F.col("_bc") <= max_bucket)
            .drop("_bc")
        )

    ea_n = ea.withColumn("_n", _dot_d("_v", "_v", dim))
    eb_n = eb.withColumn("_n", _dot_d("_v", "_v", dim))
    aa = guard(buckets_a).join(ea_n, "_id").select(
        "_t",
        "_b",
        F.col("_id").alias("id_a"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    bb = guard(buckets_b).join(eb_n, "_id").select(
        "_t",
        "_b",
        F.col("_id").alias("id_b"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    return (
        aa.join(bb, ["_t", "_b"])
        .select(
            "id_a",
            "id_b",
            cosine_with_norms(
                "_va", "_vb", F.col("_na"), F.col("_nb"), dim
            ).alias("_cos"),
        )
        .filter(F.col("_cos") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.round(F.max("_cos"), 6).alias("cosine"))
    )


def embedding_near_dup_pairs_cross(
    ref: DataFrame,
    new: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    bits: int | None = None,
    tables: int = 1,
    max_bucket: int | None = None,
    target_occupancy: int = 8,
) -> DataFrame:
    """Cross-corpus embedding near-dup pairs: (id_a, id_b, cosine) with
    id_a ∈ ``ref``, id_b ∈ ``new``, sharing a sign-LSH bucket in any
    table at cosine ≥ ``threshold`` — the embedding-space twin of
    ``dedup.near_dup_pairs_cross`` (semantic dedup of a new embedding
    batch against a read-only reference corpus: new crawl vs existing
    corpus, train vs eval in embedding space). The coordinate-sign
    bucket schedule is deterministic, so both corpora hash into the
    SAME bucket space — a reference corpus's (table, bucket) relation
    can equivalently be precomputed and persisted, and the per-arrival
    cost is one signature pass over the new batch + one band join
    (O(|ref|·|new|) bucket products, never the reference self-join).

    ``bits=None`` sizes the code width from the COMBINED corpus count
    (the union is the occupancy universe the buckets must spread), dim
    from a reference-side probe, capped at dim // tables as in the
    self-join variant."""
    if bits is None:
        n_rows = ref.count() + new.count()
        row = (
            ref.filter(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)).alias("d"))
            .first()
        )
        dim = int(row["d"]) if row is not None else 64
        bits = min(
            auto_sign_bits(n_rows, target_occupancy),
            max(1, dim // max(1, tables)),
        )
        _warn_if_buckets_collapse(
            n_rows, bits, max_bucket, "embedding_near_dup_pairs_cross"
        )

    def prep(corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
        e = corpus.select(
            F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
        )
        table_structs = F.array(
            *[
                F.struct(
                    F.lit(t).alias("t"),
                    sign_bucket(F.col("_v"), bits, offset=t * bits).alias("b"),
                )
                for t in range(tables)
            ]
        )
        buckets = e.select(
            F.col("_id"), explode_nonempty(table_structs).alias("_tb")
        ).select("_id", F.col("_tb.t").alias("_t"), F.col("_tb.b").alias("_b"))
        return e, buckets

    ea, buckets_a = prep(ref)
    eb, buckets_b = prep(new)
    return _banded_pairs_cosine_verify_cross(
        ea, buckets_a, eb, buckets_b, threshold, max_bucket
    )


def build_signbucket_store(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    tables: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """Per-vector semantic-dedup state, computed once for persistence:
    (id, _v double-array, _n self-norm, b0..b{tables-1} sign-bucket
    codes) — the embedding twin of ``dedup.build_minhash_store`` and
    byte-compatible with ``streaming.jobs.stream_near_dedup_embedding``'s
    accumulating store (which builds exactly this per micro-batch).
    ``bits`` / ``tables`` are baked into the stored codes: probes must
    use the SAME values, and re-bucketing means rebuilding the store
    (the persisted-LSH-index contract). The coordinate-sign schedule is
    deterministic, so stores built in different sessions share one
    bucket space.

    ``_n`` (r11) is the vector's self-dot, stored at build time for the
    same reason ``build_ivf_index`` stores ``_cn``: a dedup store is
    probed for its whole lifetime, and a probe that recomputes
    ``_dot(_v,_v)`` pays one interpreted-HOF pass over the ENTIRE
    accumulated history per probe — at trickle-against-deep-history
    that recompute was the dominant verify term (measured, SCALE.md).
    Probes use a stored ``_n`` when present and fall back to computing
    it for pre-r11 stores."""
    # _v is projected first so the self-norm can reference it by NAME —
    # the string form is what lets _dot_d render its codegen-unrolled
    # fast path as one F.expr (the two Projects collapse in the plan)
    return df.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("_v")
    ).select(
        F.col(id_col),
        F.col("_v"),
        _dot_d("_v", "_v", dim).alias("_n"),
        *[
            sign_bucket(F.col("_v"), bits, offset=t * bits).alias(f"b{t}")
            for t in range(tables)
        ],
    )


def embedding_near_dup_against_store(
    store_df: DataFrame,
    new_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    tables: int = 2,
    threshold: float = 0.4,
) -> DataFrame:
    """``embedding_near_dup_pairs_cross`` with the reference side
    already in ``build_signbucket_store`` form: (id_a, id_b, cosine)
    with id_a from the store, id_b from ``new_df``. Computes buckets
    for the ARRIVAL only; the store contributes two columnar scans
    (code columns for the band probe, the vector column for the
    candidates) — the batch form of the streaming twin's per-trigger
    probe, and the persisted-reference loop the asymmetric three-arm
    measurement (SCALE.md, text twin) showed is where cross dedup's
    win actually lives. The arrival's bands are broadcast
    (arrival ≪ store is the premise); no ``max_bucket`` (store-split
    occupancy diverges from the corpus-global guard)."""

    def bands(df: DataFrame) -> DataFrame:
        structs = F.array(
            *[
                F.struct(F.lit(t).alias("t"), F.col(f"b{t}").alias("b"))
                for t in range(tables)
            ]
        )
        return df.select(
            F.col(id_col), explode_nonempty(structs).alias("_tb")
        ).select(id_col, F.col("_tb.t").alias("_t"), F.col("_tb.b").alias("_b"))

    new_state = build_signbucket_store(new_df, id_col, vec_col, bits, tables)
    bcols = [f"b{t}" for t in range(tables)]
    cand = (
        bands(store_df.select(id_col, *bcols))
        .select(F.col(id_col).alias("id_a"), "_t", "_b")
        .join(
            F.broadcast(
                bands(new_state.select(id_col, *bcols)).select(
                    F.col(id_col).alias("id_b"), "_t", "_b"
                )
            ),
            ["_t", "_b"],
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # stored self-norm when the store has one (r11 schema); compute as
    # the pre-r11 fallback — recomputing is one HOF pass over the whole
    # store per probe, exactly the tax the stored column removes
    dim = None  # unrolled dot loses at this probe's candidate volume
    _na = (
        F.col("_n")
        if "_n" in store_df.columns
        else _dot_d("_v", "_v", dim)
    )
    va = store_df.select(
        F.col(id_col).alias("id_a"),
        F.col("_v").alias("_va"),
        _na.alias("_na"),
    )
    vb = new_state.select(
        F.col(id_col).alias("id_b"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine_with_norms(
                "_va", "_vb", F.col("_na"), F.col("_nb"), dim
            ).alias("_cos"),
        )
        .filter(F.col("_cos") >= threshold)
        .select("id_a", "id_b", F.round("_cos", 6).alias("cosine"))
    )


def cosine_knn_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    bits: int = 4,
    tables: int = 18,
    dim: int = 64,
    nnz: int = 16,
    max_bucket: int | None = None,
) -> DataFrame:
    """ANN kNN JOIN: for EVERY left row, the top-``k`` cosine neighbors
    among the right rows that share a hyperplane-LSH bucket in any
    table — (left_id, right_id, rank, cosine). The operator class the
    query-set kNNs (``cosine_knn_*``) don't cover: those broadcast a
    small query set against the corpus, which stops working when the
    "query set" IS a second corpus (aligning two datasets, attaching
    nearest-neighbor labels/captions, retrieval-augmenting every
    training document). Both sides band into the shared seeded
    sparse-Rademacher signature space (``lsh_hyperplanes`` — the SAME
    schedule ``cosine_knn_sign_lsh`` bands on) and the candidate stage
    is a per-side-guarded (table, bucket) equi-join — one scan + one
    band shuffle per corpus, candidates bounded by bucket products,
    never |L|×|R|.

    The signature scheme is a MEASURED choice, not a default carried
    over: this operator first shipped on the dedup family's
    coordinate-sign buckets at 8 bits × 2 tables and measured
    **recall@3 = 0.025** against brute-force cross top-3 on the
    fixture — a near-dup operating point finds near-DUPLICATES, while
    a kNN join must find merely-nearest neighbors (cosine ≈ 0.4–0.6 on
    a structure-free corpus), whose per-table bucket-agreement
    probability at 8 bits is a few percent. Recall there is bought
    with TABLE COUNT, which coordinate-sign caps at dim/bits; the
    hyperplane schedule has no such cap, and ``cosine_knn_sign_lsh``'s
    pinned operating point (4 bits × 18 tables, recall@3 0.933 on the
    query-kNN task) transfers: measured 0.912 here (pinned by
    ``test_knn_join_recall_floor``). A left row whose buckets contain
    no right rows yields NO output rows — the honest answer under LSH;
    raise ``tables`` for coverage. Duplicate candidates from
    multi-table agreement collapse via a map-side-partial max before
    the per-left-row rank window."""
    planes = lsh_hyperplanes(bits, tables, dim, nnz)
    sig_udf = _hyperplane_sigs_udf(planes, dim)

    def prep(corpus: DataFrame, out_id: str, out_vec: str):
        # the side's self-norm is computed once per band row here,
        # never per candidate pair (bit-identical; cosine_with_norms)
        e = corpus.select(
            F.col(id_col).alias(out_id), _as_double(F.col(vec_col)).alias(out_vec)
        ).withColumn(
            # HOF dot (dim not forwarded): the unrolled fast path wins
            # this query standalone (2.55 → 2.22 s min-of-6) but LOSES
            # in full-catalog context (bench 2.55 → 3.52 s) — the big
            # generated methods recompile under codegen-cache pressure
            # in a 118-query session and the per-sample win is smaller
            # than the compile tax (unlike the IVF join, which nets
            # 0.74× in-bench). OPTIMIZATION_r12.md, guide §1.3.
            f"_{out_id}_n", _dot_d(out_vec, out_vec, None)
        )
        buckets = e.select(
            out_id,
            out_vec,
            f"_{out_id}_n",
            F.posexplode(sig_udf(F.col(out_vec))).alias("_t", "_b"),
        )
        if max_bucket is not None:
            w = Window.partitionBy("_t", "_b")
            buckets = (
                buckets.withColumn("_bc", F.count(F.lit(1)).over(w))
                .filter(F.col("_bc") <= max_bucket)
                .drop("_bc")
            )
        return buckets

    lb = prep(left, "left_id", "_lv")
    rb = prep(right, "right_id", "_rv")
    scored = (
        lb.join(rb, ["_t", "_b"])
        .select(
            "left_id",
            "right_id",
            cosine_with_norms(
                "_lv",
                "_rv",
                F.col("_left_id_n"),
                F.col("_right_id_n"),
            ).alias("_cos"),
        )
        .groupBy("left_id", "right_id")
        .agg(F.max("_cos").alias("_cos"))
    )
    w = Window.partitionBy("left_id").orderBy(F.desc("_cos"), F.asc("right_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "left_id",
            "right_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("_cos", 6).alias("cosine"),
        )
    )


def cosine_knn_join_ivf(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_lists: int = 24,
    nprobe: int = 8,
    replication: int = 2,
    coarse_assign: str = "flat",
    probe_supers: int = 2,
) -> DataFrame:
    """ANN kNN JOIN via IVF — the measured better-frontier path for
    corpus-vs-corpus top-k at scale (``cosine_knn_join``'s hyperplane
    banding is the fixture-pinned small-corpus path). The 100k × 100k
    decade sweep (SCALE.md) is the honest picture: LSH recall
    collapses to 0.12–0.27 even at 36 tables (bucket granularity must
    grow with the corpus; tables can't buy it back on structure-free
    data), while IVF at matched cost concentrates the scan where the
    neighbors are — recall 0.288 at scan fraction 0.031, 0.407 at
    0.063, 0.565 at 0.127 (≈ 4–9× better than fraction-proportional)
    — but NEITHER method holds 0.9 on an i.i.d.-gaussian corpus at
    this size without scanning a large fraction: that corpus is ANN's
    adversarial case. On a CLUSTERED corpus — the shape real embedding
    corpora have — the same operating points measure **0.990 at scan
    fraction 0.031** and 0.965 at 0.063 (r10, 256-center gaussian
    mixture at the same 100k × 100k split; SCALE.md), with finer
    quantization HELPING (1024 lists beats 315 — the reverse of the
    adversarial ordering): cost is fraction-bound, recall is
    structure-bound. The exactness contract is pinned besides:
    ``nprobe ≥ n_lists`` with ``replication=1`` probes every list and
    recovers brute-force cross top-k bit-for-bit
    (``test_knn_join_ivf_full_probe_is_exact``), so recall is a pure
    budget knob, never a correctness one. Index the RIGHT corpus
    (``build_ivf_index`` — reusable/persistable), route every left row
    to its ``nprobe`` nearest centroids (centroids broadcast — the
    left corpus never collects anywhere), and join the probe rows to
    the posting lists on the list id: unlike the query-set probe
    (``cosine_knn_ivf_probe``), the probe relation here is
    corpus-sized, so it is NOT broadcast — the list-id equi-join
    shuffles both sides on ~n_lists keys and AQE splits the skew.
    Returns (left_id, right_id, rank, cosine). No same-id
    self-exclusion: the corpora are distinct relations, and equal ids
    are legitimate matches (unlike the single-corpus query task)."""
    c, postings = build_ivf_index(
        right,
        id_col,
        vec_col,
        n_lists,
        0,
        replication,
        coarse_assign,
        probe_supers,
    )
    return cosine_knn_join_ivf_probe(
        c,
        postings,
        left,
        id_col,
        vec_col,
        k,
        nprobe,
        n_lists=n_lists,
        # the raw indexed corpus carries REAL plan statistics (file
        # sizes); the built postings subtree's non-CBO stats are
        # join-inflated and unusable for the volume gate
        gate_corpus=right,
        gate_replication=replication,
    )


def cosine_knn_join_ivf_probe(
    centroids: DataFrame,
    postings: DataFrame,
    left: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 8,
    dim: int | None = None,
    n_lists: int | None = None,
    gate_corpus: DataFrame | None = None,
    gate_replication: int = 1,
) -> DataFrame:
    """The query half of ``cosine_knn_join_ivf`` over a (typically
    persisted) ``build_ivf_index`` result — the production shape for
    CONTINUOUS corpus alignment: index the reference corpus once,
    then every arriving left batch (a new crawl to label, documents
    to retrieval-augment) runs only this probe. ``cosine_knn_join_ivf``
    is literally build + this. Same plan as the inline join from the
    probe routing down (pinned bit-for-bit by
    ``test_knn_join_ivf_probe_equals_inline``); the shared-list
    duplicate collapse is unconditional, so the probe is correct for
    any index regardless of its build-time replication.

    ``dim``: None (default) = auto — the unrolled-dot fast path for the
    candidate-pair stage engages iff the plan-time volume gate
    (``_unroll_pair_gate``) estimates the scored-pair count past the
    measured crossover; an explicit ``dim`` forces engagement; the
    per-row guard keeps results bit-identical either way. ``n_lists``
    is an optional gate hint (the index geometry, when the caller
    knows it)."""
    # self-norms per SIDE, not per pair: the pair join below scores
    # |left|·replication·(nprobe/n_lists)·|right| candidates and the
    # interpreted-HOF self-dots were ~2/3 of that stage's cost
    # (cosine_with_norms docstring; bit-identical results). _qn is
    # projected BELOW the centroid join — once per query row, not once
    # per (query, centroid) fan-out row (r11; the join boundary keeps
    # CollapseProject from inlining it upward).
    if dim is None:
        # r13 (VERDICT r12 #7): the engagement decision is derived from
        # plan-time inputs, not a fixture-tuned constant. The width
        # probe (one memoized LIMIT-1 job) runs first — the gate's row
        # estimates need the width to turn plan bytes into rows.
        w = _probe_dim(left, vec_col)
        dim = (
            w
            if w is not None
            and _unroll_pair_gate(
                left,
                postings,
                nprobe,
                w,
                n_lists,
                gate_corpus,
                gate_replication,
            )
            else None
        )
    # The unroll engages ONLY in the candidate-pair stage below — the
    # corpus×corpus volume where it wins — while the routing cosine and
    # the per-side self-norms keep the HOF dot: their volumes
    # (|left|·n_lists fan-out, one row per side) measured as losses,
    # and every extra unrolled site is another codegen class whose
    # compile/JIT weight taxes the rest of a many-query session
    # (OPTIMIZATION_r13.md). Each site may pick either dot: results are
    # bit-identical.
    q = left.select(
        F.col(id_col).alias("left_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("_qn", _dot_d("qv", "qv", None))
    q_scored = q.join(F.broadcast(centroids)).select(
        "left_id",
        "qv",
        "_qn",
        F.col("_cid"),
        cosine("qv", "_cv", None).alias("_ccos"),
    )
    wq = Window.partitionBy("left_id").orderBy(F.desc("_ccos"), F.asc("_cid"))
    probes = (
        q_scored.withColumn("_prk", F.row_number().over(wq))
        .filter(F.col("_prk") <= nprobe)
        .select("left_id", "qv", "_qn", F.col("_cid").alias("_list"))
    )
    postings_n = postings if "_cn" in postings.columns else postings.withColumn(
        "_cn", _dot_d("cv", "cv", None)
    )
    scored = (
        postings_n.join(probes, "_list")
        .select(
            "left_id",
            F.col("neighbor_id").alias("right_id"),
            cosine_with_norms(
                "qv", "cv", F.col("_qn"), F.col("_cn"), dim
            ).alias("_cos"),
        )
        .groupBy("left_id", "right_id")
        .agg(F.max("_cos").alias("_cos"))
    )
    w = Window.partitionBy("left_id").orderBy(F.desc("_cos"), F.asc("right_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "left_id",
            "right_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("_cos", 6).alias("cosine"),
        )
    )


def ivf_assignments(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantization: assign every corpus vector to its
    nearest (by cosine) of the given ``centroids`` — the inverted-list
    structure under IVF-flat ANN indexes (FAISS-style), built from open
    DataFrame primitives. Centroid *selection* is the caller's job
    (``select_ivf_centroids``); this function does not sample.

    The centroid set is tiny by construction (the caller samples
    ``n_lists`` rows), so the assignment is a broadcast nested-loop +
    per-row argmax: the corpus never shuffles. Returns (centroids,
    assignments) where assignments = (id, list_id) — one row per corpus
    vector.
    """
    c = centroids.select(
        F.col(id_col).alias("_cid"), _as_double(F.col(vec_col)).alias("_cv")
    )
    e = corpus.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
    )
    return c, _assign_to_centroids(e, c, dim)


def _assign_to_centroids(
    e: DataFrame, c: DataFrame, dim: int | None = None
) -> DataFrame:
    """Nearest-centroid argmax: (_id, _list) for every row of ``e``
    against the broadcast centroid set ``c`` — one corpus-wide
    aggregate that shrinks to one row per vector, ties to the smaller
    centroid id (matching the oracle's ``ORDER BY cos DESC, cid``)."""
    # per-side self-norms: the vector's self-dot is evaluated once per
    # corpus row and the centroid's once per centroid, not once per
    # (vector, centroid) — at the O(n x L) assignment pass the two
    # interpreted-HOF self-dots were ~2/3 of the cosine cost
    # (bit-identical; cosine_with_norms)
    e_n = e.withColumn("_vn", _dot_d("_v", "_v", dim))
    c_n = c.withColumn("_cn2", _dot_d("_cv", "_cv", dim))
    scored = e_n.join(F.broadcast(c_n)).select(
        "_id",
        F.struct(
            cosine_with_norms(
                "_v", "_cv", F.col("_vn"), F.col("_cn2"), dim
            ).alias("_cos"),
            (-F.col("_cid")).alias("_neg_cid"),  # tie-break: smaller cid wins
            F.col("_cid").alias("cid"),
        ).alias("_scored"),
    )
    return scored.groupBy("_id").agg(
        F.max("_scored").getField("cid").alias("_list")
    )


def _tree_assign(
    e: DataFrame,
    c: DataFrame,
    n_lists: int,
    replication: int,
    probe_supers: int = 2,
    centroid_rep: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """Two-level (tree) coarse quantization: posting-list assignment in
    O(n x (sqrt(L) + candidates)) instead of the flat path's O(n x L).

    Why it exists (measured, r9 SCALE.md): flat assignment scores every
    corpus vector against EVERY centroid, so at the classic
    n_lists ~ sqrt(n) sizing the assignment itself is O(n^1.5) — at 2M
    vectors the 96-list flat sweep measured ~3.5x the 24-list time even
    though the probe side got CHEAPER, because the n x L score pass
    dominates. The fix is the standard hierarchical coarse quantizer:

    1. ``n_supers = isqrt(n_lists)`` super-centroids — the first rows
       of the SAME md5 rank that selected the centroids, so the tree is
       deterministic and oracle-expressible;
    2. each centroid attaches to its ``centroid_rep`` nearest supers
       (L x sqrt(L) work — tiny, broadcast);
    3. each corpus vector scores only the supers (n x sqrt(L)), keeps
       its ``probe_supers`` nearest, and then scores only the centroids
       attached to those supers — about
       probe_supers x centroid_rep x L / sqrt(L) candidates instead of
       all L;
    4. its ``replication`` nearest candidate centroids become its
       posting lists, exactly like the flat path.

    The approximation: a vector's true nearest centroid is missed iff
    it attaches to none of the vector's ``probe_supers`` super-cells —
    the same Voronoi-boundary failure mode boundary replication already
    mitigates one level down. With ``probe_supers >= n_supers`` the
    candidate set is every centroid and the result EQUALS the flat
    assignment (pinned by ``test_tree_assign_full_probe_equals_flat``).

    Exchanges: one slim n x sqrt(L) window (super ranks), one corpus
    re-join on ``_id`` to re-attach vectors (the window deliberately
    carries only (_id, _sid, score) — NOT the vectors, which would
    multiply the shuffle bytes by the dimension), one combining
    aggregate + one slim window over the candidate scores. At sqrt-n
    sizing the compute drops ~L/(2 x sqrt(L) x centroid_rep)-fold and
    the shuffled bytes drop with it.
    """
    n_supers = max(2, math.isqrt(n_lists))
    s = (
        c.orderBy(F.md5(F.col("_cid").cast("string")), F.col("_cid"))
        .limit(n_supers)
        .select(F.col("_cid").alias("_sid"), F.col("_cv").alias("_sv"))
    )
    # centroid -> supers attachment (L x sqrt(L): broadcast-tiny)
    wc = Window.partitionBy("_cid").orderBy(F.desc("_cscos"), F.asc("_sid"))
    cs = (
        c.join(F.broadcast(s))
        .select(
            "_cid", "_cv", "_sid",
            cosine("_cv", "_sv", dim).alias("_cscos"),
        )
        .withColumn("_crk", F.row_number().over(wc))
        .filter(F.col("_crk") <= centroid_rep)
        .select("_sid", "_cid", "_cv")
    )
    # vector -> supers: slim (_id, _sid, score) through the rank window.
    # The vector self-norm (_vn) is computed once per corpus row and
    # reused by BOTH per-pair scoring passes below (bit-identical;
    # cosine_with_norms).
    e_n = e.withColumn("_vn", _dot_d("_v", "_v", dim))
    s_n = s.withColumn("_sn", _dot_d("_sv", "_sv", dim))
    wv = Window.partitionBy("_id").orderBy(F.desc("_vscos"), F.asc("_sid"))
    vsup = (
        e_n.join(F.broadcast(s_n))
        .select(
            "_id",
            "_sid",
            cosine_with_norms(
                "_v", "_sv", F.col("_vn"), F.col("_sn"), dim
            ).alias("_vscos"),
        )
        .withColumn("_vrk", F.row_number().over(wv))
        .filter(F.col("_vrk") <= probe_supers)
        .select("_id", "_sid")
    )
    # re-attach vectors, fan out to the attached centroids, score. A
    # centroid reachable through both probed supers appears twice with
    # an IDENTICAL cosine — the combining max collapses it map-side
    # before the posting-rank window (same dedup shape as the flat
    # path's shared-list candidates).
    cs_n = cs.withColumn("_cn2", _dot_d("_cv", "_cv", dim))
    cand = (
        e_n.join(vsup, "_id")
        .join(F.broadcast(cs_n), "_sid")
        .select(
            "_id",
            "_cid",
            cosine_with_norms(
                "_v", "_cv", F.col("_vn"), F.col("_cn2"), dim
            ).alias("_ccos"),
        )
        .groupBy("_id", "_cid")
        .agg(F.max("_ccos").alias("_ccos"))
    )
    wt = Window.partitionBy("_id").orderBy(F.desc("_ccos"), F.asc("_cid"))
    return (
        cand.withColumn("_trk", F.row_number().over(wt))
        .filter(F.col("_trk") <= replication)
        .select("_id", F.col("_cid").alias("_list"))
    )


def lloyd_refine_centroids(e: DataFrame, assign: DataFrame) -> DataFrame:
    """One Lloyd iteration over the current IVF assignment: each list's
    centroid moves to the element-wise MEAN of its member vectors
    (coordinates rounded to 6 decimals — the rounding is part of the
    operator contract so the SQL oracle, whose summation order differs
    at the ULP level, lands on bit-identical centroids and therefore
    identical downstream assignments).

    Scale shape: posexplode fans the corpus to n x dim (pos, val) rows,
    but the per-(list, pos) mean partially aggregates map-side, so the
    exchange carries at most n_lists x dim rows per upstream partition
    and the final state is the (tiny) centroid set itself. The
    collect_list that rebuilds each mean vector runs on n_lists groups
    of dim elements — broadcast-scale by construction. Keeps the
    original sampled ids as list ids (stable across iterations; a list
    that loses all members simply disappears rather than yielding a
    null centroid).

    When to use it (measured, r9): the seed centroids are an md5-ranked
    corpus sample (``select_ivf_centroids``) — unbiased but blind to
    density, so on a CLUSTERED corpus two seeds can land in one cluster
    while another goes unseeded; one mean step re-centers each seed on
    the mass it captured and recall rises (planted-16-cluster corpus:
    recall@3 0.967 → 1.000 at 3/16 probes). On a STRUCTURE-FREE corpus
    it is counterproductive: sample means of random gaussian partitions
    collapse toward the origin, assignment directions degrade, and
    recall FALLS (i.i.d.-gaussian fixture: 0.767 → 0.633 at 6/16) —
    which is why ``cosine_knn_ivf`` defaults to ``lloyd_iters=0`` and
    buys its fixture recall with boundary replication instead. Real
    embedding corpora cluster; enable it there.
    """
    members = e.join(assign, "_id").select(
        F.col("_list"), F.posexplode("_v").alias("_pos", "_val")
    )
    means = members.groupBy("_list", "_pos").agg(
        F.round(F.avg("_val"), 6).alias("_m")
    )
    return means.groupBy("_list").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_pos", "_m"))),
            lambda s: s["_m"],
        ).alias("_cv")
    ).select(F.col("_list").alias("_cid"), "_cv")


def select_ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    n_lists: int = 16,
) -> DataFrame:
    """The deterministic centroid sample: rows whose md5(id) ranks in
    the smallest ``n_lists``. ``orderBy().limit()`` plans as
    TakeOrderedAndProject — per-partition k-row heaps merged on the
    driver, never a global sort (a single-partition window here would
    serialize the whole corpus through one task)."""
    return corpus.orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    ).limit(n_lists)


def _flat_replicated_assign(
    e0: DataFrame, c: DataFrame, replication: int, dim: int | None = None
) -> DataFrame:
    """Flat replicated coarse assignment: every vector posts into its
    ``replication`` nearest centroids (SPANN-style boundary
    replication). e0 = (_id, _v), c = (_cid, _cv, broadcast-sized);
    returns (_id, _list). Shared by ``build_ivf_index`` and the
    streaming index appender so the two can never drift."""
    e_n = e0.withColumn("_vn", _dot_d("_v", "_v", dim))
    c_n = c.withColumn("_cn2", _dot_d("_cv", "_cv", dim))
    sc_all = e_n.join(F.broadcast(c_n)).select(
        "_id",
        "_cid",
        cosine_with_norms(
            "_v", "_cv", F.col("_vn"), F.col("_cn2"), dim
        ).alias("_acos"),
    )
    wa = Window.partitionBy("_id").orderBy(F.desc("_acos"), F.asc("_cid"))
    return (
        sc_all.withColumn("_ark", F.row_number().over(wa))
        .filter(F.col("_ark") <= replication)
        .select("_id", F.col("_cid").alias("_list"))
    )


def build_ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    lloyd_iters: int = 0,
    replication: int = 2,
    coarse_assign: str = "flat",
    probe_supers: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """The index half of ``cosine_knn_ivf``, exposed for persistence
    (r9): returns ``(centroids, postings)`` — centroids
    (_cid, _cv broadcast-sized) and postings (neighbor_id, cv, _list;
    one row per vector per replica, the inverted lists with vectors
    riding them, IVF-flat's standard layout). Write both to parquet
    and every later query run is ``cosine_knn_ivf_probe`` — the
    production ANN shape (index built once over the 100 TB corpus,
    probed by every arriving query batch) instead of re-selecting
    centroids and re-assigning the corpus per call. Centroid
    selection is md5-deterministic, so a rebuilt index over the same
    corpus is identical. All knob semantics (and their measured
    recall trades) are documented on ``cosine_knn_ivf``, which is now
    exactly build + probe."""
    if coarse_assign not in ("flat", "tree"):
        raise ValueError(
            f"build_ivf_index: coarse_assign={coarse_assign!r} — "
            "expected 'flat' or 'tree'"
        )
    # dim=None: the n×L assignment pass measured SLOWER with the
    # unrolled dot at fixture scale (knn_ivf 1.94 → 2.52 interleaved);
    # the win lives in the corpus-probe pair join, not here
    dim = None
    cents = select_ivf_centroids(corpus, id_col, n_lists)
    c, assign = ivf_assignments(corpus, cents, id_col, vec_col, dim)
    e0 = corpus.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
    )
    for _ in range(lloyd_iters):
        c = lloyd_refine_centroids(e0, assign)
        assign = _assign_to_centroids(e0, c, dim)
    if coarse_assign == "tree":
        assign = _tree_assign(
            e0, c, n_lists, max(replication, 1), probe_supers=probe_supers,
            dim=dim,
        )
    elif replication > 1:
        assign = _flat_replicated_assign(e0, c, replication, dim)
    # the posting row carries its vector's self-norm (_cn) so a
    # persisted index NEVER pays the norm pass at probe time — the
    # probe tails use a stored _cn when present (r10, cosine_with_norms)
    postings = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("cv"),
        )
        .withColumn("_cn", _dot_d("cv", "cv", dim))
        .join(assign.withColumnRenamed("_id", "neighbor_id"), "neighbor_id")
    )
    return c, postings


def cosine_knn_ivf_probe(
    centroids: DataFrame,
    postings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 4,
    replication: int = 2,
) -> DataFrame:
    """The query half of ``cosine_knn_ivf`` over a (typically
    persisted) ``build_ivf_index`` result: probe each query's
    ``nprobe`` nearest centroids' lists, exact-cosine rank, top-k.
    Per run this touches O(|queries| · n_lists) centroid math (the
    centroid relation is broadcast) plus the probed fraction of the
    postings — the corpus itself is never re-assigned. The shared-list
    duplicate collapse is always planned, so the probe is correct for
    any index regardless of its build-time replication (``replication``
    is retained for signature compatibility; it no longer gates
    anything)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    return _ivf_probe_tail(centroids, postings, q, k, nprobe)


def write_ivf_index(
    centroids: DataFrame,
    postings: DataFrame,
    centroids_dir: str,
    postings_dir: str,
) -> None:
    """Persist a ``build_ivf_index`` result in the probe-optimal
    layout: centroids plain (broadcast-sized), postings LIST-MAJOR —
    ``postings_dir/_list=K/`` partition dirs with ONE file per list
    leaf (``repartition("_list")`` before the write; the r10 banded
    store measurement showed a partitioned landing without it is a
    file bomb — every task writes into every partition dir). The
    list-major layout is what ``cosine_knn_ivf_probe_dir`` prunes its
    listing against; a flat parquet landing works with
    ``cosine_knn_ivf_probe`` but pays a full postings scan (and full
    file listing) per probe batch."""
    centroids.write.mode("overwrite").parquet(centroids_dir)
    postings.repartition("_list").write.mode("overwrite").partitionBy(
        "_list"
    ).parquet(postings_dir)


def ivf_index_drift_stats(
    spark,
    centroids_dir: str,
    postings_dir: str,
    as_of_batch_id: int | None = None,
) -> DataFrame:
    """Re-centering drift signal for a persisted IVF index (r12): per
    posting list, its occupancy and the mean cosine between its
    vectors and its centroid — ``(list_id, n_vectors, mean_cos)``.

    The quantizer contract is FIXED centroids (re-centering is an
    explicit offline rebuild, like re-bucketing a dedup store); this
    metric tells an operator WHEN that rebuild is worth scheduling.
    Corpus drift shows up as (a) occupancy skew — new mass landing in
    few lists inflates probe cost for queries routed there (probe IO
    is proportional to the probed lists' sizes) — and (b) a falling
    mean assignment cosine — vectors sitting farther from their
    assigned centroid degrade recall-at-nprobe (the boundary-
    replication margin assumes assignment quality near the seed
    corpus's). Run it beside each maintenance cycle
    (roll/consolidate); the cost is ONE broadcast-join + aggregate
    pass over the postings (centroids are broadcast-sized, no per-pair
    work, no shuffle beyond the final ≤ n_lists-row aggregate), so at
    100 TB it prices like a single columnar scan of (cv, _cn, _list).

    Reads the two-tier streamed layout (history ``_list=K`` dirs ∪
    ``<postings_dir>_recent``) or a plain ``write_ivf_index`` /
    flat-appended store — whatever exists (the tiers are projected to
    the three needed columns before the union, so a batch-written
    history with no ``batch_id`` column composes with a streamed
    recent tail). Stored self-norms (``_cn``) are used when present;
    recomputed otherwise (pre-r10 stores).

    ``as_of_batch_id`` (r13) pins the snapshot to batches ≤ that id:
    the recent tier is read from exactly the ≤-id batch dirs by
    DIRECT PATH — so a concurrent trigger's in-flight landing dir
    never enters the file index, which is what lets the signal ride
    the in-drive background maintenance thread — and the history
    tier, whose rolled/consolidated batch ids are always ≤ the firing
    batch's by the maintenance contract, gets the same
    partition-pruned filter when it carries the column (a no-op today,
    kept for exactness). None keeps the read-everything shape
    (between-drives usage on a quiesced store)."""
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import _hadoop_fs

    fs, hroot = _hadoop_fs(spark, postings_dir)
    main = (
        spark.read.parquet(postings_dir)
        if fs.exists(hroot)
        and any(
            (s.isDirectory() and "=" in s.getPath().getName())
            or (
                s.isFile()
                and s.getPath().getName().endswith(".parquet")
            )
            for s in fs.listStatus(hroot)
        )
        else None
    )
    if (
        main is not None
        and as_of_batch_id is not None
        and "batch_id" in main.columns
    ):
        main = main.filter(F.col("batch_id") <= F.lit(as_of_batch_id))
    recent_dir = postings_dir.rstrip("/") + "_recent"
    rfs, hrecent = _hadoop_fs(spark, recent_dir)
    rdirs = (
        [
            s.getPath().getName()
            for s in rfs.listStatus(hrecent)
            if s.isDirectory()
            and s.getPath().getName().startswith("batch_id=")
            and (
                as_of_batch_id is None
                or int(s.getPath().getName().split("=", 1)[1])
                <= as_of_batch_id
            )
        ]
        if rfs.exists(hrecent)
        else []
    )
    recent = (
        spark.read.option("basePath", recent_dir).parquet(
            *(f"{recent_dir}/{d}" for d in rdirs)
        )
        if rdirs
        else None
    )
    if main is None and recent is None:
        raise FileNotFoundError(
            f"ivf_index_drift_stats: no postings under {postings_dir}"
        )

    dim = None  # one aggregate pass; unrolled dot measured a loss

    def _proj(df: DataFrame) -> DataFrame:
        ncol = (
            F.col("_cn")
            if "_cn" in df.columns
            else _dot_d("cv", "cv", dim)
        )
        return df.select(
            F.col("_list").cast("long").alias("_list"),
            "cv",
            ncol.alias("_n"),
        )

    tiers = [_proj(t) for t in (main, recent) if t is not None]
    p = tiers[0] if len(tiers) == 1 else tiers[0].unionByName(tiers[1])
    c = spark.read.parquet(centroids_dir).select(
        F.col("_cid").cast("long").alias("_list"),
        F.col("_cv"),
        _dot_d("_cv", "_cv", dim).alias("_ccn"),
    )
    return (
        p.join(F.broadcast(c), "_list")
        .select(
            "_list",
            cosine_with_norms(
                "cv", "_cv", F.col("_n"), F.col("_ccn"), dim
            ).alias("_cos"),
        )
        .groupBy("_list")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("_cos"), 6).alias("mean_cos"),
        )
        .select(F.col("_list").alias("list_id"), "n_vectors", "mean_cos")
    )


def ivf_drift_summary(stats: DataFrame, n_lists: int) -> dict:
    """Driver-side rollup of ``ivf_index_drift_stats`` — the scalar
    signal a maintenance job logs/alerts on: occupancy skew
    (max/mean posting-list size over NON-EMPTY lists), the share of
    empty lists, and the occupancy-weighted mean assignment cosine.

    Rebuild guidance, measured (SCALE.md r12, antipodal-drift protocol
    on the 256-center clustered fixture at sqrt-rule lists): the
    sensitive axis is ``mean_assign_cos`` — it LEADS recall damage by
    a wide margin (25% foreign mass dropped it 0.71 → 0.64 with zero
    recall effect at nprobe=16; a full antipodal doubling dropped it
    to 0.52 before the first measurable fixed-vs-rebuilt gap, 1.3 pp).
    Alert at a drop ≳ 0.05 from the post-build baseline (foreign mass
    is arriving), schedule the offline rebuild by ≳ 0.15;
    ``occupancy_skew`` is the probe-IO axis (a hot list inflates every
    probe routed to it) and warrants a rebuild on sustained growth
    regardless of recall. Drift never costs correctness — the index
    stays exact-on-probed-lists — only recall-at-nprobe and probe
    IO."""
    row = stats.agg(
        F.max("n_vectors"),
        F.avg("n_vectors"),
        F.sum(F.col("n_vectors") * F.col("mean_cos")),
        F.sum("n_vectors"),
        F.count(F.lit(1)),
        F.min("mean_cos"),
    ).first()
    mx, mean_n, wcos, total, nonempty, mn_cos = row
    if not nonempty:
        # a store whose recent tail holds only zero-row batch dirs, or
        # postings that match none of the supplied centroids' lists —
        # a well-formed "nothing indexed yet" signal, not a TypeError
        return {
            "n_lists": n_lists,
            "nonempty_lists": 0,
            "empty_lists": n_lists,
            "occupancy_skew": None,
            "mean_assign_cos": None,
            "min_list_mean_cos": None,
            "postings": 0,
        }
    return {
        "n_lists": n_lists,
        "nonempty_lists": int(nonempty),
        "empty_lists": n_lists - int(nonempty),
        "occupancy_skew": float(mx) / float(mean_n),
        "mean_assign_cos": float(wcos) / float(total),
        "min_list_mean_cos": float(mn_cos),
        "postings": int(total),
    }


def cosine_knn_ivf_probe_dir(
    spark,
    centroids_dir: str,
    postings_dir: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 4,
) -> DataFrame:
    """``cosine_knn_ivf_probe`` over a ``write_ivf_index``-persisted
    index, reading ONLY the probed lists' partition subtrees — the
    production probe shape at the classic ``n_lists ~ sqrt(n)``
    sizing, where a probe batch touches nprobe·|queries| ≪ n_lists
    lists and a flat postings read scans (and lists) the entire
    corpus for every arriving batch. Probe routing runs once over the
    broadcast centroid relation; the routed list ids are collected
    driver-side (bounded ≤ n_lists ints — same idiom as the banded
    dedup stores) and only those ``_list=K`` subtrees enter the file
    index (``sources.readers.read_partition_subtrees``). When a
    two-tier streamed index is being maintained
    (``stream_ivf_index_append`` lands each batch
    batch-major in ``<postings_dir>_recent`` until
    ``roll_recent_into_store`` moves it), the probe also reads the
    recent tail filtered to the probed lists — vectors stay searchable
    one trigger after arrival without paying the per-list landing
    commit per trigger. Results are identical to the in-memory probe
    at the same parameters (pinned by
    ``test_knn_ivf_probe_dir_equals_probe``); a query whose probed
    lists are all empty contributes no rows, exactly like the
    in-memory probe."""
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.readers import (
        read_partition_subtrees,
        union_partition_tiers,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import _hadoop_fs

    c = spark.read.parquet(centroids_dir)
    dim = None  # query-probe volume is small; unrolled dot loses here
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    probes = _ivf_route_probes(c, q, nprobe, dim).persist()
    try:
        lists = [r[0] for r in probes.select("_list").distinct().collect()]
        e = read_partition_subtrees(spark, postings_dir, "_list", lists)
        recent_dir = postings_dir.rstrip("/") + "_recent"
        fs, hrecent = _hadoop_fs(spark, recent_dir)
        if fs.exists(hrecent) and fs.listStatus(hrecent):
            recent = spark.read.parquet(recent_dir).filter(
                F.col("_list").isin(lists)
            )
            e = union_partition_tiers(e, recent, "_list")
        if e is None:
            # derive the posting schema from ANY existing list dir so
            # the empty result's neighbor_id type matches non-empty
            # batches even for non-long id columns; a fully empty
            # store falls back to the long-id default
            _, hroot = _hadoop_fs(spark, postings_dir)
            first = next(
                (
                    s.getPath()
                    for s in (
                        fs.listStatus(hroot) if fs.exists(hroot) else []
                    )
                    if s.isDirectory()
                    and s.getPath().getName().startswith("_list=")
                ),
                None,
            )
            if first is not None:
                # str(Path) preserves the filesystem scheme/authority
                # (toUri().getPath() would strip hdfs://host, pointing
                # the read at a wrong local-looking path) — same
                # FS-agnostic posture as _marker_io and
                # read_partition_subtrees
                e = (
                    spark.read.option("basePath", postings_dir)
                    .parquet(str(first))
                    .limit(0)
                )
            else:
                e = spark.createDataFrame(
                    [],
                    "neighbor_id long, cv array<double>, _cn double, "
                    "_list long",
                )
            empty = _ivf_score_probes(e, probes, k, dim)
            return spark.createDataFrame([], empty.schema)
        out = _ivf_score_probes(e, probes, k, dim)
        # materialize before unpersisting the routed probes (they feed
        # both the collect above and the scoring join)
        out = out.localCheckpoint(eager=True)
        return out
    finally:
        probes.unpersist()


def cosine_knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_lists: int = 16,
    nprobe: int = 4,
    lloyd_iters: int = 0,
    replication: int = 2,
    coarse_assign: str = "flat",
    probe_supers: int = 2,
) -> DataFrame:
    """Approximate top-k via IVF-flat: score each query only against the
    inverted lists of its ``nprobe`` nearest centroids.

    Scale shape: centroids are O(n_lists) and broadcast everywhere;
    corpus rows are assigned map-side (one aggregate/window on the
    corpus id — the only corpus-wide shuffle, and it shrinks to
    ``replication`` rows per vector); the probe is an equi-join on
    ``_list`` between the (small, broadcast) query probe set and the
    assigned corpus, so each corpus row is examined by at most the
    queries probing its lists — at 100 TB the search cost is
    |query| × replication × (nprobe/n_lists) × corpus, against the
    brute-force |query| × corpus.

    Recall knobs, both measured on the fixture (r9 sweep, SCALE.md):

    - ``replication`` (default 2): SPANN-style boundary replication —
      each corpus vector posts into its ``replication`` nearest lists,
      so a true neighbor near a Voronoi boundary is found if ANY of its
      lists is probed. On the i.i.d.-gaussian fixture (IVF's worst
      case — no cluster structure, every vector is near a boundary)
      this is what moves recall: 24 lists / 8 probes × 2 replicas
      measures recall@3 0.90 / 0.93 / 0.90 at sf0.001/0.01/0.1 vs
      0.767 for the r7 hard-assigned 16/6 point, paying with the
      2× posting-list storage and scan fraction (0.67 vs 0.375) —
      recall here is bought with bounded, explicit cost, never with a
      plan-shape change. Duplicate (query, neighbor) candidates from
      shared lists are collapsed by a map-side-partial aggregate
      BEFORE ranking, so the window never sees them.
    - ``lloyd_iters`` (default 0): re-center the md5-sampled seed
      centroids on the mass they captured (``lloyd_refine_centroids``,
      one corpus re-assignment pass each). Helps exactly when the
      corpus HAS cluster structure (planted-16-cluster test:
      0.967 → 1.000) and measurably HURTS structure-free corpora
      (gaussian fixture: 0.767 → 0.633 at 16/6 — sample means of
      random partitions collapse toward the origin and assignment
      degrades), hence off by default for the benchmark fixture and
      recommended ON for real embedding corpora, which cluster.
    - ``coarse_assign`` (default ``"flat"``): how corpus vectors find
      their posting lists. ``"flat"`` scores every vector against every
      centroid — exact, O(n x n_lists), fine at the tens-of-lists
      sizings but O(n^1.5) at the classic n_lists ~ sqrt(n) rule, where
      the assignment pass itself dominates (measured at 2M vectors,
      SCALE.md). ``"tree"`` routes through ``isqrt(n_lists)``
      super-centroids first (``_tree_assign``) — O(n x sqrt(n_lists))
      plus a small candidate fan-out, the scale path for large list
      counts; ``probe_supers`` (default 2) is its accuracy/cost knob,
      and ``probe_supers >= isqrt(n_lists)`` recovers the flat
      assignment exactly. Queries always probe the full centroid set
      (the query side is broadcast-tiny either way).

    Returns (query_id, neighbor_id, rank, cosine).
    """
    c, e = build_ivf_index(
        corpus,
        id_col,
        vec_col,
        n_lists,
        lloyd_iters,
        replication,
        coarse_assign,
        probe_supers,
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    return _ivf_probe_tail(c, e, q, k, nprobe)


def _ivf_probe_tail(
    c: DataFrame,
    e: DataFrame,
    q: DataFrame,
    k: int,
    nprobe: int,
    dim: int | None = None,
) -> DataFrame:
    """Shared probe tail of ``cosine_knn_ivf`` / ``cosine_knn_ivf_probe``:
    c = centroids (_cid, _cv), e = postings (neighbor_id, cv, _list),
    q = (query_id, qv)."""
    return _ivf_score_probes(e, _ivf_route_probes(c, q, nprobe, dim), k, dim)


def _ivf_route_probes(
    c: DataFrame, q: DataFrame, nprobe: int, dim: int | None = None
) -> DataFrame:
    """Probe routing: each query's ``nprobe`` nearest centroids →
    (query_id, qv, _qn, _list) rows. _qn is projected BELOW the
    centroid join so it evaluates once per query row, not once per
    (query, centroid) fan-out row (r11; the join boundary keeps
    CollapseProject from inlining it upward)."""
    q = q.withColumn("_qn", _dot_d("qv", "qv", dim))
    q_scored = q.join(F.broadcast(c)).select(
        "query_id",
        "qv",
        "_qn",
        F.col("_cid"),
        cosine("qv", "_cv", dim).alias("_ccos"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("_ccos"), F.asc("_cid"))
    return (
        q_scored.withColumn("_prk", F.row_number().over(wq))
        .filter(F.col("_prk") <= nprobe)
        .select("query_id", "qv", "_qn", F.col("_cid").alias("_list"))
    )


def _ivf_score_probes(
    e: DataFrame, probes: DataFrame, k: int, dim: int | None = None
) -> DataFrame:
    """Score routed probes against the posting lists and take top-k.
    Per-side self-norms ahead of the candidate join (bit-identical;
    see cosine_with_norms) — the posting side's norm is computed once
    per posting row (or read from a stored _cn) instead of once per
    (query, posting) candidate."""
    e_n = e if "_cn" in e.columns else e.withColumn(
        "_cn", _dot_d("cv", "cv", dim)
    )
    scored = (
        e_n.join(F.broadcast(probes), "_list")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_with_norms(
                "qv", "cv", F.col("_qn"), F.col("_cn"), dim
            ).alias("_cos"),
        )
    )
    # a (query, neighbor) pair sharing several probed lists appears
    # once per shared list with an IDENTICAL cosine — collapse with a
    # partial-aggregating max (one exchange, map-side combine) rather
    # than distinct-ing the wider pre-cosine candidate set. Applied
    # UNCONDITIONALLY: the probe caller's `replication` cannot be
    # trusted to match the (possibly persisted) index's build-time
    # replication, and gating on it made a mismatched caller silently
    # fill top-k ranks with duplicate neighbors. For a replication=1
    # index the aggregate is a semantic no-op (every pair is unique);
    # its exchange partial-aggregates map-side ahead of the rank
    # window's shuffle on the same leading key.
    scored = scored.groupBy("query_id", "neighbor_id").agg(
        F.max("_cos").alias("_cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("_cos", 6).alias("cosine"),
        )
    )


def lsh_hyperplanes(
    bits: int, tables: int, dim: int, nnz: int = 16
) -> list[list[list[tuple[int, int]]]]:
    """Deterministic sparse random-projection hyperplanes for sign LSH:
    ``[table][bit] -> [(dim_index_1based, ±1), ...]`` with ``nnz``
    distinct dimensions per bit, seeded from md5("lsh:{table}:{bit}:{k}").

    Sparse Rademacher (±1) projections are a standard sign-LSH family
    (Achlioptas-style sparse random projections); unlike the axis-aligned
    slices they replace (measured recall@3 0.43 — one stored coordinate
    per bit, and table t could only see dims [t*bits, (t+1)*bits)), every
    bit mixes ``nnz`` coordinates drawn from ALL dims, so bits stay
    near-independent across tables and the multi-table S-curve pays off.
    Measured on the sf0.01 fixture (numpy replay of this exact schedule):
    nnz=16 at 5 bits × 10 tables → recall@3 0.667, vs 0.600 for true
    gaussian planes at the same config and 0.43 for the axis slices.

    md5 is used as the seeded generator (well-mixed, available
    everywhere); the ORACLE does not re-derive it — the coefficient
    table is materialized at plan-build time and baked into both the
    Spark plan and the SQL string as literals, like ``wta_pairs``."""
    import hashlib

    if nnz > dim:
        raise ValueError(
            f"lsh_hyperplanes: nnz={nnz} > dim={dim} — cannot draw nnz "
            "distinct dimensions (the rejection loop would never finish)"
        )

    planes = []
    for t in range(tables):
        rows = []
        for b in range(bits):
            terms: list[tuple[int, int]] = []
            seen: set[int] = set()
            k = 0
            while len(terms) < nnz:
                h = int.from_bytes(
                    hashlib.md5(f"lsh:{t}:{b}:{k}".encode()).digest()[:8], "big"
                )
                i = h % dim
                if i not in seen:
                    seen.add(i)
                    terms.append((i + 1, 1 if (h >> 7) % 2 else -1))
                k += 1
            rows.append(terms)
        planes.append(rows)
    return planes


def hyperplane_bucket(
    vec: Column, plane_rows: list[list[tuple[int, int]]], dim: int
) -> Column:
    """Sign-LSH bucket from explicit hyperplane coefficients: bit b is
    ``sign(sum_k v[i_k] * s_k) > 0`` over ``plane_rows[b]``. Terms are
    summed left-to-right in schedule order — IEEE doubles added in a
    fixed order are bit-identical across engines, so bucket membership
    is reproducible in the SQL oracle that bakes the same coefficient
    literals as an unrolled ``e[i]::DOUBLE * s + ...`` sum.

    Codegen note (measured, r6): this single-table expression form is a
    left-deep Add tree of ``element_at(vec, i).cast(double) * s`` terms.
    One sig (bits×nnz ≈ 80 terms) codegens fine, but a projection
    computing all ``tables`` sigs at production fan-out (10 × 80 = 800
    terms) blows janino's 64 KB method limit inside WholeStageCodegen
    and drops the whole stage to interpreted mode (measured 27 s at
    sf0.1 vs 12.8 s for the r5 HOF fold). ``cosine_knn_sign_lsh``
    therefore computes the full multi-table signature set through the
    Arrow-batched ``_hyperplane_sigs_udf`` instead; this expression form
    is kept as the portable single-sig building block. Per-element casts
    (not one whole-array cast) keep the expression self-contained so
    projection collapse can't duplicate an array-wide cast."""
    def bit(terms: list[tuple[int, int]]) -> Column:
        total = None
        for i, sgn in terms:
            term = F.element_at(vec, i).cast("double") * float(sgn)
            total = term if total is None else total + term
        return F.when(total > 0, F.lit("1")).otherwise(F.lit("0"))

    sig = F.concat(*[bit(terms) for terms in plane_rows])
    return F.when(F.size(vec) >= dim, sig).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"hyperplane_bucket: vector has fewer than {dim} dims; got size="),
                F.size(vec).cast("string"),
            )
        )
    )


def _hyperplane_sigs_udf(
    planes: list[list[list[tuple[int, int]]]], dim: int
):
    """Arrow-batched (vectorized pandas_udf) computation of ALL
    multi-table sign-LSH signatures in one pass: ``array<float> ->
    array<string>`` of ``tables`` bucket strings.

    Why Python here (measured r6, RE-MEASURED r10 per VERDICT r9 #4):
    the JVM alternatives lose at every shipped operating point. The r5
    ``transform``+``aggregate`` literal fold evaluates interpreted
    lambda frames (HOFs are outside whole-stage codegen): 12.8 s at
    sf0.1. The unrolled flat form — retried r10 the way
    ``wta_sigs_expr`` worked for WTA, in BOTH the ``e*±1.0`` multiply
    chain and a leaner ``+e/-e`` sign-folded chain over a pre-cast
    double array — blows janino's 64 KB method limit at 4 bits × 18
    tables × nnz 16 (1152 terms) AND at 8 × 6 (768 terms):
    WholeStageCodegenExec logs "codegen disabled for plan" and the
    stage runs interpreted. Measured on 200 k vectors (min-of-3 warm,
    noop sink): UDF 0.60 s vs expr 3.00 s at 4×18; 0.45 s vs 1.18 s at
    8×6 — the expression is 2.6–5× SLOWER, with bit-identical bucket
    multisets. WTA survives as an expression because its bits are 104
    comparisons, ~8× under the cliff; this schedule's multiply-add
    fan-out is past it, and splitting the projection would be undone
    by CollapseProject. The UDF is also a minor share of its
    consumers' wall-clock (sf0.1: 7% of knn_join_emb, 27% of knn_lsh,
    24% of dedup_embedding_hyperplane — the banded join dominates).
    This numpy path is a (rows × terms) fancy-indexed accumulation —
    true vectorized math over Arrow record batches, the exact case the
    "Pandas UDFs beat row-at-a-time by 10-100×" guidance is about.

    Bit-exactness contract with the SQL oracle: the accumulation loops
    over the nnz term slots IN SCHEDULE ORDER (``acc += V[:, idx[k]] *
    sgn[k]`` for k = 0..nnz-1), so every per-row scalar sum is the same
    left-deep IEEE-double chain the oracle's unrolled
    ``e[i]::DOUBLE * s + ...`` emits — signs, and therefore buckets,
    are bit-identical across numpy / Spark / DuckDB."""
    from pyspark.sql.types import ArrayType, StringType

    tables, bits = len(planes), len(planes[0])
    if not 1 <= bits <= 24:
        # The bucket-string LUT below is 2**bits entries; docstrings cite
        # 50-bit sign-LSH configs, and without this guard such a config
        # would attempt a 2^50-entry allocation and OOM before any useful
        # error. 24 bits (16M short strings, ~hundreds of MB) is already
        # far past any sane banded-LSH code width.
        raise ValueError(
            f"hyperplane sigs: bits={bits} outside 1..24 — the per-table "
            "bucket LUT is 2**bits entries; use more tables, not wider codes"
        )
    nnz = len(planes[0][0])
    idx = np.array(
        [
            [planes[t][b][k][0] - 1 for t in range(tables) for b in range(bits)]
            for k in range(nnz)
        ],
        dtype=np.int64,
    )
    sgn = np.array(
        [
            [float(planes[t][b][k][1]) for t in range(tables) for b in range(bits)]
            for k in range(nnz)
        ],
        dtype=np.float64,
    )
    lut = np.array([format(x, f"0{bits}b") for x in range(2**bits)])

    @F.pandas_udf(ArrayType(StringType()))
    def sigs(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter((len(x) for x in vec), dtype=np.int64, count=len(vec))
        if (lens < dim).any():
            raise ValueError(
                f"hyperplane sigs: vector has fewer than {dim} dims; "
                f"got size={int(lens.min())}"
            )
        mat = np.stack([np.asarray(x, dtype=np.float64)[:dim] for x in vec])
        acc = np.zeros((mat.shape[0], tables * bits))
        for k in range(nnz):
            acc += mat[:, idx[k]] * sgn[k]
        pos = (acc > 0).reshape(-1, tables, bits)
        codes = np.zeros((pos.shape[0], tables), dtype=np.int64)
        for b in range(bits):
            codes = (codes << 1) | pos[:, :, b]
        return pd.Series(lut[codes].tolist())

    return sigs


def cosine_knn_sign_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    bits: int = 5,
    tables: int = 10,
    dim: int = 64,
    nnz: int = 16,
) -> DataFrame:
    """Approximate top-k via MULTI-TABLE sign LSH over seeded sparse
    Rademacher hyperplanes (``lsh_hyperplanes``); a corpus vector is
    scored for a query iff they collide in ANY table.

    The r1–r4 variant used disjoint axis-aligned sign slices (one stored
    coordinate per bit): portable, but table t could only see dims
    [t*bits, (t+1)*bits), so 64-d vectors capped the usable tables and
    recall@3 measured 0.43. Mixing nnz coordinates per bit decorrelates
    the bits without giving up oracle portability (the coefficient
    schedule is baked into both plans as literals); each row still fans
    out to exactly ``tables`` band rows and the (band, sig) equi-join
    stays the only shuffle. Measured recall@3 0.667 at the defaults
    (5 bits × 10 tables × nnz=16) — curve in SCALE.md.

    Plan shape: all ``tables`` sig strings are computed in ONE
    Arrow-batched projection (``_hyperplane_sigs_udf`` — see its
    docstring for the measured 10× JVM-expression dead ends), then
    posexploded into (band, sig) rows. Collisions in several tables
    are deduplicated by a (query, neighbor) max-agg BEFORE ranking, so
    duplicates never reach the rank window.
    """
    planes = lsh_hyperplanes(bits, tables, dim, nnz)
    sig_udf = _hyperplane_sigs_udf(planes, dim)

    def banded(df, out_id):
        # the side's self-norm rides the band rows so the collision
        # scoring pays one HOF dot per candidate (cosine_with_norms)
        sigs = df.select(
            F.col(id_col).alias(out_id),
            _as_double(F.col(vec_col)).alias(f"_{out_id}_v"),
            sig_udf(F.col(vec_col)).alias("_sigarr"),
        ).withColumn(
            # HOF dot (dim not forwarded): unrolled loses at this
            # query-kNN candidate volume (A/B, OPTIMIZATION_r12)
            f"_{out_id}_n", _dot_d(f"_{out_id}_v", f"_{out_id}_v", None)
        )
        return sigs.select(
            out_id,
            f"_{out_id}_v",
            f"_{out_id}_n",
            F.posexplode("_sigarr").alias("band", "sig"),
        )

    q = banded(queries, "query_id")
    c = banded(corpus, "neighbor_id")
    scored = (
        c.join(F.broadcast(q), ["band", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.max(
                cosine_with_norms(
                    "_query_id_v",
                    "_neighbor_id_v",
                    F.col("_query_id_n"),
                    F.col("_neighbor_id_n"),
                )
            ).alias("_cos")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("_cos", 6).alias("cosine"),
        )
    )


# Knuth/Fibonacci-style multipliers for the deterministic ordinal-pair
# schedule; the exact values only need to be fixed and well-mixing.
_WTA_MULT1, _WTA_MULT2 = 2654435761, 2246822519
_WTA_MOD = 2147483647


def wta_pairs(bits: int, tables: int, dim: int) -> list[list[tuple[int, int]]]:
    """Deterministic (i, j) dimension pairs (1-based, i != j) for the
    ordinal LSH bits: plain integer arithmetic, so the identical
    schedule is reproducible anywhere (including a SQL oracle) with no
    hashing library in the loop."""
    out = []
    for t in range(tables):
        row = []
        for b in range(bits):
            x = t * bits + b
            i = (x * _WTA_MULT1 + 1) % _WTA_MOD % dim + 1
            j0 = (x * _WTA_MULT2 + 7) % _WTA_MOD % (dim - 1) + 1
            j = j0 + 1 if j0 >= i else j0
            row.append((i, j))
        out.append(row)
    return out


def wta_bucket(vec: Column, pairs_row: list[tuple[int, int]], dim: int) -> Column:
    """Ordinal LSH bucket: the '0'/'1' pattern of pairwise coordinate
    comparisons ``v[i] > v[j]`` — the rank-correlation hash family
    (winner-take-all hashing). Unlike sign-of-dot-product planes, each
    bit is an EXACT comparison of two stored floats: no summation, so
    the bucket is bit-reproducible across engines and never flips on
    floating-point association order."""
    chars = [
        F.when(F.element_at(vec, i) > F.element_at(vec, j), "1").otherwise("0")
        for i, j in pairs_row
    ]
    return F.when(F.size(vec) >= dim, F.concat(*chars)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"wta_bucket: vector has fewer than {dim} dims; got size="),
                F.size(vec).cast("string"),
            )
        )
    )


def wta_sigs_expr(vec_col: str, pairs: list[list[tuple[int, int]]], dim: int) -> str:
    """SQL expression string producing ALL per-table WTA sig strings as
    one ``array<string>`` (table order = schedule order).

    Why a SQL string and not a Column tree: the column-DSL form of this
    kernel is ``tables × bits`` nested ``when(element_at > element_at)``
    builders — every one a driver→JVM round trip — and constructing it
    measured ~2 s of DRIVER time per query build at 26×4 (the execution
    itself is ~1.2 s; the bench was timing py4j, not Spark). One
    ``F.expr`` call ships the whole schedule in a single parse.

    Why FLAT ``array(concat(IF…))`` terms and not ``transform`` over a
    literal schedule array (the r7-initial form): higher-order
    functions are ``CodegenFallback`` — a transform-based signature
    projection runs INTERPRETED per row, outside whole-stage codegen
    (verified by plan inspection; the executed plan showed a bare
    ``Project`` above ``*(1) ColumnarToRow``). Spelling the schedule
    out as plain nested expressions keeps the one-parse driver cost
    AND compiles into the codegen stage
    (``test_wta_sigs_projection_is_codegened`` pins this). Term-count
    headroom under janino's 64 KB method cliff (documented at ~800
    terms for the sign-LSH family): 26×4 = 104 comparisons, ~8×
    margin; grow tables past that and the projection must split.

    The comparisons, their order, and the '1'/'0' encoding are
    unchanged, so bucket membership stays bit-identical to
    ``wta_bucket`` and to the SQL oracle (pinned by
    ``test_wta_sigs_expr_matches_wta_bucket``). Comparisons read the
    RAW float column — float comparison and double-cast comparison
    order identically (oracle compares raw elements too). ``vec_col``
    is spliced into SQL text, so it is backtick-quoted (a
    dotted/spaced/keyword column name would otherwise break parsing
    where the Column-based ``wta_bucket`` accepted any name); a name
    containing a backtick is rejected rather than escaped."""
    if "`" in vec_col:
        raise ValueError(
            f"wta_sigs_expr: column name {vec_col!r} contains a backtick"
        )
    vc = f"`{vec_col}`"
    tables_sql = ",".join(
        "concat("
        + ",".join(
            # wta_pairs indices are already 1-based (element_at's base)
            f"IF(element_at({vc},{i})>element_at({vc},{j}),'1','0')"
            for i, j in row
        )
        + ")"
        for row in pairs
    )
    return (
        f"CASE WHEN size({vc}) >= {dim} THEN array({tables_sql}) "
        f"ELSE raise_error(concat('wta_bucket: vector has fewer than "
        f"{dim} dims; got size=', cast(size({vc}) as string))) END"
    )


def cosine_knn_wta(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    bits: int = 8,
    tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k via multi-table ORDINAL LSH: ``tables``
    independent hash tables whose bits are pairwise coordinate
    comparisons (``wta_bucket`` semantics, built by ``wta_sigs_expr``);
    candidates collide in ANY table, then exact cosine ranks them.

    Same bounded fan-out as ``cosine_knn_sign_lsh`` (each row emits
    exactly ``tables`` band rows; the (band, sig) equi-join is the only
    shuffle), but the comparison bits use ALL coordinate information
    available to the schedule instead of the first tables*bits axis
    signs — and they are exact, so Spark and any oracle agree on bucket
    membership bit-for-bit.
    """
    pr = wta_pairs(bits, tables, dim)
    sig_arr = F.expr(wta_sigs_expr(vec_col, pr, dim))

    def banded(df, out_id):
        # Sigs live in their OWN projection (r6 finding: inlining the
        # comparison trees into the Generate input re-evaluated them
        # through the generator's consume path); posexplode_outer is
        # the posexplode analog of core.explode_nonempty — on this
        # literal-sized, never-empty array it is bit-identical to
        # posexplode but skips InferFiltersFromGenerate's size() filter,
        # which CollapseProject would otherwise feed the whole sig
        # expression a second time.
        sigs = df.select(
            F.col(id_col).alias(out_id),
            _as_double(F.col(vec_col)).alias(f"_{out_id}_v"),
            sig_arr.alias("_sigarr"),
        ).withColumn(
            # HOF dot (dim not forwarded): unrolled loses at this
            # query-kNN candidate volume (A/B, OPTIMIZATION_r12)
            f"_{out_id}_n", _dot_d(f"_{out_id}_v", f"_{out_id}_v", None)
        )
        return sigs.select(
            out_id,
            f"_{out_id}_v",
            f"_{out_id}_n",
            F.posexplode_outer("_sigarr").alias("band", "sig"),
        )

    q = banded(queries, "query_id")
    c = banded(corpus, "neighbor_id")
    scored = (
        c.join(F.broadcast(q), ["band", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.max(
                cosine_with_norms(
                    "_query_id_v",
                    "_neighbor_id_v",
                    F.col("_query_id_n"),
                    F.col("_neighbor_id_n"),
                )
            ).alias("_cos")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("_cos", 6).alias("cosine"),
        )
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization — the standard storage/serving
    compression for embedding columns (4x smaller than float32, 8x
    smaller than the double in flight here): per-vector scale
    ``max|v| / 127``, code ``q_d = round(v_d * 127 / max|v|)`` in
    [-127, 127].

    Pure projection (higher-order transform + posexplode) — runs at
    scan speed, no shuffle; emitted as (id, scale, pos, q) rows so the
    codes stay oracle-checkable (integer-exact in any engine).
    """
    v = _as_double(F.col(vec_col))
    vmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    # all-zero vector: quantize to zero codes (scale is already 0)
    # rather than raising ANSI DIVIDE_BY_ZERO on x * 127 / 0
    qarr = F.transform(
        v,
        lambda x: F.round(
            F.when(vmax != 0, x * 127 / vmax).otherwise(F.lit(0.0))
        ).cast("long"),
    )
    return df.select(
        F.col(id_col),
        F.round(vmax / 127, 9).alias("scale"),
        F.posexplode(qarr).alias("pos0", "q"),
    ).select(
        id_col,
        "scale",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        "q",
    )


def embedding_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid of an embedding column, emitted as
    (label, pos, centroid) rows with 1-based dimension positions.

    Plan: ``posexplode`` the vectors and hash-aggregate the mean per
    (label, pos). The explode multiplies rows by the dimension count,
    but partial (map-side) aggregation collapses them to
    |labels| x dims rows per task before the ONE shuffle — at 100 TB the
    exchange carries kilobytes per partition, not the corpus.
    """
    return (
        df.select(
            F.col(label_col).alias("label"),
            F.posexplode(_as_double(F.col(vec_col))).alias("_p", "_v"),
        )
        .groupBy("label", (F.col("_p") + 1).alias("pos"))
        .agg(F.round(F.avg("_v"), 6).alias("centroid"))
    )


def embedding_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    min_cosine: float = 0.2,
) -> DataFrame:
    """Embedding-space QA for labeled training data: each vector's
    cosine to its OWN label's centroid; rows below ``min_cosine`` are
    flagged as probable label noise / outliers.

    The centroid table is |labels| rows — reassembled to arrays with
    ``array_sort(collect_list(struct(pos, v)))`` and **broadcast**, so
    the corpus side is one map-side hash join + JVM ``zip_with``
    arithmetic: zero corpus shuffle, scan-speed at any scale.

    Returns (vec_id, label, cos_centroid, is_outlier).
    """
    cents = (
        embedding_centroids(df, vec_col, label_col)
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "centroid"))),
                lambda s: s["centroid"],
            ).alias("_cv")
        )
    )
    dim = None  # per-row centroid cosine; unrolled dot measured a loss
    return (
        df.select(
            F.col(id_col),
            F.col(label_col).alias("label"),
            _as_double(F.col(vec_col)).alias("_ev"),
        )
        .join(F.broadcast(cents), ["label"])
        .select(
            id_col,
            "label",
            F.round(cosine("_ev", "_cv", dim), 6).alias(
                "cos_centroid"
            ),
        )
        .withColumn("is_outlier", F.col("cos_centroid") < min_cosine)
    )


def embedding_label_spread(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label dispersion statistics via ``applyInPandas`` — the
    grouped-map Pandas API (numpy does the linear algebra per group):
    row count, total variance (trace of the covariance matrix), and
    mean vector norm.

    This is the batch grouped-map member of the engine's Python
    surface (``mapInPandas`` = multimodal decode,
    ``applyInPandasWithState`` = streaming sessionize) — used where a
    whole group must sit in one worker's memory as a matrix. That
    constraint is the scale contract: groups are LABELS (bounded
    cardinality, corpus/|labels| rows each); for unbounded groups use
    the decomposable-aggregate forms instead (``embedding_centroids``
    shows the shape — and the trace is also expressible that way,
    which is exactly what the DuckDB oracle does to value-check the
    numpy path).

    Returns (label, n, var_trace, mean_norm), floats rounded to 6.
    """
    import pandas as pd  # local import: driver may lack pandas at import time

    out_schema = (
        f"{label_col} int, n long, var_trace double, mean_norm double"
    )

    def spread(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        mat = np.vstack(pdf[vec_col].to_numpy())
        return pd.DataFrame(
            {
                label_col: [int(pdf[label_col].iloc[0])],
                "n": [len(pdf)],
                "var_trace": [round(float(np.var(mat, axis=0).sum()), 6)],
                "mean_norm": [
                    round(
                        float(np.sqrt((mat * mat).sum(axis=1)).mean()), 6
                    )
                ],
            }
        )

    return (
        df.select(F.col(label_col), _as_double(F.col(vec_col)).alias(vec_col))
        .groupBy(label_col)
        .applyInPandas(spread, out_schema)
        .orderBy(label_col)
    )
