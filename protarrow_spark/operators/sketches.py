"""Distributed sketch operators: KMV distinct-count and count-min.

Not in the reference (a conversion library, SURVEY.md §2.2); these are
the approximate-aggregation operators a 100 TB rollup pipeline leans
on when exact distinct/frequency state per group would not fit.

Design rule shared with the dedup family: every hash is md5-derived
(identical across engines) rather than Spark's murmur ``hash()``, so
the exact same sketch — registers, buckets, estimates — can be
reproduced by a single-threaded SQL oracle. Spark's built-in
``approx_count_distinct`` (HLL++) is the zero-effort alternative but
its register layout is engine-private and unverifiable; these
operators trade a little constant factor for bit-exact portability.

Scale notes:

* KMV: one shuffle to dedup (group, hash), one window over k rows per
  group. Sketch state is k 60-bit integers per group — mergeable
  (union of mins), so partial aggregation applies.
* CMS: one shuffle on (row, bucket) — d*w counters per table — plus a
  broadcast-sized join to read estimates back for candidate keys.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from protarrow_spark.sources.tables import materialize

#: KMV: estimate = (k-1) / normalized k-th minimum hash.
KMV_K = 64
#: 60-bit hash space (15 hex digits — fits a signed 64-bit integer).
KMV_HEX_DIGITS = 15
KMV_SPACE = float(2 ** (4 * KMV_HEX_DIGITS))

#: Count-min sketch: d independent rows of w counters.
CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_HEX_DIGITS = 8


def hex_to_long(col: Column, digits: int) -> Column:
    """First ``digits`` hex chars of an md5 digest as a BIGINT —
    portable: DuckDB spells it ``('0x' || substr(h,1,d))::BIGINT``."""
    return F.conv(F.substring(col, 1, digits), 16, 10).cast("bigint")


def _hex_to_long_sql(expr: str, digits: int) -> str:
    return f"CAST('0x' || substr({expr}, 1, {digits}) AS BIGINT)"


def kmv_distinct(
    df: DataFrame, group_col: str, value_col: str, k: int = KMV_K
) -> DataFrame:
    """K-minimum-values distinct-count estimate per group.

    Each distinct value hashes to a uniform 60-bit integer; the k-th
    smallest hash h_k estimates the distinct count as
    ``(k-1) / (h_k / 2^60)``. Groups with fewer than k distinct values
    report the exact count (the sketch IS the full value set there).

    Output: group, est_distinct (double), exact fallback applied.
    """
    hashed = df.select(
        F.col(group_col), hex_to_long(F.md5(F.col(value_col).cast("string")), KMV_HEX_DIGITS).alias("h")
    ).distinct()
    w = Window.partitionBy(group_col).orderBy("h")
    # Filtering rank <= k right after row_number lets Spark's
    # WindowGroupLimit rewrite keep only k rows per group per
    # partition BEFORE the window sort shuffle — the sketch never
    # materializes more than k hashes per group anywhere.
    ranked = hashed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    per_group = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_seen"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("hk"),
    )
    est = F.when(
        F.col("n_seen") < k, F.col("n_seen").cast("double")
    ).otherwise(F.lit(float(k - 1)) / (F.col("hk").cast("double") / F.lit(KMV_SPACE)))
    return per_group.select(F.col(group_col), est.alias("est_distinct"))


def kmv_distinct_oracle_sql(
    table: str, group_col: str, value_col: str, k: int = KMV_K
) -> str:
    """DuckDB SQL computing the identical KMV estimate."""
    h = _hex_to_long_sql(f"md5(CAST({value_col} AS VARCHAR))", KMV_HEX_DIGITS)
    return f"""
WITH hashed AS (
  SELECT DISTINCT {group_col}, {h} AS h FROM {table}
),
ranked AS (
  SELECT {group_col}, h,
         ROW_NUMBER() OVER (PARTITION BY {group_col} ORDER BY h) AS rn
  FROM hashed
),
per_group AS (
  SELECT {group_col}, COUNT(*) AS n_seen,
         MAX(CASE WHEN rn = {k} THEN h END) AS hk
  FROM ranked WHERE rn <= {k} GROUP BY {group_col}
)
SELECT {group_col},
       CASE WHEN n_seen < {k} THEN CAST(n_seen AS DOUBLE)
            ELSE {float(k - 1)} / (CAST(hk AS DOUBLE) / {KMV_SPACE})
       END AS est_distinct
FROM per_group
"""


def _cms_bucket(col: Column, j: int, width: int) -> Column:
    return (
        hex_to_long(F.md5(F.concat(F.lit(f"{j}|"), col.cast("string"))), CMS_HEX_DIGITS)
        % width
    )


def _cms_bucket_sql(expr: str, j: int, width: int) -> str:
    h = _hex_to_long_sql(f"md5('{j}|' || CAST({expr} AS VARCHAR))", CMS_HEX_DIGITS)
    return f"({h} % {width})"


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    topn: int = 20,
) -> DataFrame:
    """Count-min-sketch frequency estimates, reported for the top-n
    keys by estimated count (ties broken by key).

    The sketch is ``depth`` hash rows of ``width`` counters; a key's
    estimate is the min over its ``depth`` buckets — an upper bound on
    the true count, inflated only by collisions. Build cost: one
    groupBy over (row, bucket) with map-side partial aggregation;
    ``depth*width`` counters total regardless of table size. Readout
    joins the (small) sketch to the candidate key set.

    Output: key, est_count (long), true_count (long) — the true count
    is carried alongside to make over-estimation measurable.

    Build order matters at scale: raw rows are counted per key FIRST
    (one map-side-combined shuffle of plain counts — no hashing in
    the scan stage), then the ``depth`` md5 buckets are computed over
    the DISTINCT keys only, weighted by their counts. The counters
    are bit-identical to hashing every row (sum of per-key counts per
    cell), but the md5 work drops from rows x depth to
    distinct_keys x depth — on a heavy-hitter-shaped distribution
    (the only case this sketch is for) that is orders of magnitude.
    The count table is also exactly the probe-side candidate set, so
    it is materialized once and reused.
    """
    from protarrow_spark.sources.tables import spread

    keys = spread(df.select(F.col(key_col).alias("key")))
    counts = materialize(
        keys.groupBy("key")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    entries = counts.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _cms_bucket(F.col("key"), j, width).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("e"),
        F.col("true_count"),
    ).select("e.j", "e.bucket", "true_count")
    # The counter table is depth x width cells (1,024 at defaults) —
    # sketch-sized state. Collect it once and probe via a ONE-ROW
    # broadcast array indexed with element_at (r13 opt, the bloom-words
    # device): the former shape checkpointed the counters and ran one
    # broadcast JOIN per depth row (4 joins + a second checkpoint job
    # in every readout). A bucket with no counter row reads 0, which
    # can never be a probed key's minimum (its own count is in every
    # one of its buckets), so estimates are identical.
    cells = entries.groupBy("j", "bucket").agg(F.sum("true_count").alias("c")).collect()
    flat = [0] * (depth * width)
    for r in cells:
        flat[int(r["j"]) * width + int(r["bucket"])] = int(r["c"])
    spark = df.sparkSession
    cms_df = spark.createDataFrame([(flat,)], "__cms array<bigint>")

    probes = counts.select(
        "key",
        "true_count",
        *[_cms_bucket(F.col("key"), j, width).alias(f"b{j}") for j in range(depth)],
    ).crossJoin(F.broadcast(cms_df))
    est_count = F.least(
        *[
            F.element_at(
                "__cms", (F.col(f"b{j}") + F.lit(j * width + 1)).cast("int")
            )
            for j in range(depth)
        ]
    )
    ranked = probes.select("key", est_count.alias("est_count"), "true_count")
    # Top-n as TakeOrderedAndProject (scales: per-partition heads +
    # driver merge), THEN rank the tiny survivor set with a window —
    # never a single-partition window over all candidate keys.
    top = ranked.orderBy(F.desc("est_count"), F.asc("key")).limit(topn)
    w = Window.orderBy(F.desc("est_count"), F.asc("key"))
    return top.select(
        "key", "est_count", "true_count", F.row_number().over(w).cast("long").alias("rank")
    )


def cms_heavy_hitters_oracle_sql(
    table: str,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    topn: int = 20,
) -> str:
    """DuckDB SQL reproducing the identical sketch and estimates."""
    entries = "\nUNION ALL ".join(
        f"SELECT {j} AS j, {_cms_bucket_sql(key_col, j, width)} AS bucket FROM {table}"
        for j in range(depth)
    )
    probe_cols = ", ".join(
        f"{_cms_bucket_sql('key', j, width)} AS b{j}" for j in range(depth)
    )
    joins = "\n".join(
        f"JOIN sketch s{j} ON s{j}.j = {j} AND s{j}.bucket = p.b{j}" for j in range(depth)
    )
    least = ", ".join(f"s{j}.c" for j in range(depth))
    return f"""
WITH entries AS ({entries}),
sketch AS (SELECT j, bucket, COUNT(*) AS c FROM entries GROUP BY j, bucket),
candidates AS (SELECT {key_col} AS key, COUNT(*) AS true_count FROM {table} GROUP BY {key_col}),
probes AS (SELECT key, true_count, {probe_cols} FROM candidates),
est AS (
  SELECT p.key, LEAST({least}) AS est_count, p.true_count
  FROM probes p
  {joins}
),
ranked AS (
  SELECT key, est_count, true_count,
         ROW_NUMBER() OVER (ORDER BY est_count DESC, key) AS rank
  FROM est
)
SELECT key, est_count, true_count, rank FROM ranked WHERE rank <= {topn}
"""


def kmv_sketch(
    df: DataFrame, group_col: str, value_col: str, k: int = KMV_K
) -> DataFrame:
    """Materialized KMV sketch state: per group, the sorted array of
    its k smallest value hashes. This is the MERGEABLE form — union
    two sketches (any partition/day/source split) and re-take the
    k minima to get exactly the sketch of the union, which is what
    makes KMV viable as distributed partial state at 100 TB.

    Output: group, hs (array<bigint>, ascending, len <= k).
    """
    hashed = df.select(
        F.col(group_col),
        hex_to_long(F.md5(F.col(value_col).cast("string")), KMV_HEX_DIGITS).alias("h"),
    ).distinct()
    w = Window.partitionBy(group_col).orderBy("h")
    ranked = hashed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    return ranked.groupBy(group_col).agg(F.sort_array(F.collect_list("h")).alias("hs"))


def kmv_merge(a: DataFrame, b: DataFrame, group_col: str, k: int = KMV_K) -> DataFrame:
    """Union two KMV sketch frames: distinct hashes per group, keep
    the k smallest. ``merge(sketch(X), sketch(Y)) == sketch(X u Y)``
    exactly (hash sets, not estimates, are merged)."""
    u = a.unionByName(b).select(group_col, F.explode("hs").alias("h")).distinct()
    w = Window.partitionBy(group_col).orderBy("h")
    ranked = u.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    return ranked.groupBy(group_col).agg(F.sort_array(F.collect_list("h")).alias("hs"))


def kmv_estimate(sketch: DataFrame, group_col: str, k: int = KMV_K) -> DataFrame:
    """Estimate from sketch state — same formula as
    :func:`kmv_distinct` (exact count under k, else (k-1)/h_k)."""
    n = F.size("hs")
    hk = F.element_at("hs", k)
    est = F.when(n < k, n.cast("double")).otherwise(
        F.lit(float(k - 1)) / (hk.cast("double") / F.lit(KMV_SPACE))
    )
    return sketch.select(F.col(group_col), est.alias("est_distinct"))


#: Histogram-quantile sketch: fixed uniform bins between group min/max.
HIST_BINS = 1024


def histogram_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: tuple[float, ...] = (0.5, 0.9),
    bins: int = HIST_BINS,
) -> DataFrame:
    """Approximate quantiles from a fixed-bin histogram sketch.

    Two passes: (min, max, n) per group, then counts over
    ``bins`` uniform buckets; the q-quantile estimate is the LOWER
    EDGE of the first bin whose cumulative count reaches
    ``ceil(q * n)``. Error is bounded by one bin width. The sketch is
    trivially mergeable (vector addition of counts) and every
    arithmetic step is single IEEE ops (sub/div/mul/floor), so an
    independent SQL engine reproduces the estimate bit-for-bit —
    unlike t-digest/KLL whose merge order changes results.

    Output: group, q50/q90/... (double).
    """
    stats = df.groupBy(group_col).agg(
        F.min(F.col(value_col).cast("double")).alias("lo"),
        F.max(F.col(value_col).cast("double")).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    v = F.col(value_col).cast("double")
    binned = (
        df.join(F.broadcast(stats), group_col)
        .select(
            F.col(group_col),
            # Degenerate group (all values equal, or one row): hi == lo
            # makes the scale 0/0 = NaN; Spark floors NaN to 0 while other
            # engines raise on the cast. Pin bin 0 explicitly on both sides.
            F.when(F.col("hi") == F.col("lo"), F.lit(0))
            .otherwise(
                F.least(
                    F.lit(bins - 1),
                    F.floor((v - F.col("lo")) / (F.col("hi") - F.col("lo")) * bins),
                )
            )
            .alias("b"),
        )
        .groupBy(group_col, "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy(group_col).orderBy("b")
    cum = binned.withColumn("cum", F.sum("c").over(w))
    edges = cum.join(F.broadcast(stats), group_col)
    aggs = []
    for q in qs:
        target = F.ceil(F.lit(q) * F.col("n"))
        hit_bin = F.min(F.when(F.col("cum") >= target, F.col("b")))
        aggs.append(hit_bin.alias(f"_b{int(q * 100)}"))
    per_group = edges.groupBy(group_col, "lo", "hi").agg(*aggs)
    outs = [
        (
            F.col("lo")
            + F.col(f"_b{int(q * 100)}") * (F.col("hi") - F.col("lo")) / F.lit(float(bins))
        ).alias(f"q{int(q * 100)}")
        for q in qs
    ]
    return per_group.select(F.col(group_col), *outs)


def histogram_quantiles_oracle_sql(
    table: str,
    group_col: str,
    value_col: str,
    qs: tuple[float, ...] = (0.5, 0.9),
    bins: int = HIST_BINS,
) -> str:
    """DuckDB SQL reproducing the identical histogram estimates."""
    b = (
        f"CASE WHEN hi = lo THEN 0 ELSE "
        f"LEAST({bins - 1}, CAST(FLOOR((CAST({value_col} AS DOUBLE) - lo)"
        f" / (hi - lo) * {bins}) AS BIGINT)) END"
    )
    hit_cols = ",\n         ".join(
        f"MIN(CASE WHEN cum >= CEIL({q} * n) THEN b END) AS _b{int(q * 100)}"
        for q in qs
    )
    out_cols = ",\n       ".join(
        f"lo + _b{int(q * 100)} * (hi - lo) / {float(bins)} AS q{int(q * 100)}"
        for q in qs
    )
    return f"""
WITH stats AS (
  SELECT {group_col}, MIN(CAST({value_col} AS DOUBLE)) AS lo,
         MAX(CAST({value_col} AS DOUBLE)) AS hi, COUNT(*) AS n
  FROM {table} GROUP BY {group_col}
),
binned AS (
  SELECT t.{group_col}, {b} AS b, COUNT(*) AS c
  FROM {table} t JOIN stats USING ({group_col})
  GROUP BY t.{group_col}, 2
),
cum AS (
  SELECT {group_col}, b, SUM(c) OVER (PARTITION BY {group_col} ORDER BY b) AS cum
  FROM binned
),
hits AS (
  SELECT c.{group_col}, lo, hi,
         {hit_cols}
  FROM cum c JOIN stats USING ({group_col})
  GROUP BY c.{group_col}, lo, hi, n
)
SELECT {group_col},
       {out_cols}
FROM hits
"""


#: Bloom filter: m bits packed 32-per-BIGINT word (32-bit masks stay
#: positive, sidestepping engine-specific signed-shift semantics),
#: k hash functions via double hashing. 2^18 bits = 8,192 BIGINT words
#: (~64 KiB broadcast) keeps the false-positive rate under 1% up to
#: ~27k keys; size bits ~ 10x key count for ~1% FP at k=4.
BLOOM_BITS = 1 << 18
BLOOM_WORD = 32
BLOOM_HASHES = 4


def _bloom_h12(col: Column, bits: int = BLOOM_BITS) -> tuple[Column, Column]:
    """Two independent xxhash64-derived hashes, reduced mod ``bits``;
    all ``hashes`` bit positions derive from them as
    ``(h1 + j*h2) % bits`` (Kirsch-Mitzenmacher double hashing) — the
    false-positive rate matches k independent hashes while the per-row
    digest work stays at TWO hash calls regardless of k.

    xxhash64 on the RAW key replaces the former md5-of-string pair
    (r13 opt, guide §4.1 built-ins): the filter is engine-internal
    state — every consumer's oracle is the exact join the filter
    merely pre-prunes, so the bit pattern is free to use the cheapest
    well-mixed hash Spark has (native codegen, no string conversion,
    measured ~1 s/600k-row probe stage -> ~0.1 s). The distinct
    literal prefixes make the two streams independent; pmod keeps both
    in [0, bits) so the combined position arithmetic cannot overflow
    int64. Partitioning-invariance (same key -> same bits on any
    layout) still holds — xxhash64 is a pure row function."""
    # coalesce-to-0 marks the digests non-nullable (xxhash64 of the
    # lit-prefixed tuple never is), so join-key null-inference cannot
    # push an isnotnull filter below the parallelizing repartition.
    h1 = F.coalesce(
        F.pmod(F.xxhash64(F.lit("bf1"), col), F.lit(bits)),
        F.lit(0).cast("bigint"),
    )
    h2 = F.coalesce(
        F.pmod(F.xxhash64(F.lit("bf2"), col), F.lit(bits)),
        F.lit(0).cast("bigint"),
    )
    return h1, h2


def _bloom_pos(h1: Column, h2: Column, j: int, bits: int) -> Column:
    return (h1 + F.lit(j) * h2) % bits


def _bloom_mask(pos: Column) -> Column:
    """1 << (pos % 32) via a 32-entry literal lookup (shiftleft's
    shift amount must be a literal in the DataFrame API)."""
    masks = F.array(*[F.lit(1 << b).cast("bigint") for b in range(BLOOM_WORD)])
    return F.element_at(masks, (pos % BLOOM_WORD).cast("int") + 1)


def bloom_build(
    keys: DataFrame,
    key_col: str,
    bits: int = BLOOM_BITS,
    hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Build a Bloom filter over a key set as a (word, bits) table.

    Spark's own runtime filters (InjectRuntimeFilter) do this
    implicitly for eligible joins; this is the explicit, composable
    version — the filter is a first-class DataFrame that can be
    persisted, shipped across jobs, or unioned (bit_or merge) with
    another filter built with the same parameters, which the
    optimizer's internal filter cannot.

    Each key sets ``hashes`` bits; positions come from xxhash64
    double-hashing (two native seeded digests combined h1 + i*h2,
    pmod-bounded — partitioning-invariant, and engine-internal: every
    consumer's oracle is the exact join the filter pre-prunes, so the
    bit patterns never need to match another engine). Output is at most
    ``bits/32`` rows (8,192 at defaults) REGARDLESS of key count —
    the explode fans out ``hashes`` rows per key and the groupBy
    collapses them with map-side partial bit_or aggregation, so the
    shuffle carries at most ``n_partitions * bits/32`` tiny rows.
    """
    from protarrow_spark.sources.tables import spread

    h1, h2 = _bloom_h12(F.col(key_col))
    exploded = spread(keys.select(F.col(key_col))).select(
        F.explode(
            F.array(*[_bloom_pos(h1, h2, j, bits) for j in range(hashes)])
        ).alias("pos")
    )
    return (
        exploded.select(
            F.shiftright(F.col("pos"), 5).cast("int").alias("word"),
            _bloom_mask(F.col("pos")).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_prefilter(
    probe: DataFrame,
    bloom: DataFrame,
    key_col: str,
    bits: int = BLOOM_BITS,
    hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Drop probe rows whose key is definitely not in the filter.

    The built filter is at most ``bits/32`` words (~64 KiB at the
    defaults) — sketch state, not data — so it moves to the driver
    once and probes as a constant-folded LITERAL word array: the k
    bit tests are pure ``element_at`` + mask arithmetic in the probe
    side's scan-stage projection, with NO join in the plan at all
    (the same way Spark's own InjectRuntimeFilter ships its bloom as
    a broadcast value, not a joinable relation). The probe side is
    never shuffled; at 100 TB the rows entering any downstream exact
    join/shuffle drop to true matches + the false-positive rate
    (<1% while keys <= bits/10 at 4 probes). False positives pass;
    callers needing exactness follow with the exact join (see
    ``queries/relational.py::join_bloom_prefilter``, whose oracle is
    the plain semi join — the filter must be result-invisible).
    """
    # <= bits/32 tiny rows: the standard sketch-to-driver move (IVF
    # centroids, dense-vocab probe). Absent words hold zero bits. The
    # packed word array ships back as a ONE-ROW broadcast joined on a
    # constant key — a true broadcast variable the executors index
    # with element_at. (An inline array literal would be rebuilt per
    # row by CreateArray — measured 4x slower than even the per-probe
    # join formulation.)
    word_bits = {r["word"]: r["bits"] for r in bloom.collect()}
    packed = [word_bits.get(w, 0) for w in range(bits // BLOOM_WORD)]
    spark = probe.sparkSession
    words_df = spark.createDataFrame([(packed,)], "__bf_words array<bigint>")

    h1, h2 = _bloom_h12(F.col(key_col))
    # The two digests are materialized ONCE per row in a projection;
    # each probe's word lookup and bit test are plain arithmetic over
    # them (md5 inside the filter would be re-evaluated per probe).
    # The one-row cross join plans as a single-row BroadcastNestedLoop
    # — the pinned bounded-broadcast shape, not an all-pairs join.
    out = (
        probe.withColumn("__bf_h1", h1)
        .withColumn("__bf_h2", h2)
        .crossJoin(F.broadcast(words_df))
    )
    cond = None
    for j in range(hashes):
        pos = _bloom_pos(F.col("__bf_h1"), F.col("__bf_h2"), j, bits)
        word = F.element_at(F.col("__bf_words"), F.shiftright(pos, 5).cast("int") + 1)
        test = word.bitwiseAND(_bloom_mask(pos)) != 0
        cond = test if cond is None else (cond & test)
    return out.filter(cond).drop("__bf_h1", "__bf_h2", "__bf_words")


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch
# ---------------------------------------------------------------------------

#: HLL precision: p=8 -> m=256 registers (~6.5% relative error).
HLL_P = 8
HLL_M = 1 << HLL_P
#: Tail width after the register index: 13 hex digits = 52 bits.
HLL_TAIL_HEX = 13
HLL_TAIL_BITS = 4 * HLL_TAIL_HEX
#: alpha_m * m^2 * 2^(TAIL_BITS+1): the full numerator of the raw HLL
#: estimate as ONE precomputed double literal, so both engines do a
#: single multiply-free division — bit-identical IEEE arithmetic.
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
HLL_NUMERATOR = HLL_ALPHA * HLL_M * HLL_M * float(1 << (HLL_TAIL_BITS + 1))

#: Leading-zero-bit count of a hex nibble's 4 bits (for the first
#: non-zero digit of the tail).
_NIBBLE_LZ = {
    **{d: 3 for d in "1"},
    **{d: 2 for d in "23"},
    **{d: 1 for d in "4567"},
    **{d: 0 for d in "89abcdef"},
}


def hll_registers(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-(group, register) max-rho HLL state — the mergeable sketch.

    The value's md5 hex digest supplies everything: the first 2 hex
    digits are the register index (8 bits), the next 13 hex digits are
    the 52-bit tail whose leading-zero count (+1) is rho. All string /
    integer arithmetic — no engine-private hashing, so a SQL oracle
    reproduces the registers bit-for-bit. Register state merges by MAX,
    so partial aggregation (map-side combine) applies and per-group
    state is <= 256 small integers regardless of input size.
    """
    reg, rho = hll_register_cols(value_col)
    return (
        df.select(F.col(group_col), reg.alias("register"), rho.alias("rho"))
        .groupBy(group_col, "register")
        .agg(F.max("rho").alias("r"))
    )


def hll_register_cols(value_col: str) -> tuple[Column, Column]:
    """The (register, rho) expressions for one value — shared by the
    batch groupBy build and the streaming stateful MAX aggregation."""
    digest = F.md5(F.col(value_col).cast("string"))
    reg = F.conv(F.substring(digest, 1, 2), 16, 10).cast("int")
    tail = F.substring(digest, 3, HLL_TAIL_HEX)
    stripped = F.regexp_replace(tail, "^0+", "")
    nz_hex = F.lit(HLL_TAIL_HEX) - F.length(stripped)
    first = F.substring(stripped, 1, 1)
    nib_lz = F.coalesce(
        *[F.when(first == d, F.lit(lz)) for d, lz in _NIBBLE_LZ.items()],
        F.lit(0),
    )
    rho = (
        F.when(F.length(stripped) == 0, F.lit(HLL_TAIL_BITS + 1))
        .otherwise(nz_hex * 4 + nib_lz + 1)
        .cast("long")
    )
    return reg, rho


def hll_finalize(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Register table (group..., register, r) -> per-group estimate,
    identical arithmetic to :func:`hll_distinct` (exact-integer
    harmonic denominator, one double division)."""
    shift = HLL_TAIL_BITS + 1
    per_group = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.expr(f"shiftleft(1L, cast({shift} - r as int))")).alias("present_sum"),
    )
    n_zero = (F.lit(HLL_M) - F.col("n_present")).cast("long")
    total = (F.col("present_sum") + n_zero * F.lit(1 << shift)).cast("long")
    return per_group.select(
        *group_cols,
        n_zero.alias("n_zero_registers"),
        total.alias("hll_sum"),
        (F.lit(HLL_NUMERATOR) / total.cast("double")).alias("est_distinct"),
    )


def hll_distinct(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """HyperLogLog distinct-count estimate per group (p=8, m=256).

    The harmonic mean is computed EXACTLY: sum of 2^(53 - r) over all
    registers (absent registers contribute r=0 -> 2^53) is a plain
    bigint — order-invariant, partition-invariant — and the estimate
    is one double division of a precomputed literal numerator by that
    integer. No engine-private float accumulation anywhere.

    Output: group, n_zero_registers, hll_sum (the exact integer
    harmonic denominator scaled by 2^53), est_distinct (double).
    Small-range linear-counting correction is intentionally omitted
    (ln() is libm-dependent); the raw estimate is the portable one and
    the zero-register count is exposed so a caller can apply any
    correction policy downstream.
    """
    return hll_finalize(hll_registers(df, group_col, value_col), [group_col])


def hll_distinct_oracle_sql(table: str, group_col: str, value_col: str) -> str:
    """DuckDB SQL reproducing the identical registers and estimate."""
    shift = HLL_TAIL_BITS + 1
    nib_case = " ".join(
        f"WHEN '{d}' THEN {lz}" for d, lz in _NIBBLE_LZ.items()
    )
    return f"""
WITH hashed AS (
  SELECT {group_col},
         md5(CAST({value_col} AS VARCHAR)) AS dg
  FROM {table}
),
rhos AS (
  SELECT {group_col},
         CAST('0x' || substr(dg, 1, 2) AS BIGINT) AS register,
         CASE WHEN length(regexp_replace(substr(dg, 3, {HLL_TAIL_HEX}), '^0+', '')) = 0
              THEN {shift}
              ELSE ({HLL_TAIL_HEX} - length(regexp_replace(substr(dg, 3, {HLL_TAIL_HEX}), '^0+', ''))) * 4
                   + (CASE substr(regexp_replace(substr(dg, 3, {HLL_TAIL_HEX}), '^0+', ''), 1, 1)
                      {nib_case} ELSE 0 END)
                   + 1
         END AS rho
  FROM hashed
),
regs AS (
  SELECT {group_col}, register, MAX(rho) AS r FROM rhos GROUP BY {group_col}, register
),
per_group AS (
  -- 2.0 ** e is an exact power of two for e <= {shift}; the cast to
  -- BIGINT before SUM keeps the harmonic denominator exact-integer
  -- (a double SUM would lose exactness past 2^53).
  SELECT {group_col}, COUNT(*) AS n_present,
         SUM(CAST(2.0 ** ({shift} - r) AS BIGINT)) AS present_sum
  FROM regs GROUP BY {group_col}
),
totals AS (
  SELECT {group_col},
         CAST({HLL_M} - n_present AS BIGINT) AS n_zero_registers,
         CAST(present_sum + ({HLL_M} - n_present) * CAST(2.0 ** {shift} AS BIGINT) AS BIGINT) AS hll_sum
  FROM per_group
)
SELECT {group_col}, n_zero_registers, hll_sum,
       {HLL_NUMERATOR!r} / CAST(hll_sum AS DOUBLE) AS est_distinct
FROM totals
"""


# ---------------------------------------------------------------------------
# Bottom-k sample-quantile sketch (r8)
# ---------------------------------------------------------------------------

#: Default bottom-k sample size for the quantile sketch.
BOTTOMK_K = 256


def bottomk_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    k: int = BOTTOMK_K,
    qs: tuple[float, ...] = (0.5, 0.9),
) -> DataFrame:
    """Quantile estimates from a BOTTOM-K uniform sample sketch.

    The sketch state per group is the k rows whose ``md5(id)`` hashes
    are smallest — a deterministic uniform sample that is genuinely
    MERGEABLE (bottom-k of a union = bottom-k of the merged bottom-ks,
    the same property KMV exploits), so shards sketch independently and
    a coordinator merges k-sized states. The q-quantile estimate is
    the ceil(q*m)-th smallest value in the sample (m = min(n, k)),
    giving rank error O(sqrt(q(1-q)/k)) — the classical sample-quantile
    bound — with NO data-dependent merge order: unlike t-digest/KLL,
    every step is reproducible bit-for-bit on an independent engine,
    which is what lets the gate hash-verify it.

    Plan shape: one WindowGroupLimit (the same rewrite the hash/top-k
    samplers lean on — rank <= k prunes per partition before the
    shuffle) + one k-bounded per-group sort. The full column is never
    collected anywhere.
    """
    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    sample = (
        df.select(group_col, value_col, id_col)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
    )
    per_group = sample.groupBy(group_col).agg(
        F.sort_array(
            F.collect_list(F.col(value_col).cast("double"))
        ).alias("_vs"),
        F.count(F.lit(1)).alias("_m"),
    )
    outs = [
        F.element_at(
            F.col("_vs"),
            F.greatest(
                F.lit(1), F.ceil(F.lit(q) * F.col("_m")).cast("int")
            ),
        ).alias(f"est_q{int(q * 100)}")
        for q in qs
    ]
    return per_group.select(F.col(group_col), *outs)


def bottomk_quantiles_oracle_sql(
    table: str,
    group_col: str,
    value_col: str,
    id_col: str,
    k: int = BOTTOMK_K,
    qs: tuple[float, ...] = (0.5, 0.9),
) -> str:
    """DuckDB SQL reproducing the identical bottom-k estimates."""
    est_cols = ",\n       ".join(
        f"_vs[greatest(1, CAST(ceil({q} * _m) AS INT))] AS est_q{int(q * 100)}"
        for q in qs
    )
    return f"""
WITH ranked AS (
  SELECT {group_col}, CAST({value_col} AS DOUBLE) AS _v,
         ROW_NUMBER() OVER (
           PARTITION BY {group_col}
           ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}
         ) AS _rn
  FROM {table}
),
grp AS (
  SELECT {group_col}, list_sort(list(_v)) AS _vs, COUNT(*) AS _m
  FROM ranked WHERE _rn <= {k}
  GROUP BY {group_col}
)
SELECT {group_col},
       {est_cols}
FROM grp
"""
