"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (a conversion library, SURVEY.md §2.2);
these are the north-star LLM-pipeline operators, built Spark-first:

* exact:    hash-groupBy on a canonical text digest — one shuffle.
* n-gram pairs: one shingle-pair path (``_shingle_pairs``) counts
  each document pair's shared shingles under a document-frequency cap
  (so hot shingles can't quadratically blow up the join at 100 TB)
  next to both full set sizes; Jaccard, containment and the Jaccard
  band histogram are projections of that one count, taken on a sparse
  inverted-index join or a blocked dense matmul. Intersection counts
  exclude capped shingles, so the reported scores are lower bounds
  once the cap triggers.
* MinHash + LSH: shingle -> k minhashes -> banded keys -> bucket
  equi-join. Turns all-pairs similarity into a shuffle join on band
  keys; estimated Jaccard from signature agreement.
* SimHash: 32-bit signature via per-token md5 bit voting; near-dups
  share signatures (hamming-0 grouping here; banded hamming-k probing
  is the same join pattern on signature chunks).

Everything uses md5 (identical across engines) rather than Spark's
murmur ``hash()`` so results are verifiable against any SQL oracle.
"""

from __future__ import annotations

import operator
import sys
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from protarrow_spark.functions.text import text_ngrams, tokens
from protarrow_spark.sources.tables import materialize, spread

#: Shared constants — the DuckDB oracle SQL is generated from the same
#: values (queries/dedup.py), so Spark and oracle always agree.
NGRAM_N = 3
MINHASH_K = 8
LSH_BANDS = 4  # 2 rows per band
JACCARD_THRESHOLD = 0.5
#: Shingles appearing in more than this many documents are excluded
#: from candidate generation (not from verification) — bounds the
#: inverted-index join fan-out at scale.
MAX_SHINGLE_DF = 10_000
SIMHASH_BITS = 32
_HEX = "0123456789abcdef"


def doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int = NGRAM_N) -> DataFrame:
    """Distinct (id, shingle) pairs.

    ``spread`` parallelizes the explode+hash pipeline when the scan is
    a single compact row group (the local-test regime); at scale the
    scan is already wide and it is a no-op.

    Dedup happens BEFORE the explode with a per-row ``array_distinct``
    (r13 opt, guide §2.4 "a distinct on data that is already unique"):
    the former ``.distinct()`` keyed on (id, g), so it only ever
    removed within-document repeats — exactly what array_distinct does
    in the scan-stage projection — yet it cost a full shuffle of the
    entire shingle stream, the widest data in every dedup path.
    """
    return spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.explode(F.array_distinct(text_ngrams(F.col(text_col), n))).alias("g"),
    )


def exact_duplicate_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via hash-groupBy: one row per distinct text with the
    canonical (minimum) id and the duplicate count.

    Scale: single shuffle on a 128-bit digest — uniformly distributed,
    no skew; the text itself never shuffles.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_md5"), F.col(id_col))
        .groupBy("text_md5")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = JACCARD_THRESHOLD,
    n: int = NGRAM_N,
    max_df: int = MAX_SHINGLE_DF,
    dense_vocab_cap: int | None = None,
    block_size: int = 2048,
) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard similarity.

    Candidate pairs share at least one shingle with document frequency
    <= ``max_df``. The intersection count ``n_common`` is computed over
    those capped shingles while the set sizes use the full shingle
    sets, so once ``max_df`` triggers the reported Jaccard is a *lower
    bound* of the true Jaccard (pairs held together only by
    corpus-wide boilerplate shingles are deliberately down-weighted at
    scale). The physical strategy (sparse join or blocked dense
    matmul, same rows either way) is :func:`_shingle_pairs`'.

    Output: doc_a, doc_b, n_common, jaccard (double).
    """
    return _shingle_pairs(
        df, id_col, text_col, "jaccard", threshold, n, max_df, dense_vocab_cap, block_size
    )


#: Pair scores as functions of (n_common, n_a, n_b). Written once and
#: evaluated on Spark Columns by the sparse join and on int64 numpy
#: arrays by the dense kernel, so both paths divide the same integers
#: into the same doubles — the same expressions the oracle SQL runs.
_SCORES = {
    "jaccard": lambda c, a, b: c / (a + b - c),
    "containment_a": lambda c, a, b: c / a,
    "containment_b": lambda c, a, b: c / b,
}

#: mode -> (output schema, scores of which any must reach the
#: threshold); ``{id}`` is the id column's type. "sizes" is the
#: Jaccard pair stream plus both full set sizes, from which any band
#: histogram can be recomputed; "bands" is that histogram,
#: (band_scale * n_common) div union per pair, counted in-task on the
#: dense path.
_MODES = {
    "jaccard": ("doc_a {id}, doc_b {id}, n_common bigint, jaccard double", ("jaccard",)),
    "sizes": (
        "doc_a {id}, doc_b {id}, n_common bigint, jaccard double, n_a bigint, n_b bigint",
        ("jaccard",),
    ),
    "containment": (
        "doc_a {id}, doc_b {id}, n_common bigint, "
        "containment_a double, containment_b double",
        ("containment_a", "containment_b"),
    ),
    "bands": ("band bigint, n_pairs bigint", ("jaccard",)),
}


def _columns(mode: str) -> list[str]:
    return [f.split()[0] for f in _MODES[mode][0].split(", ")]


def _shingle_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    mode: str,
    threshold: float,
    n: int,
    max_df: int,
    dense_vocab_cap: int | None,
    block_size: int,
    band_scale: int = 20,
) -> DataFrame:
    """The one shingle-pair path: 60-bit md5 shingle keys, then per
    pair ``n_common`` (shared shingles of document frequency <=
    ``max_df``) and the full set sizes ``n_a``/``n_b``, projected to
    ``mode``'s columns (see ``_MODES``).

    Adaptive physical strategy (same rows either way):

    * **Sparse path** (default): inverted-index self-join on the
      shingle keys, one row per (pair, shared shingle). A hash
      collision would merely merge two shingles on BOTH engines (the
      oracle applies the identical hash), so verification is
      unaffected. Right when shared-shingle volume is sparse — the
      normal regime for real text.
    * **Dense path** (opt-in via ``dense_vocab_cap``; probing costs a
      full vocab scan, so the caller asserts density rather than every
      sparse-regime call paying to discover it isn't): when the
      distinct-shingle count fits the cap, the shingle space is
      structurally dense — almost every pair overlaps, and the join
      would emit Theta(pairs x shared) rows (224M at sf0.1 on the
      synthetic corpus, 112 s). Instead :func:`_jaccard_dense_blocked`
      counts every pair's intersection with blocked matmuls: 112 s ->
      7 s at sf0.1 (vs 15.6 s for single-node DuckDB), identical rows.
    """
    grams = doc_shingles(df, id_col, text_col, n).select(
        F.col(id_col),
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("bigint").alias("g"),
    )
    if dense_vocab_cap:
        # The dense decision path runs THREE actions over the shingle
        # stream (vocab probe, doc count, the matmul job); materialize
        # it once so the scan+explode+distinct pipeline isn't re-run
        # per action (r13 opt: 3 full shingle pipelines -> 1).
        grams = materialize(grams)
    vocab = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df_g"))
    if dense_vocab_cap:
        # Probe by collecting up to cap+1 vocab rows: if the vocab fits,
        # the collected rows ARE the index — the dense path reuses them
        # instead of rescanning the corpus for the vocabulary.
        probe = vocab.limit(dense_vocab_cap + 1).collect()
        if len(probe) <= dense_vocab_cap:
            return _jaccard_dense_blocked(
                grams, df.count(), probe, id_col, mode, threshold, max_df,
                block_size, band_scale,
            )
    return _jaccard_sparse_pairs(grams, vocab, id_col, mode, threshold, max_df, band_scale)


def _jaccard_sparse_pairs(
    grams: DataFrame,
    vocab: DataFrame,
    id_col: str,
    mode: str,
    threshold: float,
    max_df: int,
    band_scale: int,
) -> DataFrame:
    """Sparse regime: rare-shingle self-join -> ``n_common`` per pair
    -> join of both full set sizes, then the mode's scores."""
    sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    rare = grams.join(vocab.filter(F.col("df_g") <= max_df).select("g"), "g")
    a = rare.select(F.col(id_col).alias("doc_a"), "g")
    b = rare.select(F.col(id_col).alias("doc_b"), "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_grams").alias("n_b"))
    pairs = inter.join(sa, "doc_a").join(sb, "doc_b")
    scores = _MODES[mode][1]
    for s in scores:
        pairs = pairs.withColumn(s, _SCORES[s](F.col("n_common"), F.col("n_a"), F.col("n_b")))
    pairs = pairs.filter(reduce(operator.or_, (F.col(s) >= threshold for s in scores)))
    if mode == "bands":
        # The pair stream stays JVM-side (no Arrow hop), so banding
        # after the join costs one codegen'd projection.
        band = F.expr(f"({band_scale} * n_common) div (n_a + n_b - n_common)")
        return (
            pairs.select(band.alias("band"))
            .groupBy("band")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        )
    return pairs.select(*_columns(mode))


def _jaccard_dense_blocked(
    grams: DataFrame,
    n_docs: int,
    vocab_rows: list,
    id_col: str,
    mode: str,
    threshold: float,
    max_df: int,
    block_size: int,
    band_scale: int,
) -> DataFrame:
    """Dense-vocab regime: blocked all-pairs intersection counting.

    Docs are assigned to ``ceil(n / block_size)`` blocks by id hash;
    each unordered block pair (i <= j) cogroups once, and one
    ``A @ B.T`` float32 matmul over doc x vocab 0/1 incidence
    matrices produces every pairwise intersection count in the block
    pair (exact: counts <= vocab < 2^24). Data moved is n_blocks x
    corpus rows — the right trade exactly when the output itself is
    near-quadratic. Shingles over ``max_df`` are excluded from the
    matrices (candidate semantics) while ``n_grams`` sizes keep the
    full sets, and only pairs sharing a counted shingle are kept —
    identical semantics to the sparse path. In "bands" mode each task
    reduces its pairs to a ~band_scale-row histogram (aggregation
    pushdown): the pair stream never crosses the Arrow boundary or a
    shuffle.
    """
    import numpy as np
    import pandas as pd

    # The caller's bounded probe collect (<= dense_vocab_cap rows) IS
    # the index, exactly like IVF centroids — no second vocab scan.
    # Kept as a SORTED int64 array: the per-block incidence build uses
    # one vectorized searchsorted over the flattened gram stream
    # instead of a per-gram Python dict probe (r13 opt).
    vocab_vals = np.array(
        sorted(x["g"] for x in vocab_rows if x["df_g"] <= max_df), dtype=np.int64
    )
    v = len(vocab_vals)

    # n_blocks only partitions ids by hash — ANY positive count gives
    # identical results, so callers pass the cheap base-table count
    # instead of the former aggregate-the-gram-stream-and-count job
    # (one full shuffle of the widest stream, r13 opt, guide §2.4).
    n_blocks = max(1, -(-n_docs // block_size))

    # n_grams folds into the same aggregate as the gram array (grams
    # are distinct per doc, so count == array size) — the former
    # separate `sizes` join was a second shuffle of the whole doc
    # stream for a value the aggregate already knows (r13 opt:
    # guide §2.4, one exchange instead of two + join).
    doc_vecs = (
        grams.groupBy(id_col)
        .agg(
            F.collect_list("g").alias("gs"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .withColumn("blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)))
    )
    # Replicate each doc row to every block pair it participates in:
    # doc in block b joins groups (min(b,o), max(b,o)) for all o.
    pairs = doc_vecs.select(
        F.col(id_col),
        "gs",
        "n_grams",
        "blk",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("other"),
    ).select(
        F.col(id_col),
        "gs",
        "n_grams",
        "blk",
        F.least("blk", "other").alias("gi"),
        F.greatest("blk", "other").alias("gj"),
    )

    schema, scores = _MODES[mode]
    out_cols = _columns(mode)
    # A pair scores above 0 exactly when it shares a counted shingle,
    # so a threshold floored at the smallest positive double keeps
    # only those pairs, as the sparse join does — at no per-pair cost.
    threshold = max(threshold, sys.float_info.min)

    # Row-chunked postprocessing of the intersection matrix (r13 opt,
    # guide §5 "per-task state"): the former code materialized the full
    # pair stream as ~20 fresh block_size^2-element arrays per group
    # (meshgrid indices, fancy-gather copies, union/score vectors) —
    # O(pairs) scratch whose allocation cost dominates the matmul
    # itself on hosts where first-touch page faults are expensive
    # (measured 28 s vs 0.5 s of BLAS for one sf0.1 block pair on this
    # box). Iterating row chunks with same-shaped scratch keeps the
    # working set at a few MB per task — the allocator reuses the same
    # pages across chunks — and bounds task memory regardless of block
    # size.
    CHUNK_ROWS = 256

    def block_pair(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        gi, gj = int(key[0]), int(key[1])
        empty = pd.DataFrame({c: [] for c in out_cols})

        def dense(sub: pd.DataFrame) -> tuple:
            sub = sub.sort_values(id_col).reset_index(drop=True)
            m = np.zeros((len(sub), v), dtype=np.float32)
            if v:
                lens = np.fromiter(
                    (len(x) for x in sub["gs"].values), dtype=np.int64, count=len(sub)
                )
                flat = np.concatenate(
                    [np.asarray(x, dtype=np.int64) for x in sub["gs"].values]
                ) if lens.sum() else np.empty(0, dtype=np.int64)
                rows = np.repeat(np.arange(len(sub)), lens)
                idx = np.searchsorted(vocab_vals, flat)
                ok = (idx < v) & (vocab_vals[np.minimum(idx, v - 1)] == flat)
                m[rows[ok], idx[ok]] = 1.0
            return sub[id_col].values, sub["n_grams"].to_numpy(), m

        if gi == gj:
            ids_l, ng_l, ml = dense(pdf)
            if len(ids_l) < 2:
                return empty
            ids_r, ng_r, mr = ids_l, ng_l, ml
            triu = True
        else:
            a = pdf[pdf["blk"] == gi]
            b = pdf[pdf["blk"] == gj]
            if a.empty or b.empty:
                return empty
            ids_l, ng_l, ml = dense(a)
            ids_r, ng_r, mr = dense(b)
            triu = False
        C = ml @ mr.T  # float32, exact: counts <= v < 2^24
        n_l, n_r = C.shape
        ng_l = ng_l.astype(np.int64)
        ng_r = ng_r.astype(np.int64)
        col = np.arange(n_r)

        hist = np.zeros(band_scale + 1, dtype=np.int64)
        acc: dict[str, list] = {c: [] for c in out_cols}
        for r0 in range(0, n_l, CHUNK_ROWS):
            r1 = min(r0 + CHUNK_ROWS, n_l)
            common = C[r0:r1].astype(np.int64)  # (chunk, n_r)
            na, nb = ng_l[r0:r1, None], ng_r[None, :]
            keep = reduce(
                operator.or_, (_SCORES[s](common, na, nb) >= threshold for s in scores)
            )
            if triu:
                # pairs i < j only (ids are sorted ascending, so the
                # upper triangle IS the canonical doc_a < doc_b order)
                keep &= col[None, :] > np.arange(r0, r1)[:, None]
            if mode == "bands":
                band = (band_scale * common[keep]) // (na + nb - common)[keep]
                hist += np.bincount(band, minlength=band_scale + 1)
                continue
            ri, ci = np.nonzero(keep)  # kept pairs only: small
            ck = common[ri, ci]
            na_k, nb_k = ng_l[ri + r0], ng_r[ci]
            l_ids, r_ids = ids_l[ri + r0], ids_r[ci]
            if triu:
                ids_a, ids_b = l_ids, r_ids
            else:
                # set sizes must follow the canonical (doc_a, doc_b)
                # order — the symmetric Jaccard denominator hides a
                # swap bug, the per-side containment denominators don't
                swap = l_ids > r_ids
                ids_a = np.where(swap, r_ids, l_ids)
                ids_b = np.where(swap, l_ids, r_ids)
                na_k, nb_k = (
                    np.where(swap, nb_k, na_k),
                    np.where(swap, na_k, nb_k),
                )
            vals = {
                "doc_a": ids_a, "doc_b": ids_b, "n_common": ck, "n_a": na_k, "n_b": nb_k,
            }
            for c in out_cols:
                acc[c].append(vals[c] if c in vals else _SCORES[c](ck, na_k, nb_k))
        if mode == "bands":
            nz = np.nonzero(hist)[0]
            return pd.DataFrame(
                {"band": nz.astype(np.int64), "n_pairs": hist[nz]}
            )
        if not acc["doc_a"]:
            return empty
        return pd.DataFrame(
            {c: np.concatenate(acc[c]) for c in out_cols}
        )

    # Keyed repartition before the grouped-pandas op: the block rows
    # are byte-small, so AQE would coalesce this shuffle to one
    # partition — but block-pair cost is a matmul, CPU-quadratic in
    # block size, not byte-proportional. An explicit repartition is
    # exempt from AQE coalescing and the groupBy reuses it (no second
    # shuffle).
    parallelism = grams.sparkSession.sparkContext.defaultParallelism
    id_type = grams.schema[id_col].dataType.simpleString()
    out = (
        pairs.repartition(parallelism, "gi", "gj")
        .groupBy("gi", "gj")
        .applyInPandas(block_pair, schema.format(id=id_type))
    )
    if mode == "bands":
        return out.groupBy("band").agg(F.sum("n_pairs").cast("long").alias("n_pairs"))
    return out


#: Universal-hash modulus for MinHash: the Mersenne prime 2^31 - 1.
#: Products a_j * h stay under 2^62, so the arithmetic is exact in
#: 64-bit integers on every engine.
MINHASH_P = (1 << 31) - 1


def minhash_consts(k: int = MINHASH_K) -> list[tuple[int, int]]:
    """Deterministic ``(a_j, b_j)`` constants for the universal hash
    family ``h_j = (a_j * h + b_j) mod P`` — derived from md5 so both
    engines embed the identical literals (no seed table to ship)."""
    import hashlib

    out = []
    for j in range(k):
        a = int(hashlib.md5(f"a{j}".encode()).hexdigest()[:15], 16) % (MINHASH_P - 1) + 1
        b = int(hashlib.md5(f"b{j}".encode()).hexdigest()[:15], 16) % MINHASH_P
        out.append((a, b))
    return out


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = MINHASH_K, n: int = NGRAM_N
) -> DataFrame:
    """k-permutation MinHash signature per document (columns
    ``mh0..mh{k-1}``, bigint).

    Hash family: ONE md5 per shingle, parsed to a 60-bit integer, then
    k universal hashes ``(a_j * h + b_j) mod (2^31 - 1)`` — numeric
    min is engine-portable and k-1 md5 calls per shingle cheaper than
    hashing k times. Shingles are NOT deduplicated first: ``min`` is
    duplicate-insensitive, so the distinct's extra shuffle would buy
    nothing — the only shuffle is the per-doc partial-aggregated
    groupBy of k integers.
    """
    grams = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(text_ngrams(F.col(text_col), n)).alias("g")
    )
    h = F.pmod(
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("bigint"),
        F.lit(MINHASH_P),
    )
    hashed = grams.select(F.col(id_col), h.alias("h"))
    return hashed.groupBy(id_col).agg(
        *[
            F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(MINHASH_P))).alias(
                f"mh{j}"
            )
            for j, (a, b) in enumerate(minhash_consts(k))
        ]
    )


def band_key(b: int, rows_per_band: int) -> Column:
    cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
    return F.md5(F.concat_ws("|", *cols))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    n: int = NGRAM_N,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH, with the
    signature-agreement Jaccard estimate.

    Scale: the only all-pairs step is an equi-join on (band, band_key)
    — identical band keys are exponentially unlikely for dissimilar
    docs, so bucket sizes stay tiny and the join shuffles, never
    nest-loops.
    """
    rows_per_band = k // bands
    # The signature frame feeds banding AND both sides of the agreement
    # join — materialize it eagerly so the shingle->minhash pipeline
    # runs once, not three times (a bare persist() leaks cached blocks
    # for the session lifetime; at real scale you'd write signatures
    # to a table).
    sig = materialize(minhash_signatures(df, id_col, text_col, k, n))
    banded = sig.select(
        F.col(id_col),
        F.posexplode(F.array(*[band_key(b, rows_per_band) for b in range(bands)])).alias(
            "band", "bkey"
        ),
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bkey"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("doc_a"), F.col(f"y.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    sa = sig.select(F.col(id_col).alias("doc_a"), *[F.col(f"mh{j}").alias(f"a{j}") for j in range(k)])
    sb = sig.select(F.col(id_col).alias("doc_b"), *[F.col(f"mh{j}").alias(f"b{j}") for j in range(k)])
    agree = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0) for j in range(k)
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", (agree / F.lit(float(k))).alias("est_jaccard"))
    )


def simhash_bit_exprs(digest_expr: str = "d", bits: int = SIMHASH_BITS) -> list[str]:
    """SQL expressions (portable Spark/DuckDB subset) for the ±1 vote of
    each signature bit, given a column holding the token's md5 hex
    digest (computed ONCE per token upstream, not per bit).

    Bit k lives in hex digit k//4 of the digest; extracted with
    ``% / >=`` arithmetic only, so the exact same text runs on both
    engines (no dialect-specific shift operators).
    """
    exprs = []
    for k in range(bits):
        d = k // 4 + 1  # 1-based hex digit position
        m = 2 ** (k % 4)
        v = f"(instr('{_HEX}', substring({digest_expr}, {d}, 1)) - 1)"
        exprs.append(f"CASE WHEN ({v} % {2 * m}) >= {m} THEN 1 ELSE -1 END")
    return exprs


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-document SimHash signature (``bits`` wide) from distinct
    tokens: each token votes ±1 per bit position, the sign of the vote
    sum sets the bit.

    Scale: explode + single groupBy — same shape as a word count. The
    md5 digest is parsed to ONE integer per token (``conv``); the
    vote expressions are then pure bit arithmetic on that integer —
    numerically identical to the portable hex-digit string exprs of
    :func:`simhash_bit_exprs` (which the DuckDB oracle runs), but
    ~2x faster in codegen since nothing re-touches the string.
    """
    # Within-document token dedup is a per-row array_distinct in the
    # scan projection (r13 opt): the former explode-then-.distinct()
    # keyed on (id, tok) and so removed the same repeats at the cost
    # of a full shuffle of the token stream.
    toks = (
        spread(df.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
        )
        .select(
            F.col(id_col),
            F.conv(F.substring(F.md5(F.col("tok")), 1, (bits + 3) // 4), 16, 10)
            .cast("long")
            .alias("v"),
        )
    )
    # simhash_bit_exprs numbers bit k as bit k%4 of 1-based hex digit
    # k//4; conv() parses digit 1 as the MOST significant nibble, so in
    # the parsed integer that same bit sits at position
    # (top_nibble - 4*(k//4)) + k%4.
    top = 4 * ((bits + 3) // 4 - 1)
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("v"), top - 4 * (k // 4) + (k % 4)) % 2 == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"s{k}")
            for k in range(bits)
        ]
    )
    sig = sum(
        F.when(F.col(f"s{k}") > 0, F.lit(2**k)).otherwise(F.lit(0)).cast("long")
        for k in range(bits)
    )
    return votes.select(F.col(id_col), sig.alias("simhash"))


def simhash_duplicate_groups(
    df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS
) -> DataFrame:
    """Documents sharing an identical SimHash signature (hamming-0
    near-dups). Banded hamming-k probing reuses the same groupBy on
    signature chunks."""
    return (
        simhash(df, id_col, text_col, bits)
        .groupBy("simhash")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_docs"))
    )


#: Hamming-probe banding: 4 chunks of 8 bits over the 32-bit SimHash.
SIMHASH_CHUNKS = 4


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = SIMHASH_CHUNKS - 1,
    bits: int = SIMHASH_BITS,
    chunks: int = SIMHASH_CHUNKS,
) -> DataFrame:
    """Near-duplicate pairs within ``max_hamming`` SimHash bits, via
    banded chunk probing over DISTINCT signatures — the hamming-k
    generalization of :func:`simhash_duplicate_groups`.

    Pigeonhole guarantee: a pair differing in <= ``chunks - 1`` bits
    agrees on at least one of the ``chunks`` signature chunks, so
    chunk-bucket cogrouping finds EVERY such pair (exact recall for
    the default ``max_hamming = chunks - 1``).

    Plan shape — the key move is deduplicating signatures FIRST:

    1. groupBy signature -> (signature, members) groups. On a
       duplicate-heavy corpus (the whole reason to run this operator)
       this collapses the pair space quadratically: D distinct
       signatures give D^2 candidate work instead of n^2.
    2. Banded chunk probing over the D signatures only: one shuffle of
       (signature, chunk) rows; per bucket a vectorized XOR + byte-LUT
       popcount scores all signature pairs, emitting each surviving
       pair exactly once — by its FIRST agreeing chunk (buckets hold
       full signatures, so prior-chunk agreement is a local check), so
       there is no pair-dedup shuffle at all. The explicit keyed
       ``repartition`` pins bucket parallelism: AQE would coalesce
       this byte-tiny shuffle to one partition, serializing buckets
       whose cost is CPU-quadratic, not byte-proportional.
    3. Expansion back to doc pairs happens JVM-side in whole-stage
       codegen: identical-signature (hamming-0) pairs from a
       positional self-explode of each member list; cross-signature
       pairs by joining the surviving signature pairs to the member
       lists and exploding both sides. Python/Arrow never touches a
       doc-pair row — on degenerate corpora the output is O(n^2)-ish
       and building it in pandas was the old bottleneck.

    Output: doc_a, doc_b, hamming (bigint).
    """
    import numpy as np
    import pandas as pd

    if max_hamming > chunks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole bound: with "
            f"{chunks} chunks only pairs within {chunks - 1} differing bits are "
            f"guaranteed to collide in some chunk; use chunks >= max_hamming + 1"
        )

    width = bits // chunks
    sigs = simhash(df, id_col, text_col, bits)
    # Feeds banding + both expansion joins: materialize once.
    groups = materialize(
        sigs.groupBy("simhash")
        .agg(F.collect_list(F.col(id_col)).alias("members"))
    )

    # Hamming-0: docs sharing one signature; positional i < j gives each
    # unordered pair once, least/greatest canonicalizes the order.
    intra = (
        groups.filter(F.size("members") >= 2)
        .select(F.col("members"), F.posexplode("members").alias("i", "da"))
        .select("members", "i", "da", F.posexplode("members").alias("j", "db"))
        .filter(F.col("i") < F.col("j"))
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )

    bands = groups.select(
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    (
                        (F.col("simhash") / F.lit(2 ** (width * c))).cast("long")
                        % F.lit(2**width)
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    bands = bands.repartition(parallelism, "chunk_idx", "chunk_val")
    lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)
    nbytes = max(1, (bits + 7) // 8)

    # Buckets are processed PER PARTITION, not per Spark group (r13
    # opt): with |chunks| x 2^width tiny buckets (~1,024 here), the
    # per-group FlatMapGroupsInPandas overhead (one Arrow conversion +
    # pandas frame per bucket, plus the sort the grouped form needs)
    # dominated the XOR-popcount math. One mapInPandas call per
    # partition concatenates its batches (bounded: a partition holds
    # |distinct sigs| * chunks / parallelism 16-byte rows) and loops
    # buckets with a pandas groupby — identical per-bucket arithmetic,
    # and the plan drops the per-group Sort.
    def bucket_pairs_part(batches):
        pdfs = [b for b in batches if not b.empty]
        if not pdfs:
            return
        pdf_all = pd.concat(pdfs, ignore_index=True)
        out_a, out_b, out_h = [], [], []
        mask = np.uint64(2**width - 1)
        for (this_chunk, _cv), pdf in pdf_all.groupby(
            ["chunk_idx", "chunk_val"], sort=False
        ):
            n = len(pdf)
            if n < 2:
                continue
            s = np.sort(pdf["simhash"].to_numpy(dtype=np.int64)).astype(np.uint64)
            # Upper-triangle pair vectors over DISTINCT signatures only.
            ia, ib = np.triu_indices(n, k=1)
            x = s[ia] ^ s[ib]
            ham = (
                lut[x.view(np.uint8).reshape(-1, 8)[:, :nbytes]]
                .sum(axis=-1)
                .astype(np.int64)
            )
            keep = (ham >= 1) & (ham <= max_hamming)
            # Emit-once: skip pairs already found by an earlier chunk.
            for cp in range(int(this_chunk)):
                sh = np.uint64(width * cp)
                keep &= ((s[ia] >> sh) & mask) != ((s[ib] >> sh) & mask)
            out_a.append(s[ia[keep]].astype(np.int64))
            out_b.append(s[ib[keep]].astype(np.int64))
            out_h.append(ham[keep])
        if out_a:
            yield pd.DataFrame(
                {
                    "sig_a": np.concatenate(out_a),
                    "sig_b": np.concatenate(out_b),
                    "hamming": np.concatenate(out_h),
                }
            )

    sig_pairs = bands.mapInPandas(
        bucket_pairs_part, "sig_a long, sig_b long, hamming long"
    )

    ga = groups.select(F.col("simhash").alias("sig_a"), F.col("members").alias("ma"))
    gb = groups.select(F.col("simhash").alias("sig_b"), F.col("members").alias("mb"))
    cross = (
        sig_pairs.join(ga, "sig_a")
        .join(gb, "sig_b")
        .select("hamming", F.explode("ma").alias("da"), "mb")
        .select("hamming", "da", F.explode("mb").alias("db"))
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            F.col("hamming"),
        )
    )
    return intra.unionByName(cross)


def minhash_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    n: int = NGRAM_N,
) -> DataFrame:
    """(id, band, band_key) rows — the LSH index representation: one
    md5 band key per signature band per document. This is what a
    persisted dedup index stores; incremental ingest computes these
    for the delta only and equi-joins against the stored set."""
    rows_per_band = k // bands
    sig = minhash_signatures(df, id_col, text_col, k, n)
    return sig.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[band_key(b, rows_per_band) for b in range(bands)])
        ).alias("band", "bkey"),
    )


#: Cross-document span dedup (C4-style): non-overlapping spans of this
#: many tokens; a span occurring in at least ``SPAN_MIN_DF`` distinct
#: documents is corpus-duplicated and removed from every document.
SPAN_TOKENS = 10
SPAN_MIN_DF = 2


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span: int = SPAN_TOKENS,
    min_df: int = SPAN_MIN_DF,
) -> DataFrame:
    """Cross-document span-level dedup: chop every document into
    non-overlapping ``span``-token spans, find spans occurring in
    >= ``min_df`` distinct documents corpus-wide, and emit each
    document with those spans removed (the C4 "duplicated span"
    cleaning pass — finer-grained than whole-doc dedup, catches
    boilerplate shared across otherwise-distinct pages).

    Scale: the (doc, span) stream shuffles once on a 128-bit span
    digest to count distinct-document frequency (uniform keys, partial
    map-side distinct), and once more to rejoin the duplicated-span
    set; document reassembly groups on the id — three uniform
    shuffles total, never all-pairs, and the heavy string payload
    crosses the wire only for the reassembly shuffle. At 100 TB the
    duplicated-span set is typically small enough that AQE turns the
    flagging join into a broadcast.

    Output: id, n_spans, n_dup_spans, clean_text (surviving spans
    rejoined in document order; empty string when everything was
    boilerplate).
    """
    # Materialize the token array before the per-span transform:
    # higher-order lambdas evaluate interpreted (no CSE), so an inline
    # `tokens(text)` subtree re-splits the document once per span
    # position — O(n^2/span) instead of O(n). Same fix as
    # text.winnow_fingerprints (where the effect was ~1000x).
    base = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(span))
    spans = F.transform(starts, lambda s: F.concat_ws(" ", F.slice(toks, s, span)))
    ex = base.select(
        F.col(id_col), F.posexplode(spans).alias("pos", "span_text")
    )
    dup = (
        ex.groupBy("span_text")
        .agg(F.count_distinct(F.col(id_col)).alias("span_df"))
        .filter(F.col("span_df") >= min_df)
        .select("span_text", F.lit(True).alias("is_dup"))
    )
    flagged = ex.join(dup, "span_text", "left").select(
        F.col(id_col),
        "pos",
        "span_text",
        F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
    )
    parts = F.array_sort(
        F.collect_list(F.struct(F.col("pos"), F.col("is_dup"), F.col("span_text")))
    )
    kept = F.filter(parts, lambda p: ~p.is_dup)
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("is_dup").cast("long")).cast("long").alias("n_dup_spans"),
        F.concat_ws(" ", F.transform(kept, lambda p: p.span_text)).alias("clean_text"),
    )


#: Containment threshold: flag when the smaller document's shingles
#: are mostly inside the bigger one (subset / quotation detection).
CONTAINMENT_THRESHOLD = 0.8


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = CONTAINMENT_THRESHOLD,
    n: int = NGRAM_N,
    max_df: int = MAX_SHINGLE_DF,
    dense_vocab_cap: int | None = None,
    block_size: int = 2048,
) -> DataFrame:
    """Asymmetric near-duplicate pairs by n-gram CONTAINMENT:
    C(A in B) = |A ∩ B| / |A|. Catches wholesale inclusion — quotes,
    concatenations, page-plus-boilerplate — where Jaccard stays low
    because the union is dominated by the larger document. A pair is
    emitted when EITHER direction's containment reaches ``threshold``.

    Scale: the same shingle-pair path as :func:`ngram_jaccard_pairs`
    (:func:`_shingle_pairs`: the sparse inverted-index self-join by
    default, the blocked dense matmul when the caller asserts a
    vocab-dense corpus with ``dense_vocab_cap``) — the same pairs'
    ``n_common``, ``n_a`` and ``n_b``, scored against each side's own
    set size instead of the union.

    Recall caveat: ``n_common`` counts RARE shingles only (document
    frequency <= ``max_df``) while the denominators use full set
    sizes, so containment is systematically UNDERestimated for pairs
    whose shared content is high-df boilerplate — exactly the
    quotation/template case this operator targets. Raise ``max_df``
    (the hot-key cap trades that recall for bounded join fan-out) when
    boilerplate-heavy corpora matter; the oracle applies the same
    pruning, so parity is unaffected either way.

    Output: doc_a, doc_b, n_common, containment_a (of doc_a's set),
    containment_b, both double.
    """
    return _shingle_pairs(
        df, id_col, text_col, "containment", threshold, n, max_df,
        dense_vocab_cap, block_size,
    )


#: Character-level exact-substring dedup (the Lee et al. 2022
#: "Deduplicating Training Data Makes Language Models Better" shape):
#: a window this many characters long occurring verbatim in >= 2
#: distinct documents is corpus-duplicated text.
SUBSTRING_WINDOW = 32

#: Window positions per segment row in substring_window_profile's
#: two-level expansion: caps the in-flight per-row window array at
#: ~_SUBSTRING_CHUNK * window-length chars (a few MB) no matter how
#: large the source document is.
_SUBSTRING_CHUNK = 8192


def substring_window_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    length: int = SUBSTRING_WINDOW,
    stride: int = 1,
) -> DataFrame:
    """Per-document exact-substring duplication profile.

    Slides a ``length``-char window over every document at ``stride``
    (default 1 — every alignment, the suffix-array-equivalent answer
    for fixed window size) and reports, per document, how many window
    positions land on text that occurs verbatim in at least one OTHER
    document. This is the character-level complement of
    :func:`span_dedup` (token spans): it catches duplicated runs that
    token-span boundaries split and whitespace variants realign.

    Output: id, n_windows, n_dup_windows, dup_millis (parts-per-1000
    of window positions covered by cross-document duplicate text;
    integer division so the gate is hash-exact). Documents shorter
    than ``length`` chars carry no window and are excluded.

    Scale: the window stream is ~(chars/stride) rows — the same
    amplification a suffix array pays. It shuffles once on the window
    text for the distinct-document count (map-side partial distinct
    collapses within-doc repeats), once more to re-join the duplicated
    -window set (broadcastable under AQE when small) — then rolls up
    on the id. Never all-pairs. Raise ``stride`` to trade recall for
    a proportionally smaller stream at 100 TB (stride s still detects
    every duplicated run >= length + s - 1 chars).

    Memory bound: the window expansion is TWO-LEVEL — documents are
    first cut into overlapping segments of ``_SUBSTRING_CHUNK``
    window positions (each segment row carries only its own
    ~chunk*stride + length chars of text), and only a segment's
    windows materialize as one in-flight array (~chunk * length
    chars, a few MB). A single-level transform+explode would instead
    inflate a document into length/stride x its size INSIDE one row
    (a 10 MB document -> ~320 MB with 32-char windows) — executor
    OOM territory at the 100 TB target.
    """
    text = F.col(text_col)
    base = spread(
        df.filter(F.length(text) >= length).select(
            F.col(id_col), text.alias("__text")
        )
    )
    t = F.col("__text")
    # Level 1: segment rows. Segment k covers window positions
    # [1 + k*span, min(k*span + span, n_starts)]; its text slice is
    # span*stride + length - 1 chars, so consecutive segments overlap
    # by length-1 chars and every global window lands in EXACTLY one
    # segment at its original alignment (span is a multiple of
    # stride, so the in-segment progression 1, 1+stride, ... maps to
    # the global one).
    span = _SUBSTRING_CHUNK * stride
    n_starts = F.length(t) - length + 1
    seg = base.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n_starts, F.lit(span)),
                lambda cs: t.substr(cs, F.lit(span + length - 1)),
            )
        ).alias("__ctext"),
    )
    # Level 2: windows within a segment.
    wins = seg.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.length("__ctext") - length + 1,
                    F.lit(stride),
                ),
                lambda i: F.col("__ctext").substr(i, F.lit(length)),
            )
        ).alias("sub"),
    )
    # Distinct-then-count beats a groupBy(sub, id).count() pair
    # aggregation AND a window-count formulation at the sf1 decade
    # (A/B measured: aggregation buffers per 10M+ string groups and
    # per-'sub' sorts both lose to the dedup-only hash aggregate).
    dup = (
        wins.select(F.col(id_col), "sub")
        .distinct()
        .groupBy("sub")
        # count(*) == count(DISTINCT id) on the already-distinct
        # (id, sub) stream; the explicit count_distinct made Spark
        # plan a SECOND expand/dedup phase over data the upstream
        # distinct had just deduplicated (r13 opt).
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("sub")
    )
    hits = (
        wins.join(dup, "sub")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_windows"))
    )
    n_windows = F.expr(f"(length(__text) - {length}) div {stride}").cast("long") + 1
    n_dup = F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("long")
    return (
        base.select(F.col(id_col), n_windows.alias("n_windows"))
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            "n_windows",
            n_dup.alias("n_dup_windows"),
            F.expr("coalesce(n_dup_windows, 0) * 1000 div n_windows")
            .cast("long")
            .alias("dup_millis"),
        )
    )


def jaccard_band_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = JACCARD_THRESHOLD,
    n: int = NGRAM_N,
    band_scale: int = 20,
    max_df: int = MAX_SHINGLE_DF,
    dense_vocab_cap: int | None = None,
    block_size: int = 2048,
) -> DataFrame:
    """Jaccard-band pair histogram with the banding pushed INTO the
    pair stage: returns (band, n_pairs) where band =
    (band_scale * n_common) div union for every pair at or above
    ``threshold``. Value-identical to banding the
    :func:`ngram_jaccard_pairs` output, but on the dense-matmul path
    the (quadratic) pair stream is reduced to a ~band_scale-row
    histogram inside each block-pair task — pairs never cross the
    Arrow boundary or any shuffle, which is the difference between
    moving ~20 rows and ~10M rows per block pair at sweep thresholds.
    """
    return _shingle_pairs(
        df, id_col, text_col, "bands", threshold, n, max_df, dense_vocab_cap,
        block_size, band_scale,
    )
