"""LLM-data-pipeline queries: dedup, text analysis, similarity search.

Every oracle below is GENERATED from the same constants the Spark
operators use (operators/dedup.py, operators/text.py), so the two
sides cannot drift. Hashing is md5 everywhere — engine-portable,
unlike Spark's murmur ``hash()`` / DuckDB's ``hash()``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from protarrow_spark.operators import dedup, similarity, text
from protarrow_spark.queries.registry import query
from protarrow_spark.sources.tables import materialize, spread, table

# ---------------------------------------------------------------------------
# Shared oracle SQL fragments (DuckDB dialect), generated from operator
# constants.
# ---------------------------------------------------------------------------

JACCARD_N = 1  # token-level Jaccard (the data has real token-set near-dups)
JACCARD_T = 0.2
NEARDUP_COSINE_T = 0.40
TOPK_NEIGHBORS = 3
N_QUERY_VECS = 5


def _lsh_bucket_sql(col: str, n: int) -> str:
    """Sign-bucket id from the first n vector components (mirrors
    functions/vector.py sign_bucket)."""
    terms = [
        f"(CASE WHEN {col}[{i + 1}] > 0 THEN 1 ELSE 0 END) * {2 ** (n - 1 - i)}"
        for i in range(n)
    ]
    return " + ".join(terms)


def _toks_cte(src: str = "documents") -> str:
    return f"toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM {src})"


def _grams_cte(n: int) -> str:
    """Distinct (doc_id, shingle) — mirrors operators.dedup.doc_shingles."""
    if n == 1:
        gram_list = "t"
    else:
        gram_list = (
            f"CASE WHEN len(t) >= {n} "
            f"THEN [array_to_string(t[i:i+{n - 1}], ' ') for i in range(1, len(t) - {n} + 2)] "
            f"ELSE [array_to_string(t, ' ')] END"
        )
    return (
        f"grams AS (SELECT doc_id, unnest({gram_list}) AS g FROM toks),\n"
        "dg AS (SELECT DISTINCT doc_id, g FROM grams)"
    )


def _sig_cte(k: int) -> str:
    """Mirrors operators.dedup.minhash_signatures: one md5 per shingle
    parsed to a 60-bit int, then k universal hashes mod 2^31 - 1 with
    the same md5-derived (a, b) literals. min() is duplicate-
    insensitive, so reusing the DISTINCT dg CTE is value-identical to
    the engine's non-distinct gram stream."""
    p = dedup.MINHASH_P
    mins = ", ".join(
        f"min(({a} * h + {b}) % {p}) AS mh{j}"
        for j, (a, b) in enumerate(dedup.minhash_consts(k))
    )
    return (
        f"hg AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % {p}"
        " AS h FROM dg),\n"
        f"sig AS (SELECT doc_id, {mins} FROM hg GROUP BY doc_id)"
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS text_md5, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicate_groups(table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_toks_cte()},
{_grams_cte(JACCARD_N)},
dgh AS (
  SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS g FROM dg
),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM dgh GROUP BY doc_id),
rare AS (SELECT g FROM dgh GROUP BY g HAVING COUNT(*) <= {dedup.MAX_SHINGLE_DF}),
rdg AS (SELECT dgh.doc_id, dgh.g FROM dgh JOIN rare USING (g)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM rdg a JOIN rdg b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       CAST(n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - n_common) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - n_common) >= {JACCARD_T}
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        threshold=JACCARD_T,
        n=JACCARD_N,
        # Synthetic corpus is known vocab-dense (template text): assert
        # the dense matmul path instead of paying the probe to find out.
        dense_vocab_cap=4096,
    ).withColumn("n_common", F.col("n_common").cast("long"))


@query(
    "dedup_minhash_signatures",
    oracle=f"""
WITH {_toks_cte()},
{_grams_cte(dedup.NGRAM_N)},
{_sig_cte(dedup.MINHASH_K)}
SELECT * FROM sig
""",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature — every one of the k hashes must
    match the oracle exactly (strong correctness check)."""
    return dedup.minhash_signatures(table(spark, sf_dir, "documents"), "doc_id", "text")


def _lsh_oracle() -> str:
    k, bands = dedup.MINHASH_K, dedup.LSH_BANDS
    rpb = k // bands
    band_selects = "\nUNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS bkey FROM sig".format(
            b=b,
            key=" || '|' || ".join(f"mh{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    agree = " + ".join(f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END" for j in range(k))
    return f"""
WITH {_toks_cte()},
{_grams_cte(dedup.NGRAM_N)},
{_sig_cte(k)},
bands AS ({band_selects}),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, ({agree}) / {float(k)} AS est_jaccard
FROM cand
JOIN sig sa ON sa.doc_id = doc_a
JOIN sig sb ON sb.doc_id = doc_b
"""


@query("dedup_minhash_lsh", oracle=_lsh_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(table(spark, sf_dir, "documents"), "doc_id", "text")


#: True-Jaccard threshold used as ground truth for the recall report.
LSH_RECALL_T = 0.5


#: Sampling modulus for the stratified recall report: documents whose
#: md5-derived 60-bit key is ≡ 0 (mod LSH_RECALL_SAMPLE_MOD) form the
#: stratum, and BOTH the truth and candidate sides are computed only on
#: within-stratum pairs. The decision is a pure function of doc_id
#: (same stratum on every engine / partitioning), and pair-level
#: membership is doc-level membership on both endpoints, so the
#: sampled recall is an unbiased estimate of the full-corpus recall
#: over ~1/mod² of the pair space at ~1/mod of the truth-side cost.
LSH_RECALL_SAMPLE_MOD = 2


def _doc_stratum_sql(sample_mod: int) -> str:
    return (
        "sdocs AS (SELECT * FROM documents WHERE "
        "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"
        f" % {sample_mod} = 0)"
    )


def _lsh_recall_oracle(sample_mod: int | None = None) -> str:
    k, bands = dedup.MINHASH_K, dedup.LSH_BANDS
    rpb = k // bands
    band_selects = "\nUNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS bkey FROM sig".format(
            b=b,
            key=" || '|' || ".join(f"mh{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    stratum = "" if sample_mod is None else _doc_stratum_sql(sample_mod) + ",\n"
    toks_src = "documents" if sample_mod is None else "sdocs"
    return f"""
WITH {stratum}{_toks_cte(toks_src)},
{_grams_cte(dedup.NGRAM_N)},
dgh AS (
  SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS g FROM dg
),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM dgh GROUP BY doc_id),
rare AS (SELECT g FROM dgh GROUP BY g HAVING COUNT(*) <= {dedup.MAX_SHINGLE_DF}),
rdg AS (SELECT dgh.doc_id, dgh.g FROM dgh JOIN rare USING (g)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM rdg a JOIN rdg b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - n_common)
        >= {LSH_RECALL_T}
),
{_sig_cte(k)},
bands AS ({band_selects}),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
hit AS (SELECT doc_a, doc_b FROM truth INTERSECT SELECT doc_a, doc_b FROM cand)
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
       CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_cand,
       CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
       CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
         / (SELECT COUNT(*) FROM truth) AS recall,
       CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
         / (SELECT COUNT(*) FROM cand) AS candidate_precision
"""


@query("dedup_lsh_recall_report", oracle=_lsh_recall_oracle())
def dedup_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation-quality report for the MinHash-LSH index: exact
    3-gram Jaccard pairs at threshold 0.5 are the ground truth, LSH
    band-bucket pairs are the candidates, and the output quantifies
    their overlap — measured recall and candidate precision instead
    of the textbook 1-(1-s^r)^b curve. This is the audit every
    production dedup pipeline should ship next to its index (drift in
    shingle statistics silently moves the operating point).

    Scale: truth reuses the inverted-index exact pipeline (bounded by
    the same hot-shingle cap), candidates the band equi-join; the
    intersection joins two pair lists on their keys; three 1-row
    count frames combine via broadcast. At 100 TB the truth side is
    the expensive half — run the report on a hash-sampled stratum
    (sample_hash_lineitem pattern) and the estimate carries over.

    Output (1 row): n_truth, n_cand, n_hit, recall,
    candidate_precision.
    """
    return lsh_recall_report(spark, sf_dir, sample_mod=None)


@query(
    "dedup_lsh_recall_sampled",
    oracle=_lsh_recall_oracle(sample_mod=LSH_RECALL_SAMPLE_MOD),
)
def dedup_lsh_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall report on a deterministic hash-sampled document
    stratum — the form that runs at 100 TB, where the exact truth side
    over the full corpus is the expensive half. ``sample_mod=M`` keeps
    documents whose md5-derived key is ≡ 0 (mod M); both truth and
    candidates are restricted to within-stratum pairs, so the sampled
    recall/precision are unbiased estimates of the full-corpus figures
    (pair inclusion = independent doc-level inclusion on both
    endpoints) at 1/M of the truth-side cost. The estimate-tracks-full
    property is pinned by tests/test_dedup.py at sf0.01.

    Scale: the stratum predicate is a scan-level filter (pushed below
    the shingle explode); everything downstream shrinks by ≥1/M.
    """
    return lsh_recall_report(
        spark, sf_dir, sample_mod=LSH_RECALL_SAMPLE_MOD
    )


def lsh_recall_report(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    """Shared body of the full / hash-sampled LSH recall reports."""
    docs = table(spark, sf_dir, "documents")
    if sample_mod is not None:
        key = F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("bigint")
        docs = docs.filter(key % sample_mod == 0)
    # Both pair lists feed TWO consumers each (the hit join and their
    # own 1-row count) — materialize them once (r13 opt): without the
    # barrier the full inverted-index truth pipeline and the LSH band
    # join are each planned and executed twice per action. The pair
    # lists are the audit's bounded output, safe to pin at any scale.
    truth = materialize(
        dedup.ngram_jaccard_pairs(
            docs,
            "doc_id",
            "text",
            threshold=LSH_RECALL_T,
            n=dedup.NGRAM_N,
            # r14 (VERDICT item 3): the synthetic corpus is vocab-dense
            # (template text), so the exact-Jaccard truth side takes the
            # chunked cogrouped dense kernel — the same opt-in every
            # other exact-Jaccard consumer (dedup_ngram_jaccard, the
            # threshold sweeps) already made — instead of the sparse
            # explode-join. Identical pairs (dense==sparse pinned by
            # tests/test_r10_ops.py); on a genuinely sparse corpus
            # the probe rejects and the sparse path still runs.
            dense_vocab_cap=4096,
        )
        .select("doc_a", "doc_b")
    )
    cand = materialize(
        dedup.minhash_lsh_pairs(docs, "doc_id", "text")
        .select("doc_a", "doc_b")
    )
    hit = truth.join(cand, ["doc_a", "doc_b"])
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    nh = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        nt.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_truth",
            "n_cand",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("n_truth")).alias("recall"),
            (F.col("n_hit").cast("double") / F.col("n_cand")).alias(
                "candidate_precision"
            ),
        )
    )


def _simhash_oracle() -> str:
    votes = ", ".join(
        f"SUM({e}) AS s{i}" for i, e in enumerate(dedup.simhash_bit_exprs("d"))
    )
    sig = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {2**b} ELSE 0 END" for b in range(dedup.SIMHASH_BITS)
    )
    return f"""
WITH raw_toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
toks AS (SELECT doc_id, md5(tok) AS d FROM raw_toks),
votes AS (SELECT doc_id, {votes} FROM toks GROUP BY doc_id),
sigs AS (SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes)
SELECT simhash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
FROM sigs GROUP BY simhash
"""


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_duplicate_groups(table(spark, sf_dir, "documents"), "doc_id", "text")


def _neardup_oracle() -> str:
    bucket = _lsh_bucket_sql("embedding", similarity.SIGN_BUCKET_COMPONENTS)
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e, {bucket} AS bucket FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.e, b.e)
         / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cosine
FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
      >= {NEARDUP_COSINE_T}
"""


@query("dedup_embedding_cosine", oracle=_neardup_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bucket LSH near-dup pairs — the scale path: candidates come
    from an equi-join on the bucket key (shuffle hash join), never the
    all-pairs nested loop that ``exact=True`` would produce. The
    oracle mirrors the same bucket restriction."""
    return similarity.embedding_neardup_pairs(
        table(spark, sf_dir, "embeddings"), threshold=NEARDUP_COSINE_T, exact=False
    )


def _banded_lsh_oracle(dim: int = 64) -> str:
    planes = similarity.rademacher_planes(similarity.LSH_N_PLANES, dim)
    width = similarity.LSH_N_PLANES // similarity.LSH_N_BANDS
    band_exprs = []
    for bi in range(similarity.LSH_N_BANDS):
        bits = " + ".join(
            "CASE WHEN list_dot_product(e, ["
            + ", ".join(str(x) for x in planes[bi * width + j])
            + f"]) > 0 THEN {1 << j} ELSE 0 END"
            for j in range(width)
        )
        band_exprs.append(f"({bits}) AS band_{bi}")
    band_union = "\nUNION ALL ".join(
        f"SELECT vec_id, {bi} AS band_idx, band_{bi} AS band_key FROM sig"
        for bi in range(similarity.LSH_N_BANDS)
    )
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
sig AS (SELECT vec_id, e, {", ".join(band_exprs)} FROM v),
bands AS ({band_union}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
       list_dot_product(va.e, vb.e)
         / (sqrt(list_dot_product(va.e, va.e)) * sqrt(list_dot_product(vb.e, vb.e)))
         AS cosine
FROM cand c
JOIN v va ON va.vec_id = c.id_a
JOIN v vb ON vb.vec_id = c.id_b
WHERE list_dot_product(va.e, vb.e)
        / (sqrt(list_dot_product(va.e, va.e)) * sqrt(list_dot_product(vb.e, vb.e)))
      >= {NEARDUP_COSINE_T}
"""


@query("dedup_embedding_lsh_banded", oracle=_banded_lsh_oracle())
def dedup_embedding_lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded random-hyperplane LSH near-dup pairs — the real index
    (16 deterministic Rademacher planes, 4 bands x 4 bits). All
    candidate generation is equi-join on (band_idx, band_key); the
    oracle reproduces the identical planes as SQL literals, so the
    gate checks implementation exactness (same candidates, same
    cosines), not recall.

    Recall honesty: banding targets real near-dup thresholds —
    at cosine>=0.9 the default 4x4 config recovers >97% of pairs
    ((1-(1-(1-acos(c)/pi)^4)^4)). The synthetic corpus has no such
    pairs (max pairwise cosine ~0.51), so the demo threshold is 0.40
    where measured recall is ~51% — exactly the closed-form value at
    c=0.4. Raising recall at low thresholds requires more/narrower
    bands whose candidate volume approaches all-pairs; that regime
    belongs to the exact path, not an index."""
    return similarity.embedding_neardup_lsh_banded(
        table(spark, sf_dir, "embeddings"), threshold=NEARDUP_COSINE_T
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "text_stats",
    oracle="""
SELECT doc_id,
       length(text) AS n_chars,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
       CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
         / len(string_split(text, ' ')) AS avg_token_len,
       CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         / len(string_split(text, ' ')) AS type_token_ratio
FROM documents
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = text.text_stats(table(spark, sf_dir, "documents"), "doc_id", "text")
    return df.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
        "avg_token_len",
        "type_token_ratio",
    )


def _quality_oracle() -> str:
    stop_list = ", ".join(f"'{s}'" for s in text.STOPWORDS)
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
m AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS ttr,
         least(1.0, CAST(len(t) AS DOUBLE) / 50.0) AS length_factor,
         CAST(len(list_filter(t, x -> list_contains([{stop_list}], x))) AS DOUBLE)
           / len(t) AS stopword_ratio
  FROM toks
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       stopword_ratio,
       ttr * length_factor * (1.0 - stopword_ratio) AS quality,
       CASE WHEN ttr * length_factor * (1.0 - stopword_ratio) >= 0.5 THEN 'high'
            WHEN ttr * length_factor * (1.0 - stopword_ratio) >= 0.25 THEN 'medium'
            ELSE 'low' END AS quality_bucket
FROM m
"""


@query("text_quality", oracle=_quality_oracle())
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = text.quality_score(table(spark, sf_dir, "documents"), "doc_id", "text")
    return df.withColumn("n_tokens", F.col("n_tokens").cast("long"))


def _langid_oracle() -> str:
    langs = list(text.LANG_MARKERS)
    score_cols = ",\n       ".join(
        "CAST(len(list_filter(t, x -> list_contains([{m}], x))) AS BIGINT) AS score_{lang}".format(
            m=", ".join(f"'{w}'" for w in text.LANG_MARKERS[lang]), lang=lang
        )
        for lang in langs
    )
    # argmax with fixed-order tie-breaking (earlier language wins).
    cases = []
    for i, lang in enumerate(langs[:-1]):
        later = ", ".join(f"score_{l}" for l in langs[i + 1 :])
        gt = f"greatest({later})" if "," in later else later
        cases.append(f"WHEN score_{lang} >= {gt} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{langs[-1]}' END"
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
scored AS (
  SELECT doc_id,
       {score_cols}
  FROM toks
)
SELECT doc_id, {', '.join(f'score_{l}' for l in langs)},
       {case_sql} AS predicted_lang
FROM scored
"""


@query("text_language_id", oracle=_langid_oracle())
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = text.language_id(table(spark, sf_dir, "documents"), "doc_id", "text")
    return df.select(
        "doc_id",
        *[F.col(f"score_{l}").cast("long").alias(f"score_{l}") for l in text.LANG_MARKERS],
        "predicted_lang",
    )


def _langid_confusion_oracle() -> str:
    return f"""
WITH pred AS (
  SELECT doc_id, predicted_lang FROM ({_langid_oracle()})
),
lab AS (
  SELECT d.lang, p.predicted_lang FROM pred p
  JOIN documents d USING (doc_id)
),
marg AS (SELECT lang, COUNT(*) AS n_lang FROM lab GROUP BY lang),
cell AS (
  SELECT lang, predicted_lang, COUNT(*) AS n_docs FROM lab GROUP BY 1, 2
)
SELECT c.lang, c.predicted_lang,
       CAST(c.n_docs AS BIGINT) AS n_docs,
       CAST((c.n_docs * 1000000) // m.n_lang AS BIGINT) AS cell_ppm
FROM cell c JOIN marg m USING (lang)
"""


@query("report_langid_confusion", oracle=_langid_confusion_oracle())
def report_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation — the confusion matrix of the n-gram
    marker classifier (`text_language_id`) against the corpus's lang
    labels, each cell also as ppm of its TRUE-language row (the
    per-class recall diagonal a curation pipeline reads before
    trusting the classifier to route documents): the classification
    sibling of retrieval_eval_ndcg — the engine evaluates its own
    operators, exactly.

    Scale: the classifier is one token-scan + marker CASE (no joins);
    the matrix is a |langs|^2-row aggregate and the per-class
    marginals broadcast. Nothing here grows with the corpus except
    the one scan."""
    pred = text.language_id(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    ).select("doc_id", "predicted_lang")
    lab = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .join(pred, "doc_id")
        .select("lang", "predicted_lang")
    )
    marg = lab.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    cell = lab.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return cell.join(F.broadcast(marg), "lang").select(
        "lang",
        "predicted_lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.expr("(n_docs * 1000000) div n_lang").cast("long").alias("cell_ppm"),
    )


@query(
    "text_fingerprints",
    oracle="""
SELECT doc_id,
       md5(text) AS exact_fp,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bag_fp
FROM documents
""",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprints(table(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COSINE_SQL = (
    "list_dot_product(qe, e) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e)))"
)


@query(
    "ann_cosine_topk",
    oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {N_QUERY_VECS}),
scored AS (
  SELECT query_id, vec_id AS neighbor_id, {_COSINE_SQL} AS cosine
  FROM q JOIN v ON vec_id <> query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {TOPK_NEIGHBORS}
""",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    out = similarity.cosine_topk_bruteforce(emb, qs, k=TOPK_NEIGHBORS)
    return out.withColumn("rank", F.col("rank").cast("long"))


@query(
    "ann_lsh_bucketed_topk",
    oracle=f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         {_lsh_bucket_sql('embedding', similarity.SIGN_BUCKET_COMPONENTS)} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, e AS qe, bucket FROM v WHERE vec_id < {N_QUERY_VECS}),
scored AS (
  SELECT query_id, vec_id AS neighbor_id, {_COSINE_SQL} AS cosine
  FROM q JOIN v USING (bucket)
  WHERE vec_id <> query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {TOPK_NEIGHBORS}
""",
)
def ann_lsh_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    out = similarity.cosine_topk_lsh(emb, qs, k=TOPK_NEIGHBORS)
    return out.withColumn("rank", F.col("rank").cast("long"))


#: Neighborhood size for the label-consistency audit.
LABEL_KNN_K = 5
#: Sign-bucket width for the audit's candidate generation: 2^5 = 32
#: buckets. More buckets than the neardup default (3) because EVERY
#: vector is a query here, so per-bucket Gram cost is the whole
#: query's cost — measured 15.2 -> 4.4 s at sf1 going 8 -> 32 buckets
#: while the gate corpus keeps ~15-vector buckets (full k=5
#: neighborhoods).
LABEL_KNN_COMPONENTS = 5


@query(
    "dq_label_knn_consistency",
    oracle=f"""
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e,
         {_lsh_bucket_sql('embedding', LABEL_KNN_COMPONENTS)} AS bucket
  FROM embeddings
  WHERE label IS NOT NULL
    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
),
scored AS (
  SELECT a.vec_id AS qid, a.label AS qlabel,
         b.vec_id AS nid, b.label AS nlabel,
         list_dot_product(a.e, b.e)
           / (sqrt(list_dot_product(a.e, a.e))
              * sqrt(list_dot_product(b.e, b.e))) AS cosine
  FROM v a JOIN v b USING (bucket)
  WHERE a.vec_id <> b.vec_id
),
ranked AS (
  SELECT qid, qlabel, nlabel,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, nid) AS rank
  FROM scored
),
nbrs AS (SELECT * FROM ranked WHERE rank <= {LABEL_KNN_K})
SELECT qid AS vec_id,
       CAST(qlabel AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_nbrs,
       CAST(SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
         AS n_same_label,
       CAST(SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) * 1000
            // COUNT(*) AS BIGINT) AS agree_millis,
       2 * SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) < COUNT(*)
         AS suspect
FROM nbrs
GROUP BY qid, qlabel
""",
)
def dq_label_knn_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit (the Confident-Learning / kNN-majority
    screen, Northcutt et al. 2021): for every labeled vector, how many
    of its {LABEL_KNN_K} nearest neighbors (exact cosine among its
    LSH sign-bucket candidates) share its label. ``suspect`` flags
    vectors whose neighborhood MAJORITY disagrees — the review
    work-list for mislabeled training examples, the label-quality
    sibling of the dq_* data-quality family.

    Scale: every vector is a query, so the broadcast-query ANN shape
    does not apply — instead the corpus shuffles ONCE on the sign
    bucket and each bucket runs as ONE applyInPandas numpy kernel:
    rank-1 Gram accumulation, then an IN-KERNEL stable-argsort top-k
    (measured 5x faster than a pair-stream + Window rank at sf1), so
    the quadratic pair stream never reaches Arrow or the shuffle —
    only the per-vector report rows leave the task. Per-bucket memory
    is bounded explicitly (a bucket over ``max_bucket_rows`` raises
    with guidance to raise n_components; each extra component halves
    the expected bucket). NULL labels and zero-norm vectors are
    filtered up front on both engines. Exact integer agreement counts
    keep the report hash-verifiable; only the rank ordering rides on
    (engine-identical IEEE) cosine.
    """
    return similarity.knn_label_consistency(
        spread(table(spark, sf_dir, "embeddings")),
        k=LABEL_KNN_K,
        n_components=LABEL_KNN_COMPONENTS,
    )


# ---------------------------------------------------------------------------
# BPE-ish token counting / SimHash hamming probing / IVF ANN
# ---------------------------------------------------------------------------

_BPE_SQL_PAT = text.BPE_PATTERN.replace("'", "''")


@query(
    "text_token_bpe",
    oracle=f"""
SELECT doc_id,
       length(text) AS n_chars,
       len(regexp_extract_all(text, '{_BPE_SQL_PAT}')) AS n_bpe_tokens,
       len(string_split(text, ' ')) AS n_ws_tokens,
       CAST(length(text) AS DOUBLE)
         / CAST(len(regexp_extract_all(text, '{_BPE_SQL_PAT}')) AS DOUBLE)
         AS chars_per_token
FROM documents
""",
)
def text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-2-style pre-tokenizer counts (one regex pass, pure JVM)."""
    return text.bpe_token_stats(table(spark, sf_dir, "documents"), "doc_id", "text")


def _simhash_hamming_oracle() -> str:
    votes = ", ".join(
        f"SUM({e}) AS s{i}" for i, e in enumerate(dedup.simhash_bit_exprs("d"))
    )
    sig = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {2**b} ELSE 0 END" for b in range(dedup.SIMHASH_BITS)
    )
    width = dedup.SIMHASH_BITS // dedup.SIMHASH_CHUNKS
    bands = "\nUNION ALL ".join(
        f"SELECT doc_id, {c} AS chunk_idx, (simhash // {2 ** (width * c)}) % {2 ** width}"
        f" AS chunk_val FROM sigs"
        for c in range(dedup.SIMHASH_CHUNKS)
    )
    max_h = dedup.SIMHASH_CHUNKS - 1
    return f"""
WITH raw_toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
toks AS (SELECT doc_id, md5(tok) AS d FROM raw_toks),
votes AS (SELECT doc_id, {votes} FROM toks GROUP BY doc_id),
sigs AS (SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
FROM cand
JOIN sigs sa ON sa.doc_id = doc_a
JOIN sigs sb ON sb.doc_id = doc_b
WHERE CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) <= {max_h}
"""


@query("dedup_simhash_hamming", oracle=_simhash_hamming_oracle())
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming<=3 SimHash near-dup pairs via banded chunk probing
    (exact recall by pigeonhole; candidates from a chunk equi-join)."""
    return dedup.simhash_hamming_pairs(table(spark, sf_dir, "documents"), "doc_id", "text")


def _ivf_oracle() -> str:
    cos = "list_dot_product(qe, ce) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce)))"
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cent AS (
  SELECT e AS ce, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cidx
  FROM v ORDER BY vec_id LIMIT {similarity.IVF_N_CELLS}
),
assign AS (
  SELECT vec_id, cidx,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY {cos.replace('qe', 'a.e')} DESC, cidx
         ) AS rn
  FROM v a CROSS JOIN cent
),
cells AS (SELECT vec_id, cidx AS cell FROM assign WHERE rn = 1),
qcells AS (
  SELECT vec_id AS query_id, cidx AS cell FROM assign
  WHERE rn <= {similarity.IVF_NPROBE} AND vec_id < {N_QUERY_VECS}
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_dot_product(qv.e, nv.e)
           / (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(nv.e, nv.e)))
           AS cosine
  FROM qcells q
  JOIN cells c ON c.cell = q.cell AND c.vec_id <> q.query_id
  JOIN v qv ON qv.vec_id = q.query_id
  JOIN v nv ON nv.vec_id = c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {TOPK_NEIGHBORS}
"""


@query("ann_ivf_topk", oracle=_ivf_oracle())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN: nearest-centroid cells, nprobe=2."""
    emb = table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    out = similarity.cosine_topk_ivf(emb, qs, k=TOPK_NEIGHBORS)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _winnow_oracle() -> str:
    k, w = text.WINNOW_K, text.WINNOW_W
    h = "CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)"
    return f"""
WITH grams AS (
  SELECT doc_id,
         CASE WHEN len(text) >= {k}
              THEN [substr(text, i, {k}) FOR i IN range(1, len(text) - {k} + 2)]
              ELSE [text] END AS gs
  FROM documents
),
hashed AS (
  SELECT doc_id, [{h} FOR g IN gs] AS hs FROM grams
),
mins AS (
  SELECT doc_id, len(hs) AS n_grams,
         CASE WHEN len(hs) >= {w}
              THEN [list_min(hs[i:i + {w - 1}]) FOR i IN range(1, len(hs) - {w} + 2)]
              ELSE [list_min(hs)] END AS ms
  FROM hashed
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(len(list_distinct(ms)) AS BIGINT) AS n_fingerprints,
       md5(array_to_string(list_sort(list_distinct(ms)), ',')) AS fp_digest
FROM mins
"""


@query("text_winnow_fingerprint", oracle=_winnow_oracle())
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash window minima) fingerprints per doc —
    the substring-robust dedup signature; JVM-only expressions.
    spread: the char-gram hash + window-min pass is the most
    CPU-dense per-row pipeline in the pack (interpreted HOFs, no
    codegen) — a single-row-group local scan must not serialize it."""
    return text.winnow_fingerprints(
        spread(table(spark, sf_dir, "documents")), "doc_id", "text"
    )


def _cc_assign_ctes() -> str:
    """Shared WITH-body computing per-document connected-component
    cluster ids over the MinHash-LSH candidate pairs via a
    recursive-CTE transitive closure (fine at gate scale; the Spark
    side runs the O(log n)-round pointer-jumping algorithm). Ends with
    an ``assign(doc_id, cluster_id)`` CTE."""
    k, bands = dedup.MINHASH_K, dedup.LSH_BANDS
    rpb = k // bands
    band_selects = "\nUNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS bkey FROM sig".format(
            b=b,
            key=" || '|' || ".join(f"mh{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    return f"""WITH RECURSIVE {_toks_cte()},
{_grams_cte(dedup.NGRAM_N)},
{_sig_cte(k)},
bands AS ({band_selects}),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM cand
  UNION
  SELECT doc_b, doc_a FROM cand
),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
),
labels AS (SELECT a, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a),
assign AS (
  SELECT d.doc_id, COALESCE(l.comp, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN labels l ON l.a = d.doc_id
)"""


def _cc_oracle() -> str:
    return f"""
{_cc_assign_ctes()}
SELECT doc_id, cluster_id FROM assign
"""


@query("dedup_cluster_assign", oracle=_cc_oracle())
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    MinHash-LSH candidate-pair graph; every document gets its
    component's minimum doc_id as cluster_id (singletons map to
    themselves). The collapse step every dedup pipeline runs after
    candidate generation."""
    from protarrow_spark.operators.graph import dedup_clusters

    docs = table(spark, sf_dir, "documents")
    edges = dedup.minhash_lsh_pairs(docs, "doc_id", "text").select("doc_a", "doc_b")
    return dedup_clusters(docs, edges, "doc_id")


@query("cluster_kmeans_embeddings")  # iterative float -> rows-only gate
def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means cluster assignment over the
    embeddings corpus (k=8, 5 rounds, smallest-id init — the trained
    version of the IVF coarse quantizer). Iterative driver loop, so
    it takes the rows-only check; the algebraic properties (monotone
    inertia, deterministic assignment) are pinned in pytest.

    Rows-only is the CEILING for float k-means, not a gap: centroid
    updates average float64 sums whose addend ORDER differs between
    Spark's partial aggregation and any SQL oracle's, and one ulp of
    drift in a centroid can flip a boundary point's argmin, changing
    assignments legitimately. The registry carries two value-exact
    k-means gates instead: cluster_kmeans_int8_exact (every
    assignment hash-checked in integer arithmetic) and
    cluster_kmeans_assign_counts (the per-centroid population readout,
    r9) — together they verify the algorithm; this query keeps the
    float operating point honest at the rows level."""
    return similarity.kmeans_lloyd(table(spark, sf_dir, "embeddings"))


@query(
    "text_tf_scores",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df_docs FROM toks GROUP BY tok),
scored AS (
  SELECT doc_id, tok, tf, df_docs,
         CAST(tf AS DOUBLE) / df_docs AS score,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY CAST(tf AS DOUBLE) / df_docs DESC, tok
         ) AS rnk
  FROM tf JOIN dfreq USING (tok)
)
SELECT doc_id, tok, tf, df_docs, score, rnk FROM scored WHERE rnk <= 3
""",
)
def text_tf_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf/df score (the
    tf-idf shape with an exact rational weight instead of a
    libm-dependent log — division is IEEE-identical across engines,
    so the gate stays hash-exact).

    Scale: explode + two groupBys (tf per doc-token, df per token),
    one broadcast-sized token dimension join, per-doc window with
    WindowGroupLimit pushdown for the rank<=3 filter."""
    from protarrow_spark.functions.text import tokens as ws_tokens
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df_docs"))
    score = F.col("tf").cast("double") / F.col("df_docs")
    w = Window.partitionBy("doc_id").orderBy(F.desc(score), F.asc("tok"))
    return (
        tf.join(dfreq, "tok")
        .withColumn("score", score)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "tok", "tf", "df_docs", "score", F.col("rnk").cast("long").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# text_bm25_topk — lexical retrieval ranking (BM25, fixed-point exact)
# ---------------------------------------------------------------------------

#: Fixed query-term set (broadcastable literal — the "search query").
BM25_TERMS = ("dup", "vector", "window")
BM25_TOPK = 10
#: Fixed-point scales. k1 = 6/5, b = 3/4 are folded into the integer
#: closed form below; see the docstring for the derivation.
BM25_TF_SCALE = 10**6
BM25_IDF_SCALE = 10**4


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_toks FROM dl),
tfm AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
  WHERE tok IN ({terms}) GROUP BY doc_id, tok
),
dfreq AS (SELECT tok, COUNT(*) AS df FROM tfm GROUP BY tok),
scored AS (
  SELECT t.doc_id,
         ((2 * (s.n_docs - f.df) + 1) * {BM25_IDF_SCALE}) // (2 * f.df + 1)
         * ((22 * s.total_toks * t.tf * {BM25_TF_SCALE})
            // (10 * s.total_toks * t.tf + 3 * s.total_toks
                + 9 * s.n_docs * d.dl)) AS term_score
  FROM tfm t
  JOIN dfreq f USING (tok)
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(term_score) AS BIGINT) AS score_fp
FROM scored
GROUP BY doc_id
ORDER BY score_fp DESC, doc_id
LIMIT {BM25_TOPK}
"""


@query("text_bm25_topk", oracle=_bm25_oracle())
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval: rank documents for a fixed query-term
    set — the classic sparse-retrieval side of a RAG / data-curation
    stack next to the dense ANN family.

    All arithmetic is integer fixed-point so the ranking is bit-exact
    on any engine/partitioning. With k1 = 6/5, b = 3/4, avgdl = T/N
    (T = corpus tokens, N = docs), the per-term BM25 tf factor
    tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) multiplies out to the
    integer rational 22*T*tf / (10*T*tf + 3*T + 9*N*dl), taken at
    1e6 fixed point. The idf is the Robertson odds ratio itself,
    (N - df + 1/2)/(df + 1/2) at 1e4 fixed point, used WITHOUT the
    log — exact rational instead of libm ln(), monotone in the same
    quantity (term ORDER is preserved; cross-term mixing weights
    differ from log-BM25, which matters only when terms have wildly
    different idf — swap in ln() where bit-exactness isn't needed).
    int64 headroom: the largest intermediate is 22*T*tf*1e6 — fine
    through ~1e9-token corpora per partition-independent value; at
    100 TB move the two div numerators to decimal(38,0) (same plan).

    Scale: term filter is pushed into the token scan (only query-term
    postings survive), df/tf are partial-aggregated groupBys, doc
    length joins co-partitioned on doc_id, the 2-scalar stats row and
    the term-df dimension broadcast; top-k is TakeOrderedAndProject
    (map-side k rows per partition, no global sort)."""
    from protarrow_spark.functions.text import tokens as ws_tokens

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_toks")
    )
    tfm = (
        toks.filter(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tfm.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    term_score = F.expr(
        f"((2 * (n_docs - df) + 1) * {BM25_IDF_SCALE}) div (2 * df + 1)"
        f" * ((22 * total_toks * tf * {BM25_TF_SCALE}L)"
        f" div (10 * total_toks * tf + 3 * total_toks + 9 * n_docs * dl))"
    )
    return (
        tfm.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", term_score.alias("term_score"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("term_score").cast("long").alias("score_fp"),
        )
        .orderBy(F.desc("score_fp"), F.asc("doc_id"))
        .limit(BM25_TOPK)
    )


# ---------------------------------------------------------------------------
# text_repetition_filter — Gopher/Dolma-style repetition quality
# ---------------------------------------------------------------------------

REPETITION_N = 2
REPETITION_MAX_DUP = 0.3


def _repetition_oracle(n: int = REPETITION_N, thr: float = REPETITION_MAX_DUP) -> str:
    # ALL n-grams (not distinct — frequencies matter), mirroring
    # functions/text.py text_ngrams incl. the short-doc whole-text
    # fallback; integer counts + single final divisions.
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, unnest(
    CASE WHEN len(t) >= {n}
    THEN [array_to_string(t[i:i+{n - 1}], ' ') for i in range(1, len(t) - {n} + 2)]
    ELSE [array_to_string(t, ' ')] END) AS g
  FROM toks
),
counts AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_ngrams,
       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c)
         AS dup_ngram_frac,
       CAST(max(c) AS DOUBLE) / sum(c) AS top_ngram_frac,
       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c) < {thr}
         AS keep
FROM counts
GROUP BY doc_id
"""


@query("text_repetition_filter", oracle=_repetition_oracle())
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (duplicate-bigram and
    top-bigram token fractions) — operators/text.py repetition_stats.

    Scale: word-count-shaped — explode + two partial-aggregated
    groupBys, zero joins, all codegen."""
    return text.repetition_stats(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=REPETITION_N,
        max_dup_frac=REPETITION_MAX_DUP,
    )


# ---------------------------------------------------------------------------
# text_decontaminate — eval-set n-gram contamination detection
# ---------------------------------------------------------------------------

#: Docs whose id falls in this residue class act as the held-out
#: "benchmark" set; everything else is the training corpus.
DECON_EVAL_MOD = 20
DECON_N = 3


def _decon_oracle(n: int = DECON_N, mod: int = DECON_EVAL_MOD) -> str:
    return f"""
WITH {_toks_cte()},
{_grams_cte(n)},
eval_g AS (SELECT DISTINCT g FROM dg WHERE doc_id % {mod} = 0)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_contaminated_grams
FROM dg d JOIN eval_g e USING (g)
WHERE d.doc_id % {mod} <> 0
GROUP BY d.doc_id
"""


@query("text_decontaminate", oracle=_decon_oracle())
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word {DECON_N}-gram with a held-out eval set (docs in residue
    class 0 mod {DECON_EVAL_MOD}), reporting how many distinct eval
    shingles each one contains.

    Scale: the eval set is benchmark-sized (MBs against a 100 TB
    corpus), so its distinct-shingle set BROADCASTS — the training
    corpus is filtered by a broadcast hash semi-join in the scan
    stage and never shuffles; only matching (doc, gram) pairs reach
    the per-doc count. This is the standard n-gram decontamination
    pass (GPT-3 appendix C / PaLM style) expressed as one broadcast
    join + one groupBy.
    """
    docs = table(spark, sf_dir, "documents")
    grams = dedup.doc_shingles(docs, "doc_id", "text", DECON_N)
    eval_g = (
        grams.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
        .select("g")
        .distinct()
    )
    train = grams.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
    return (
        train.join(F.broadcast(eval_g), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )


# ---------------------------------------------------------------------------
# pack_sequences — contiguous context-window packing for training shards
# ---------------------------------------------------------------------------

PACK_WINDOW = 2048


@query(
    "pack_sequences",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
o AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_offset
  FROM t
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(tok_offset AS BIGINT) AS tok_offset,
       CAST(tok_offset // {PACK_WINDOW} AS BIGINT) AS pack_id
FROM o
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training-shard preparation: concatenate
    each source's documents in deterministic (doc_id) order and chunk
    the token stream into {PACK_WINDOW}-token context windows — every
    doc gets its running token offset and the window (pack) its first
    token lands in. The GPT-style concat-then-chunk packing model
    (deterministic, join-free), not FFD bin-packing (which is
    inherently sequential-greedy and changes results under
    reordering).

    Scale: one shuffle on source (the shard key); the running offset
    is a window cumsum inside each shard, all codegen, and integer
    token counts make every engine agree exactly.
    """
    from protarrow_spark.functions.text import tokens as ws_tokens
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(ws_tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    off = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("tok_offset")
    return t.select(
        "doc_id",
        "source",
        "n_tokens",
        off,
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(PACK_WINDOW))
        .cast("long")
        .alias("pack_id"),
    )


# ---------------------------------------------------------------------------
# ann_int8_topk — quantized similarity search
# ---------------------------------------------------------------------------


def _int8_oracle() -> str:
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
s AS (
  SELECT vec_id, e,
         CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0 THEN 1.0
              ELSE list_max(list_transform(e, x -> abs(x))) END AS scale
  FROM v
),
q8 AS (
  SELECT vec_id,
         list_transform(e, x -> floor(x / scale * 127 + 0.5)) AS q
  FROM s
),
n8 AS (
  SELECT vec_id, q, sqrt(list_inner_product(q, q)) AS qn FROM q8
),
qs AS (SELECT vec_id AS query_id, q AS qq, qn AS q_norm FROM n8
       WHERE vec_id < {N_QUERY_VECS}),
scored AS (
  SELECT query_id, vec_id AS neighbor_id,
         list_inner_product(qq, q) / (q_norm * qn) AS cosine_q8
  FROM qs JOIN n8 ON vec_id <> query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine_q8,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine_q8 DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine_q8
FROM ranked WHERE rank <= {TOPK_NEIGHBORS}
"""


#: MMR selection size and (fixed) query vector id.
MMR_K = 5
MMR_QUERY_ID = 0


def _mmr_oracle(k: int = MMR_K, query_id: int = MMR_QUERY_ID) -> str:
    ctes = [
        """v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)""",
        """s AS (
  SELECT vec_id, e,
         CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0 THEN 1.0
              ELSE list_max(list_transform(e, x -> abs(x))) END AS scale
  FROM v
)""",
        """q8 AS (
  SELECT vec_id,
         list_transform(e, x -> floor(x / scale * 127 + 0.5)) AS q
  FROM s
)""",
        f"""rel AS (
  SELECT c.vec_id, c.q, list_inner_product(c.q, qv.q) AS rel
  FROM q8 c, (SELECT q FROM q8 WHERE vec_id = {query_id}) qv
  WHERE c.vec_id <> {query_id}
)""",
        """s1 AS (
  SELECT 1 AS sel_order, vec_id, q, rel, 0.0 AS max_sim, rel AS mmr2
  FROM rel ORDER BY rel DESC, vec_id LIMIT 1
)""",
        """sel1 AS (SELECT * FROM s1)""",
    ]
    for t in range(2, k + 1):
        ctes.append(
            f"""m{t} AS (
  SELECT r.vec_id, MAX(r.rel) AS rel,
         MAX(list_inner_product(r.q, s.q)) AS max_sim
  FROM rel r, sel{t - 1} s
  WHERE r.vec_id NOT IN (SELECT vec_id FROM sel{t - 1})
  GROUP BY r.vec_id
),
s{t} AS (
  SELECT {t} AS sel_order, m.vec_id, q8.q, m.rel, m.max_sim,
         m.rel - m.max_sim AS mmr2
  FROM m{t} m JOIN q8 USING (vec_id)
  ORDER BY mmr2 DESC, m.vec_id LIMIT 1
),
sel{t} AS (SELECT * FROM sel{t - 1} UNION ALL SELECT * FROM s{t})"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(sel_order AS BIGINT) AS sel_order, vec_id,
       CAST(rel AS BIGINT) AS rel, CAST(max_sim AS BIGINT) AS max_sim,
       CAST(mmr2 AS BIGINT) AS mmr2
FROM sel{k}
"""
    )


@query("ann_mmr_select", oracle=_mmr_oracle())
def ann_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diverse top-k: the re-ranking stage
    between ANN retrieval and a RAG context window (or diverse
    exemplar picking) — greedy, redundancy-penalized selection
    (operators/similarity.py mmr_select_int8; integer dot products +
    lambda=1/2 folded into the x2-scaled objective, so every greedy
    choice is value-exact against the unrolled-CTE oracle)."""
    return similarity.mmr_select_int8(
        table(spark, sf_dir, "embeddings"), k=MMR_K, query_id=MMR_QUERY_ID
    )


@query("ann_int8_topk", oracle=_int8_oracle())
def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search over int8-quantized embeddings
    (operators/similarity.py quantize_int8 / int8_topk): 4x smaller
    vectors, exact integer dot products — the standard scale lever for
    billion-vector corpora; quantization is the only approximation.

    Scale: same topology as the exact brute-force path (broadcast
    query set, corpus never shuffles), but every candidate fold moves
    a quarter of the bytes.
    """
    emb = table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    out = similarity.int8_topk(emb, qs, k=TOPK_NEIGHBORS)
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# dedup_incremental_lsh — delta-vs-index near-dup flagging
# ---------------------------------------------------------------------------

#: Docs in residue classes >= this (mod 10) form the "daily delta";
#: the rest are the already-indexed corpus.
INCR_MOD = 10
INCR_NEW_FROM = 8


def _incremental_oracle() -> str:
    k, bands = dedup.MINHASH_K, dedup.LSH_BANDS
    rpb = k // bands
    band_selects = "\nUNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS bkey FROM sig".format(
            b=b,
            key=" || '|' || ".join(f"mh{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    return f"""
WITH {_toks_cte()},
{_grams_cte(dedup.NGRAM_N)},
{_sig_cte(k)},
bands AS ({band_selects}),
idx AS (SELECT DISTINCT band, bkey FROM bands
        WHERE doc_id % {INCR_MOD} < {INCR_NEW_FROM}),
hits AS (
  SELECT b.doc_id, CAST(count(DISTINCT b.band) AS BIGINT) AS n_hot_bands
  FROM bands b JOIN idx USING (band, bkey)
  WHERE b.doc_id % {INCR_MOD} >= {INCR_NEW_FROM}
  GROUP BY b.doc_id
)
SELECT d.doc_id,
       COALESCE(h.n_hot_bands, 0) AS n_hot_bands,
       COALESCE(h.n_hot_bands, 0) > 0 AS is_dup
FROM (SELECT doc_id FROM documents
      WHERE doc_id % {INCR_MOD} >= {INCR_NEW_FROM}) d
LEFT JOIN hits h USING (doc_id)
"""


@query("dedup_incremental_lsh", oracle=_incremental_oracle())
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta-vs-index) near-dup detection: documents in
    the 'daily delta' (doc_id residue >= {INCR_NEW_FROM} mod
    {INCR_MOD}) are flagged when ANY of their MinHash-LSH band keys
    collides with the indexed corpus — the production dedup topology,
    where the historical corpus is a stored band-key table and each
    ingest batch only computes its own signatures and probes.

    Scale: the delta's signature pipeline touches delta bytes only;
    the probe is a band-key equi-join against the index (shuffle
    bounded by delta size + matched keys, never corpus-sized). Here
    both sides derive from one banding pass over the shared table,
    checkpointed so the shingle->signature pipeline runs once.
    """
    docs = table(spark, sf_dir, "documents")
    bk = materialize(dedup.minhash_band_keys(docs, "doc_id", "text"))
    new_pred = F.col("doc_id") % INCR_MOD >= INCR_NEW_FROM
    idx = bk.filter(~new_pred).select("band", "bkey").distinct()
    hits = (
        bk.filter(new_pred)
        .join(idx, ["band", "bkey"])
        .groupBy("doc_id")
        .agg(F.countDistinct("band").alias("n_hot_bands"))
    )
    new_docs = docs.filter(new_pred).select("doc_id")
    return new_docs.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_hot_bands"), F.lit(0)).alias("n_hot_bands"),
        (F.coalesce(F.col("n_hot_bands"), F.lit(0)) > 0).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# dedup_span_clean — cross-document span-level dedup (C4-style)
# ---------------------------------------------------------------------------


def _span_oracle(span: int = dedup.SPAN_TOKENS, min_df: int = dedup.SPAN_MIN_DF) -> str:
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT t.doc_id, CAST(gs.i AS BIGINT) AS pos,
         array_to_string(toks[CAST(gs.i*{span}+1 AS BIGINT):CAST(gs.i*{span}+{span} AS BIGINT)], ' ') AS span_text
  FROM t, LATERAL unnest(range(0, (len(toks)-1)//{span} + 1)) AS gs(i)
),
dup AS (SELECT span_text FROM s GROUP BY span_text HAVING COUNT(DISTINCT doc_id) >= {min_df}),
f AS (SELECT s.doc_id, s.pos, s.span_text, d.span_text IS NOT NULL AS is_dup
      FROM s LEFT JOIN dup d USING (span_text))
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       COALESCE(string_agg(CASE WHEN NOT is_dup THEN span_text END, ' ' ORDER BY pos), '') AS clean_text
FROM f GROUP BY doc_id
"""


@query("dedup_span_clean", oracle=_span_oracle())
def dedup_span_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document span dedup (operators/dedup.py span_dedup): the
    C4 "duplicated span" cleaning pass — corpus-duplicated
    {dedup.SPAN_TOKENS}-token spans removed from every document, with
    the cleaned text reassembled in order.

    Scale: three uniform shuffles (span-digest distinct-df count,
    dup-set flag join, per-doc reassembly); never all-pairs, and AQE
    broadcasts the dup-span set when it is small."""
    return dedup.span_dedup(table(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# dedup_boundary_overlap — suffix/prefix continuation detection
# ---------------------------------------------------------------------------

#: Boundary width in tokens: doc A's last k tokens == doc B's first k.
BOUNDARY_K = 2


def _boundary_oracle(k: int = BOUNDARY_K) -> str:
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
b AS (
  SELECT doc_id,
         array_to_string(toks[1:{k}], ' ') AS pre,
         array_to_string(toks[len(toks) - {k} + 1:len(toks)], ' ') AS suf
  FROM t WHERE len(toks) >= {2 * k}
)
SELECT a.doc_id AS head_id, c.doc_id AS tail_id, a.suf AS boundary
FROM b a JOIN b c ON a.suf = c.pre AND a.doc_id <> c.doc_id
"""


@query("dedup_boundary_overlap", oracle=_boundary_oracle())
def dedup_boundary_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-overlap detection: document pairs where A's last
    {BOUNDARY_K} tokens equal B's first {BOUNDARY_K} — the signature
    of one source text split across two scraped chunks (the
    continuation case whole-doc dedup can never see; stitching or
    de-weighting such pairs is a crawl-corpus cleaning step).

    Scale: each doc contributes ONE (prefix, suffix) row — never the
    token stream — and the pair stage is a suffix=prefix equi-join on
    the boundary string, shuffling only the boundary dimension; a hot
    boundary (a common phrase) fans out like any hot join key and
    takes the same df-cap used by the shingle index when needed.
    Docs shorter than 2k tokens are excluded (their boundary would
    self-overlap)."""
    from protarrow_spark.functions.text import tokens as ws_tokens

    docs = table(spark, sf_dir, "documents")
    base = docs.select("doc_id", ws_tokens(F.col("text")).alias("__toks"))
    n = F.size(F.col("__toks"))
    b = base.filter(n >= 2 * BOUNDARY_K).select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.col("__toks"), 1, BOUNDARY_K)).alias("pre"),
        F.concat_ws(
            " ", F.slice(F.col("__toks"), n - BOUNDARY_K + 1, BOUNDARY_K)
        ).alias("suf"),
    )
    a = b.select(F.col("doc_id").alias("head_id"), F.col("suf").alias("boundary"))
    c = b.select(F.col("doc_id").alias("tail_id"), F.col("pre").alias("boundary"))
    return a.join(c, "boundary").filter(
        F.col("head_id") != F.col("tail_id")
    ).select("head_id", "tail_id", "boundary")


# ---------------------------------------------------------------------------
# text_chunk_overlap — sliding-window chunking (RAG / context prep)
# ---------------------------------------------------------------------------


def _chunk_oracle(w: int = text.CHUNK_WINDOW, st: int = text.CHUNK_STRIDE) -> str:
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
c AS (
  SELECT t.doc_id, CAST(gs.i AS BIGINT) AS chunk_id,
         CAST(gs.i*{st}+1 AS BIGINT) AS tok_start,
         array_to_string(toks[CAST(gs.i*{st}+1 AS BIGINT):CAST(gs.i*{st}+{w} AS BIGINT)], ' ') AS chunk_text,
         len(toks) AS n
  FROM t, LATERAL unnest(range(0, (len(toks)-1)//{st} + 1)) AS gs(i)
)
SELECT doc_id, chunk_id, tok_start,
       CAST(LEAST(n - tok_start + 1, {w}) AS BIGINT) AS n_chunk_tokens, chunk_text
FROM c
"""


@query("text_chunk_overlap", oracle=_chunk_oracle())
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (operators/text.py chunk_sliding):
    {text.CHUNK_WINDOW}-token chunks every {text.CHUNK_STRIDE} tokens,
    the RAG / training-context preparation pass.

    Scale: zero shuffles — split + sequence + slice + one explode, all
    codegen; output stays partitioned like the scan for the downstream
    embed/index stage."""
    return text.chunk_sliding(table(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# text_boilerplate_ngrams — CCNet-style per-source boilerplate accounting
# ---------------------------------------------------------------------------


def _boiler_oracle(pct: int = text.BOILER_PCT) -> str:
    return f"""
WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
pos AS (
  SELECT doc_id, source,
         array_to_string(toks[CAST(i AS BIGINT):CAST(i + 1 AS BIGINT)], ' ') AS g
  FROM t, LATERAL unnest(range(1, len(toks))) AS r(i)
),
dfreq AS (SELECT source, g, COUNT(DISTINCT doc_id) AS df FROM pos GROUP BY source, g),
nd AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
boiler AS (
  SELECT dfreq.source, g FROM dfreq JOIN nd USING (source)
  WHERE df * 100 >= {pct} * n_docs
),
per AS (
  SELECT doc_id, COUNT(*) AS n_boiler
  FROM pos JOIN boiler USING (source, g) GROUP BY doc_id
),
base AS (SELECT doc_id, source, GREATEST(len(toks) - 1, 0) AS n_grams FROM t)
SELECT base.doc_id, base.source, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(COALESCE(n_boiler, 0) AS BIGINT) AS n_boiler_grams,
       CAST(CASE WHEN n_grams = 0 THEN 1000000
            ELSE ((n_grams - COALESCE(n_boiler, 0)) * 1000000) // n_grams
            END AS BIGINT) AS clean_ppm
FROM base LEFT JOIN per USING (doc_id)
"""


@query("text_boilerplate_ngrams", oracle=_boiler_oracle())
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate accounting (operators/text.py
    boilerplate_ngrams): a bigram appearing in >= {text.BOILER_PCT}% of
    a SOURCE's documents is that source's boilerplate (nav bars,
    footers, licence blurbs at web scale); every document reports its
    boilerplate-position count and clean ratio in exact ppm.

    Scale: two shuffles, both keyed inside the source shard — exactly
    CCNet's per-domain sharding, so no cross-source traffic ever."""
    return text.boilerplate_ngrams(
        table(spark, sf_dir, "documents"), "doc_id", "text", "source"
    )


# ---------------------------------------------------------------------------
# text_pii_redact — privacy scrub with per-doc match accounting
# ---------------------------------------------------------------------------


def _pii_oracle() -> str:
    email, phone = text.PII_EMAIL_RE, text.PII_PHONE_RE
    return f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or +1-202-555-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS txt
  FROM documents
),
r AS (
  SELECT doc_id,
         len(regexp_extract_all(txt, '{email}')) AS n_emails,
         len(regexp_extract_all(txt, '{phone}')) AS n_phones,
         regexp_replace(regexp_replace(txt, '{email}', '<EMAIL>', 'g'), '{phone}', '<PHONE>', 'g') AS red
  FROM aug
)
SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails, CAST(n_phones AS BIGINT) AS n_phones,
       md5(red) AS redacted_md5, CAST(length(red) AS BIGINT) AS redacted_len
FROM r
"""


@query("text_pii_redact", oracle=_pii_oracle())
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/text.py pii_redact) over documents
    augmented with deterministic synthetic contact lines (the corpus
    itself is PII-free, so each doc gets a derived email + phone
    appended — the scrub machinery and its per-doc accounting are what
    is under test).

    Scale: two linear codegen'd regex passes per row, zero shuffles;
    the output digest keeps the verification payload small."""
    docs = table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or +1-202-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return text.pii_redact(aug, "doc_id", "text")


# ---------------------------------------------------------------------------
# sample_stratified_sources — deterministic per-stratum cap (data mixing)
# ---------------------------------------------------------------------------

STRATIFIED_CAP = 15


def _stratified_oracle(cap: int = STRATIFIED_CAP) -> str:
    return f"""
WITH r AS (
  SELECT doc_id, source, lang,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
  FROM documents
)
SELECT doc_id, source, lang, CAST(sample_rank AS BIGINT) AS sample_rank
FROM r WHERE sample_rank <= {cap}
"""


@query("sample_stratified_sources", oracle=_stratified_oracle())
def sample_stratified_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling for training-data mixing: each source
    contributes at most {STRATIFIED_CAP} documents, chosen by md5
    ranking of the document id — deterministic across engines,
    partitionings, and reruns (the property a reproducible data-mix
    recipe needs), unlike rand()-based sampling.

    Scale: one shuffle on the stratum key; Spark's WindowGroupLimit
    rewrite prunes each partition to the top {STRATIFIED_CAP} rows
    map-side before the shuffle, so the full corpus never moves."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select(
            "doc_id",
            "source",
            "lang",
            F.row_number().over(w).cast("long").alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= STRATIFIED_CAP)
    )


# ---------------------------------------------------------------------------
# sample_weighted_mix — per-source Bernoulli rates (data-mixing recipe)
# ---------------------------------------------------------------------------

#: Mixing recipe: sampling rate per source tier. Thresholds are
#: precomputed 60-bit integers (rate * 2^60) so the keep test is pure
#: integer comparison — no float rounding anywhere.
MIX_TIERS: list[tuple[tuple[str, ...], float]] = [
    (("src0", "src1"), 1.0),
    (("src2", "src3", "src4"), 0.5),
]
MIX_DEFAULT_RATE = 0.2
_T60 = 1 << 60


def _mix_threshold(rate: float) -> int:
    return int(rate * _T60)


def _weighted_mix_oracle() -> str:
    cases = " ".join(
        f"WHEN source IN ({', '.join(repr(s) for s in srcs)}) THEN {_mix_threshold(r)}"
        for srcs, r in MIX_TIERS
    )
    return f"""
WITH w AS (
  SELECT doc_id, source,
         CASE {cases} ELSE {_mix_threshold(MIX_DEFAULT_RATE)} END AS thr,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM documents
)
SELECT doc_id, source FROM w WHERE h < thr
"""


@query("sample_weighted_mix", oracle=_weighted_mix_oracle())
def sample_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mixture sampling: each source is Bernoulli-sampled at
    its recipe rate (full weight for the premium tier, 0.5 / 0.2 down
    the tiers) by comparing a 60-bit md5 key against the precomputed
    integer threshold rate*2^60 — the deterministic per-stratum
    downsampling step of a data-mixing recipe. Complements
    sample_stratified_sources (hard per-stratum caps need a rank; rate
    sampling needs only the row itself).

    Scale: a scan-level integer filter — zero shuffles, no window, no
    join; identical sample whatever the partitioning, engine, or rerun.
    """
    docs = table(spark, sf_dir, "documents")
    thr = F.lit(_mix_threshold(MIX_DEFAULT_RATE))
    for srcs, r in reversed(MIX_TIERS):
        thr = F.when(F.col("source").isin(*srcs), F.lit(_mix_threshold(r))).otherwise(thr)
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
    return docs.select("doc_id", "source", h.alias("h"), thr.alias("thr")).filter(
        F.col("h") < F.col("thr")
    ).select("doc_id", "source")


# ---------------------------------------------------------------------------
# sample_token_budget_mix — budget-constrained mixture filling
# ---------------------------------------------------------------------------

#: Premium sources get 3x the per-source token quota.
BUDGET_PREMIUM = ("src0", "src1", "src2")
BUDGET_PREMIUM_W = 3
#: Global budget = total corpus tokens div this.
BUDGET_DIV = 2


def _token_budget_oracle() -> str:
    prem = ", ".join(f"'{s}'" for s in BUDGET_PREMIUM)
    return f"""
WITH d AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_t FROM documents
),
tot AS (SELECT SUM(n_t) AS t_total FROM d),
srcw AS (
  SELECT source,
         CASE WHEN source IN ({prem}) THEN {BUDGET_PREMIUM_W} ELSE 1 END AS w
  FROM (SELECT DISTINCT source FROM d)
),
wsum AS (SELECT SUM(w) AS w_total FROM srcw),
quota AS (
  SELECT source, ((t_total // {BUDGET_DIV}) * w) // w_total AS q
  FROM srcw CROSS JOIN tot CROSS JOIN wsum
),
ordered AS (
  SELECT d.source, d.n_t, quota.q,
         SUM(d.n_t) OVER (
           PARTITION BY d.source
           ORDER BY md5('mix|' || CAST(d.doc_id AS VARCHAR)), d.doc_id
         ) AS cum
  FROM d JOIN quota USING (source)
),
taken AS (SELECT * FROM ordered WHERE cum - n_t < q)
SELECT source, CAST(MAX(q) AS BIGINT) AS quota,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_t) AS BIGINT) AS tokens_taken
FROM taken
GROUP BY source
"""


@query("sample_token_budget_mix", oracle=_token_budget_oracle())
def sample_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-BUDGET mixture filling: the final step of a data-mixing
    recipe — a global token budget (half the corpus here) is
    apportioned across sources by weight (premium tier 3x), and each
    source fills its quota with a deterministic md5-ordered greedy
    scan (a doc is taken iff the tokens before it leave quota
    unfilled, so each source overshoots by at most one document).
    Complements the RATE (sample_weighted_mix) and per-stratum CAP
    (sample_stratified_sources) mixers: budgets are what training
    recipes actually specify ("300B tokens, 30% web, 3x books").

    Scale: two scalar aggregates (corpus tokens, weight total) ride
    as 1-row broadcasts; the greedy fill is one cumsum window per
    source (single shuffle on the source key; salt-split giant
    sources into sub-shards at 100 TB and take quota div n_shards per
    shard); the per-source rollup reuses the same partitioning.

    Output: source, quota, n_docs, tokens_taken.
    """
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", F.size(F.split(F.col("text"), " ")).alias("n_t")
    )
    tot = d.agg(F.sum("n_t").alias("t_total"))
    srcw = d.select("source").distinct().select(
        "source",
        F.when(F.col("source").isin(*BUDGET_PREMIUM), F.lit(BUDGET_PREMIUM_W))
        .otherwise(F.lit(1))
        .alias("w"),
    )
    wsum = srcw.agg(F.sum("w").alias("w_total"))
    quota = (
        srcw.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(wsum))
        .select(
            "source",
            F.expr(f"((t_total div {BUDGET_DIV}) * w) div w_total").alias("q"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))), F.col("doc_id")
    )
    ordered = (
        d.join(F.broadcast(quota), "source")
        .withColumn("cum", F.sum("n_t").over(w))
    )
    return (
        ordered.filter(F.col("cum") - F.col("n_t") < F.col("q"))
        .groupBy("source")
        .agg(
            F.max("q").cast("long").alias("quota"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_t").cast("long").alias("tokens_taken"),
        )
    )


# ---------------------------------------------------------------------------
# order_length_buckets — sequence-length bucketing (batching efficiency)
# ---------------------------------------------------------------------------

#: Smallest padding bucket (sequences shorter than this share it).
LENBUCKET_MIN = 16


def _lenbucket_oracle() -> str:
    m = LENBUCKET_MIN
    return f"""
WITH d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_t FROM documents
),
b AS (
  SELECT doc_id, n_t,
         GREATEST({m}, CASE WHEN n_t <= 1 THEN 1
                       ELSE 1 << CAST(length(bin(n_t - 1)) AS INT) END) AS bucket_len
  FROM d
)
SELECT CAST(bucket_len AS BIGINT) AS bucket_len,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_t) AS BIGINT) AS total_tokens,
       CAST(COUNT(*) * bucket_len AS BIGINT) AS padded_tokens,
       CAST(((COUNT(*) * bucket_len - SUM(n_t)) * 1000000)
            // (COUNT(*) * bucket_len) AS BIGINT) AS waste_ppm
FROM b GROUP BY bucket_len
"""


@query("order_length_buckets", oracle=_lenbucket_oracle())
def order_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing: documents grouped into power-of-two
    token-length buckets (floor {LENBUCKET_MIN}) with exact padding-
    waste accounting per bucket — the batching-efficiency planning
    step of a training pipeline (batch within a bucket and padding
    waste drops from max-length padding to <50% worst case; the
    waste_ppm column is the evidence). ceil(log2 n) is computed as
    the BIT LENGTH of n-1 (bin-string length — no libm, no float).

    Scale: one map-side-combined groupBy on the bucket dimension
    (O(log max_len) distinct keys); the scan's token count is the
    only per-row work."""
    from protarrow_spark.functions.text import tokens as ws_tokens

    docs = table(spark, sf_dir, "documents")
    nt = docs.select(F.size(ws_tokens(F.col("text"))).alias("n_t"))
    bucket = F.greatest(
        F.lit(LENBUCKET_MIN),
        F.when(F.col("n_t") <= 1, F.lit(1)).otherwise(
            F.expr("shiftleft(1, cast(length(bin(n_t - 1)) as int))")
        ),
    )
    b = nt.select("n_t", bucket.alias("bucket_len"))
    return b.groupBy("bucket_len").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_t").cast("long").alias("total_tokens"),
        (F.count(F.lit(1)) * F.col("bucket_len")).cast("long").alias("padded_tokens"),
        F.expr(
            "((count(1) * bucket_len - sum(n_t)) * 1000000)"
            " div (count(1) * bucket_len)"
        )
        .cast("long")
        .alias("waste_ppm"),
    ).select(
        F.col("bucket_len").cast("long").alias("bucket_len"),
        "n_docs",
        "total_tokens",
        "padded_tokens",
        "waste_ppm",
    )


# ---------------------------------------------------------------------------
# sample_temperature_mix — temperature-scaled source weights (alpha=1/2)
# ---------------------------------------------------------------------------

#: Exact integer sqrt, valid for n < 2^52: the double sqrt seeds the
#: answer and two integer comparisons correct any half-ulp error, so
#: both engines land on the identical floor(sqrt(n)).
_ISQRT = (
    "(cast(floor(sqrt(cast({n} as double))) as bigint)"
    " + (case when (cast(floor(sqrt(cast({n} as double))) as bigint) + 1)"
    "          * (cast(floor(sqrt(cast({n} as double))) as bigint) + 1) <= {n}"
    "     then 1 else 0 end)"
    " - (case when cast(floor(sqrt(cast({n} as double))) as bigint)"
    "          * cast(floor(sqrt(cast({n} as double))) as bigint) > {n}"
    "     then 1 else 0 end))"
)


def _temperature_mix_oracle() -> str:
    w = _ISQRT.format(n="n_tokens")
    return f"""
WITH d AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM(len(string_split(text, ' '))) AS n_tokens
  FROM documents GROUP BY source
),
wtab AS (SELECT source, n_docs, n_tokens, {w} AS w FROM d),
tot AS (SELECT SUM(w) AS w_total FROM wtab)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(w AS BIGINT) AS weight,
       CAST((w * 1000000) // w_total AS BIGINT) AS mix_ppm
FROM wtab CROSS JOIN tot
"""


@query("sample_temperature_mix", oracle=_temperature_mix_oracle())
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights: each source's sampling
    weight is n_tokens^alpha with alpha = 1/2 — the standard
    multilingual/multi-source rebalancing rule (upsample the tail,
    damp the head; XLM-R trains with exactly this family of
    exponents). alpha = 1/2 makes the weight an INTEGER sqrt, computed
    exactly (double-sqrt seed + two integer corrections), so the
    whole recipe — weights and ppm shares — hash-matches across
    engines with zero float drift. Completes the mixer trio: rate
    (weighted_mix), cap (stratified), budget (token_budget_mix).

    Scale: one per-source aggregate (map-side combine over the scan)
    and a 1-row weight-total broadcast — sources number in the
    hundreds at 100 TB, so everything after the first shuffle is
    driver-trivial.

    Output: source, n_docs, n_tokens, weight, mix_ppm.
    """
    from protarrow_spark.functions.text import tokens as ws_tokens

    docs = table(spark, sf_dir, "documents")
    d = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(ws_tokens(F.col("text")))).alias("n_tokens"),
    )
    wtab = d.withColumn("w", F.expr(_ISQRT.format(n="n_tokens")))
    tot = wtab.agg(F.sum("w").alias("w_total"))
    return (
        wtab.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("w").cast("long").alias("weight"),
            F.expr("(w * 1000000) div w_total").cast("long").alias("mix_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# report_key_skew — join-key skew diagnostic (salting decision input)
# ---------------------------------------------------------------------------


@query(
    "report_key_skew",
    oracle="""
WITH c AS (SELECT l_partkey AS key, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
r AS (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rnk, COUNT(*) OVER () AS nk
  FROM c
)
SELECT CAST(MAX(nk) AS BIGINT) AS n_keys,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(MAX(CASE WHEN rnk = 1 THEN cnt END) AS BIGINT) AS top1_count,
       CAST(MAX(CASE WHEN rnk = 1 THEN cnt END) AS DOUBLE) / SUM(cnt) AS top1_share,
       CAST(MAX(CASE WHEN rnk <= nk // 100 + 1 THEN cnt END) AS BIGINT)
         AS p99_count,
       CAST(SUM(cnt) AS DOUBLE) / MAX(nk) AS mean_count,
       CAST(MAX(CASE WHEN rnk = 1 THEN cnt END) AS DOUBLE)
         / (CAST(SUM(cnt) AS DOUBLE) / MAX(nk)) AS top1_over_mean
FROM r
""",
)
def report_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic over lineitem.l_partkey — the report
    a planner (or an engineer choosing between a plain, AQE-skew, or
    salted join; see join_salted_skew) reads BEFORE shuffling 100 TB
    on a hot key: distinct keys, top-1 key share, ~p99 per-key count,
    and top-1-over-mean (the skew factor that decides the salt
    width). All counts exact integers; two final divisions.

    Scale: one partial-aggregated count per key, then a rank over the
    KEY dimension (not the fact table) — the single-partition window
    runs over n_keys rows, and for key spaces too large even for that,
    the same report runs on a hash-sampled key stratum."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    c = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("key"))
    r = c.select(
        "cnt",
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nk"),
    )
    agg = r.groupBy().agg(
        F.max("nk").cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max(F.when(F.col("rnk") == 1, F.col("cnt"))).cast("long").alias("top1_count"),
        F.max(
            F.when(F.expr("rnk <= nk div 100 + 1"), F.col("cnt"))
        ).cast("long").alias("p99_count"),
    )
    return agg.select(
        "n_keys",
        "n_rows",
        "top1_count",
        (F.col("top1_count").cast("double") / F.col("n_rows")).alias("top1_share"),
        "p99_count",
        (F.col("n_rows").cast("double") / F.col("n_keys")).alias("mean_count"),
        (
            F.col("top1_count").cast("double")
            / (F.col("n_rows").cast("double") / F.col("n_keys"))
        ).alias("top1_over_mean"),
    )


# ---------------------------------------------------------------------------
# report_shard_manifest — provenance manifest with content digests
# ---------------------------------------------------------------------------

#: Documents per provenance shard (hash-assigned).
MANIFEST_SHARDS = 8


@query(
    "report_shard_manifest",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source, md5(text) AS content_digest,
         CAST('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
           % {MANIFEST_SHARDS} AS shard
  FROM documents
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       md5(string_agg(content_digest, '' ORDER BY content_digest)) AS shard_digest
FROM d
GROUP BY shard
""",
)
def report_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance manifest for a sharded corpus release: every doc
    gets a content digest, shards are hash-assigned, and each shard's
    identity is the digest of its SORTED member digests — a
    Merkle-leaf root that is partitioning/order-invariant, so two
    independently-produced copies of the same release verify byte-
    equal manifests (the reproducibility receipt a dataset card
    should carry, and the fast path for diffing two releases:
    unchanged shard digest = skip).

    Scale: one md5 per doc in the scan stage, one uniform shuffle on
    the shard key, and the per-shard sort is shard-local (array_sort
    over collected digests — shard size is a knob). Exact strings
    everywhere; the gate is hash-exact."""
    docs = table(spark, sf_dir, "documents")
    from protarrow_spark.operators.sketches import hex_to_long

    shard = (
        hex_to_long(
            F.md5(F.concat(F.lit("shard|"), F.col("doc_id").cast("string"))), 15
        )
        % MANIFEST_SHARDS
    )
    d = docs.select(
        shard.alias("shard"),
        "source",
        F.md5(F.col("text")).alias("content_digest"),
    )
    return (
        d.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.md5(
                F.concat_ws("", F.array_sort(F.collect_list("content_digest")))
            ).alias("shard_digest"),
        )
    )


# ---------------------------------------------------------------------------
# sample_train_val_test — canonical reproducible 3-way split
# ---------------------------------------------------------------------------

#: Split thresholds over the 60-bit md5 key space: 80 / 10 / 10.
SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10

#: DuckDB twin of :func:`_split_col` — the single source for every
#: oracle that assigns the canonical split.
_SPLIT_CASE_SQL = (
    "CASE WHEN CAST('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"
    f" % 100 < {SPLIT_TRAIN_PCT} THEN 'train' "
    "WHEN CAST('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"
    f" % 100 < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val' ELSE 'test' END"
)


def _split_col():
    """The canonical md5 train/val/test assignment as a scan-stage
    Column — shared by the split accounting query and the leakage
    audit so the assignment can never drift between them."""
    from protarrow_spark.operators.sketches import hex_to_long

    bucket = (
        hex_to_long(
            F.md5(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))), 15
        )
        % 100
    )
    return (
        F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )


@query(
    "sample_train_val_test",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_t,
         CAST('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
           % 100 AS bucket
  FROM documents
),
s AS (
  SELECT *,
         CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
              WHEN bucket < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM d
)
SELECT split, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_t) AS BIGINT) AS n_tokens
FROM s
GROUP BY split, source
""",
)
def sample_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical reproducible train/val/test split (80/10/10): the
    split is a pure function of the document id's md5 — stable across
    reruns, partitionings, engines, and corpus growth (a doc never
    migrates between splits when new data arrives, the property that
    prevents silent eval contamination). Output is the per-(split,
    source) doc/token accounting a dataset card reports.

    Scale: split assignment is a scan-stage expression (zero
    shuffles); only the rollup aggregates."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(
            _split_col().alias("split"),
            "source",
            F.size(F.split(F.col("text"), " ")).alias("n_t"),
        )
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_t").cast("long").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# report_source_quality — dataset-card rollup per source
# ---------------------------------------------------------------------------


def _report_oracle() -> str:
    stop_list = ", ".join(f"'{s}'" for s in text.STOPWORDS)
    return f"""
WITH toks AS (
  SELECT doc_id, source, lang, text, string_split(text, ' ') AS t FROM documents
),
m AS (
  SELECT source, lang, text, len(t) AS n_toks,
         (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
         * least(1.0, CAST(len(t) AS DOUBLE) / 50.0)
         * (1.0 - CAST(len(list_filter(t, x -> list_contains([{stop_list}], x))) AS DOUBLE) / len(t)) AS q
  FROM toks
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_exact_dups,
       CAST(SUM(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       CAST(SUM(CASE WHEN q >= 0.25 AND q < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
       CAST(SUM(CASE WHEN q < 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS n_low
FROM m GROUP BY source
"""


@query("report_source_quality", oracle=_report_oracle())
def report_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card rollup: per-source document counts, exact token
    totals, language spread, exact-duplicate counts, and quality-
    bucket histogram (the text_quality score composed into a corpus
    report) — what a training-data pipeline publishes per ingest.

    Every aggregate is an exact integer (counts, sums of token
    counts, distinct counts); the per-row quality double is computed
    identically on both engines, so bucket membership agrees and only
    integers cross the aggregation — no float-accumulation-order
    dependence.

    Scale: one pass over the corpus, partial-aggregated groupBy on the
    (low-cardinality) source key; the two distinct-aggregates expand
    per Spark's multi-distinct rewrite but still shuffle only
    (source, lang) / (source, md5) pairs, never text.
    """
    from protarrow_spark.functions.text import tokens as ws_tokens

    docs = table(spark, sf_dir, "documents")
    t = ws_tokens(F.col("text"))
    n = F.size(t)
    q = text.quality_expr("text")
    per_doc = docs.select(
        "source",
        "lang",
        n.alias("n_toks"),
        F.md5("text").alias("tmd5"),
        q.alias("q"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        (F.count(F.lit(1)) - F.count_distinct("tmd5")).cast("long").alias("n_exact_dups"),
        F.sum(F.when(F.col("q") >= 0.5, 1).otherwise(0)).cast("long").alias("n_high"),
        F.sum(F.when((F.col("q") >= 0.25) & (F.col("q") < 0.5), 1).otherwise(0))
        .cast("long")
        .alias("n_medium"),
        F.sum(F.when(F.col("q") < 0.25, 1).otherwise(0)).cast("long").alias("n_low"),
    )


# ---------------------------------------------------------------------------
# pipeline_training_corpus — the whole prep pipeline as ONE declarative plan
# ---------------------------------------------------------------------------

PIPE_QUALITY_MIN = 0.25


def _gram_list_sql(arr: str, n: int) -> str:
    return (
        f"CASE WHEN len({arr}) >= {n} "
        f"THEN [array_to_string({arr}[i:i+{n - 1}], ' ') for i in range(1, len({arr}) - {n} + 2)] "
        f"ELSE [array_to_string({arr}, ' ')] END"
    )


def _pipeline_oracle(
    n: int = DECON_N,
    mod: int = DECON_EVAL_MOD,
    qmin: float = PIPE_QUALITY_MIN,
    window: int = PACK_WINDOW,
) -> str:
    stop_list = ", ".join(f"'{s}'" for s in text.STOPWORDS)
    return f"""
WITH t AS (
  SELECT doc_id, source, text, string_split(text, ' ') AS tk,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
),
d AS (SELECT doc_id, source, tk FROM t WHERE rn = 1),
q AS (
  SELECT * FROM d
  WHERE (CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk))
        * least(1.0, CAST(len(tk) AS DOUBLE) / 50.0)
        * (1.0 - CAST(len(list_filter(tk, x -> list_contains([{stop_list}], x))) AS DOUBLE) / len(tk))
        >= {qmin}
),
ev AS (SELECT string_split(text, ' ') AS tk FROM documents WHERE doc_id % {mod} = 0),
eg AS (SELECT DISTINCT unnest({_gram_list_sql('tk', n)}) AS g FROM ev),
tg AS (
  SELECT DISTINCT doc_id, unnest({_gram_list_sql('tk', n)}) AS g
  FROM q WHERE doc_id % {mod} <> 0
),
contam AS (SELECT DISTINCT tg.doc_id FROM tg JOIN eg USING (g)),
clean AS (
  SELECT doc_id, source, len(tk) AS n_tokens FROM q
  WHERE doc_id % {mod} <> 0 AND doc_id NOT IN (SELECT doc_id FROM contam)
),
o AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_offset
  FROM clean
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(tok_offset AS BIGINT) AS tok_offset,
       CAST(tok_offset // {window} AS BIGINT) AS pack_id
FROM o
"""


@query("pipeline_training_corpus", oracle=_pipeline_oracle())
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus preparation pipeline composed as ONE
    declarative plan: exact dedup (keep the canonical min-id copy) ->
    quality filter (composite score >= {PIPE_QUALITY_MIN}) ->
    benchmark decontamination (drop docs sharing any word
    {DECON_N}-gram with the held-out eval residue class) -> sequence
    packing of the survivors into {PACK_WINDOW}-token shards. What a
    real ingest runs nightly — here Catalyst sees the whole DAG at
    once, so scan pruning, broadcast decisions, and shuffle reuse
    happen across stage boundaries a hand-staged pipeline would lose.

    Scale: one digest-keyed shuffle (dedup window), per-row quality in
    the same pass, the eval shingle set broadcast for the
    decontamination anti-join (corpus never shuffles for it), one
    source-keyed shuffle for packing — four operators, three uniform
    shuffles, no all-pairs anywhere.
    """
    from pyspark.sql import Window
    from protarrow_spark.functions.text import tokens as ws_tokens

    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    surv = (
        docs.select("doc_id", "source", "text", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .filter(text.quality_expr("text") >= PIPE_QUALITY_MIN)
    )
    eval_g = (
        dedup.doc_shingles(
            docs.filter(F.col("doc_id") % DECON_EVAL_MOD == 0), "doc_id", "text", DECON_N
        )
        .select("g")
        .distinct()
    )
    # The training survivors feed the contamination shingle pass AND
    # the anti-join's left side — materialize the window-dedup +
    # quality stage once (r13 opt; at 100 TB this is the standard
    # write-the-survivors-between-stages barrier).
    train = materialize(surv.filter(F.col("doc_id") % DECON_EVAL_MOD != 0))
    contaminated = (
        dedup.doc_shingles(train, "doc_id", "text", DECON_N)
        .join(F.broadcast(eval_g), "g")
        .select("doc_id")
        .distinct()
    )
    clean = train.join(contaminated, "doc_id", "left_anti").select(
        "doc_id", "source", F.size(ws_tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    pw = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(pw)
    return clean.select(
        "doc_id",
        "source",
        "n_tokens",
        (cum - F.col("n_tokens")).alias("tok_offset"),
        F.floor((cum - F.col("n_tokens")) / F.lit(PACK_WINDOW)).cast("long").alias("pack_id"),
    )


@query(
    "text_bpe_pair_counts",
    oracle="""
WITH words AS (
  SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
),
pairs AS (
  SELECT unnest([substr(w, CAST(i AS INT), 2) FOR i IN range(1, length(w))]) AS pair
  FROM words WHERE length(w) >= 2
)
SELECT pair, COUNT(*) AS n_pair
FROM pairs GROUP BY pair
ORDER BY n_pair DESC, pair
LIMIT 20
""",
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training merge step: count adjacent symbol pairs across
    the corpus and rank the top candidates (the pair a BPE trainer
    would merge next). Character-level here; with an evolving vocab
    the same plan re-runs per merge round over re-segmented words.

    Scale shape: the explode happens in the scan stage (no data
    motion), and the groupBy's key space is bounded by |alphabet|^2 —
    partial aggregation collapses each scan partition to at most that
    many rows, so the shuffle is tiny no matter the corpus size; the
    final top-20 is a TakeOrdered, never a full sort."""
    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .orderBy(F.desc("n_pair"), "pair")
        .limit(20)
    )


def _rp_oracle() -> str:
    from protarrow_spark.functions.vector import RP_DIM_OUT, random_projection_sql

    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
s AS (
  SELECT vec_id, e,
         CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0 THEN 1.0
              ELSE list_max(list_transform(e, x -> abs(x))) END AS scale
  FROM v
),
q8 AS (
  SELECT vec_id,
         list_transform(e, x -> floor(x / scale * 127 + 0.5)) AS q
  FROM s
)
SELECT vec_id,
       {random_projection_sql("q", 64, RP_DIM_OUT)}
FROM q8
"""


@query("embed_random_projection", oracle=_rp_oracle())
def embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse Johnson-Lindenstrauss random projection 64 -> 8 dims
    over int8-quantized vectors: the pre-processing step that makes
    downstream LSH banding / k-means / near-dup checks 8x cheaper
    with bounded distance distortion (Achlioptas {-1,0,+1} matrix,
    2/3 sparse).

    Scale shape: the sign matrix is md5-derived from indices (nothing
    to broadcast), quantization + projection are pure whole-stage-
    codegen integer arithmetic in the scan projection — zero shuffles,
    zero Python — and all-integer outputs are EXACT, immune to float
    accumulation order / FMA differences between engines."""
    from protarrow_spark.functions.vector import RP_DIM_OUT, random_projection_exprs
    from protarrow_spark.operators.similarity import quantize_int8

    emb = spread(table(spark, sf_dir, "embeddings"))
    q = quantize_int8(emb)
    return q.select("vec_id", *random_projection_exprs("q", 64, RP_DIM_OUT))


@query(
    "text_novelty_score",
    oracle=f"""
WITH {_toks_cte()},
{_grams_cte(dedup.NGRAM_N)},
first AS (SELECT g, MIN(doc_id) AS first_doc FROM dg GROUP BY g)
SELECT dg.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN first_doc = dg.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_first,
       CAST(SUM(CASE WHEN first_doc = dg.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS novelty
FROM dg JOIN first USING (g)
GROUP BY dg.doc_id
""",
)
def text_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct 3-gram
    shingles whose FIRST corpus occurrence (lowest doc_id) is this doc
    — the memorization/self-contamination signal (a low-novelty doc is
    mostly re-statement of earlier corpus content; curriculum or
    near-dup pipelines drop or down-weight it).

    Scale shape: shingle explode in the scan; first-occurrence
    attribution is one groupBy on the shingle key; the join back is
    co-partitioned on the same key (exchange reuse, no extra
    shuffle); the per-doc rollup is one more uniform shuffle. Hot
    stopword shingles skew the join — AQE skew-split handles it, and
    a DF cap (as in ngram_jaccard) is the explicit lever if needed."""
    docs = table(spark, sf_dir, "documents")
    dg = dedup.doc_shingles(docs, "doc_id", "text", n=dedup.NGRAM_N)
    first = dg.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    joined = dg.join(first, "g")
    n_first = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).alias("n_first")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"), n_first
    ).select(
        "doc_id",
        "n_shingles",
        "n_first",
        (F.col("n_first").cast("double") / F.col("n_shingles")).alias("novelty"),
    )


#: OOV-rate vocabulary size (top tokens by corpus frequency).
OOV_VOCAB_K = 1000


@query(
    "text_oov_rate",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (
  SELECT tok FROM toks GROUP BY tok
  ORDER BY COUNT(*) DESC, tok LIMIT {OOV_VOCAB_K}
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN vocab.tok IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_oov,
       CAST(SUM(CASE WHEN vocab.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS oov_rate
FROM toks LEFT JOIN vocab USING (tok)
GROUP BY doc_id
""",
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage audit: build the top-k corpus vocabulary and
    score every document's out-of-vocabulary token rate — the signal
    for tokenizer/corpus mismatch (high-OOV docs inflate token counts
    and degrade training).

    Scale shape: the vocab is a word-count groupBy pruned to k rows by
    TakeOrdered (map-side partial counts, one uniform shuffle); the
    per-token membership check is a BROADCAST left join against the
    k-row vocab — the corpus token stream never shuffles for it — and
    the per-doc rollup is one partial-aggregated groupBy."""
    docs = table(spark, sf_dir, "documents")
    toks = spread(docs.select("doc_id", "text")).select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(OOV_VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    joined = toks.join(F.broadcast(vocab), "tok", "left")
    n_oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"), n_oov
    ).select(
        "doc_id",
        "n_tokens",
        "n_oov",
        (F.col("n_oov").cast("double") / F.col("n_tokens")).alias("oov_rate"),
    )


# ---------------------------------------------------------------------------
# graph_pagerank — exact fixed-point PageRank over the supplier-part graph
# ---------------------------------------------------------------------------

#: Part nodes are offset into their own id range so suppliers and
#: parts share one node-id space without collisions.
PAGERANK_PART_OFFSET = 10_000_000
PAGERANK_ITERATIONS = 3


def _pagerank_oracle() -> str:
    from protarrow_spark.operators.graph import pagerank_oracle_sql

    edges = f"""
SELECT l_suppkey AS src, l_partkey + {PAGERANK_PART_OFFSET} AS dst FROM lineitem
UNION ALL
SELECT l_partkey + {PAGERANK_PART_OFFSET} AS src, l_suppkey AS dst FROM lineitem
"""
    return pagerank_oracle_sql(edges, iterations=PAGERANK_ITERATIONS)


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite supplier<->part shipment graph
    (edges from lineitem, both directions), 3 unrolled iterations in
    exact fixed-point integer arithmetic — the iterative-graph-
    algorithm counterpart to dedup_cluster_assign that IS value-
    verifiable against a SQL oracle (float PageRank would be
    accumulation-order-dependent).

    Scale: per iteration one edges-ranks equi-join + one partial-
    aggregated groupBy, both hash-partitioned on node id; nothing
    graph-sized is broadcast or collected."""
    from protarrow_spark.operators.graph import pagerank

    li = table(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + PAGERANK_PART_OFFSET).alias("dst"),
    )
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return pagerank(edges, "src", "dst", iterations=PAGERANK_ITERATIONS)


# ---------------------------------------------------------------------------
# mine_association_rules — market-basket support/confidence/lift
# ---------------------------------------------------------------------------

#: Minimum co-occurrence support (same threshold as the triangle graph).
RULES_MIN_SUPPORT = 2
RULES_TOPK = 20


@query(
    "mine_association_rules",
    oracle=f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
item AS (SELECT l_partkey AS it, COUNT(*) AS n_it FROM li GROUP BY 1),
pair AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b, COUNT(*) AS n_ab
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {RULES_MIN_SUPPORT}
),
rules AS (
  SELECT p.a AS antecedent, p.b AS consequent,
         CAST(p.n_ab AS BIGINT) AS n_both,
         CAST(ia.n_it AS BIGINT) AS n_antecedent,
         CAST(p.n_ab AS DOUBLE) / ia.n_it AS confidence,
         CAST(p.n_ab AS DOUBLE) * n.n_orders / (ia.n_it * ib.n_it) AS lift
  FROM pair p
  JOIN item ia ON ia.it = p.a
  JOIN item ib ON ib.it = p.b
  CROSS JOIN n
)
SELECT * FROM rules
ORDER BY lift DESC, antecedent, consequent
LIMIT {RULES_TOPK}
""",
)
def mine_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining (market-basket): for every supported
    part pair, confidence(a -> b) = n_ab/n_a and
    lift = n_ab*N/(n_a*n_b), reporting the top rules by lift — the
    classic co-occurrence analytics family (and, for a training-data
    platform, the 'these sources/templates travel together' signal).
    Counts are exact integers from one distinct + two groupBys; the
    two final divisions are single IEEE ops on exact integers, so
    ordering and values are engine-identical.

    Scale: the pair stream is the bounded same-order self-join (per-
    order fan-out <= lines/order), support-thresholded before any
    scoring; item counts broadcast; top-k is TakeOrderedAndProject.
    This is apriori's 2-itemset pass — larger itemsets iterate the
    same join against the surviving frequent set."""
    # Basket table as one row per order (r14 — the same §2.3
    # aggregate-first device as _copurchase_edges): ONE partial-
    # aggregated shuffle collects each order's distinct part set
    # (collect_set subsumes the former scan+distinct), and every
    # downstream count derives from it without a join:
    #   n_orders = the basket row count (was a 2-exchange
    #   countDistinct over the distinct pair stream),
    #   item counts = explode + groupBy (same shuffled volume as
    #   before),
    #   pair supports = a<b pairs emitted MAP-SIDE from the sorted
    #   array by the chained posexplode/slice generators (<= 21
    #   rows/order, bounded at any scale), one groupBy — the former
    #   self-join (2 exchanges + SortMergeJoin over the basket stream,
    #   emitting BOTH directions into the support shuffle) is gone.
    # Rules are directed, but supports are symmetric: count each
    # unordered pair once (HALF the former shuffle rows), threshold,
    # then mirror — identical (a, b, n_ab) triples.
    baskets = materialize(
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    n = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    item = (
        baskets.select(F.explode("ps").alias("it"))
        .groupBy("it")
        .agg(F.count(F.lit(1)).alias("n_it"))
    )
    e1 = baskets.select(F.posexplode("ps").alias("i", "a"), "ps")
    pair_u = (
        e1.select("a", F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= RULES_MIN_SUPPORT)
    )
    pair = pair_u.unionByName(
        pair_u.select(F.col("b").alias("a"), F.col("a").alias("b"), "n_ab")
    )
    rules = (
        pair.join(F.broadcast(item.select(F.col("it").alias("a"), F.col("n_it").alias("n_a"))), "a")
        .join(F.broadcast(item.select(F.col("it").alias("b"), F.col("n_it").alias("n_b"))), "b")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("a").alias("antecedent"),
            F.col("b").alias("consequent"),
            F.col("n_ab").cast("long").alias("n_both"),
            F.col("n_a").cast("long").alias("n_antecedent"),
            (F.col("n_ab").cast("double") / F.col("n_a")).alias("confidence"),
            (
                F.col("n_ab").cast("double") * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
    )
    return rules.orderBy(
        F.desc("lift"), F.asc("antecedent"), F.asc("consequent")
    ).limit(RULES_TOPK)


# ---------------------------------------------------------------------------
# graph_triangle_count — exact per-node triangle counting
# ---------------------------------------------------------------------------


#: Minimum co-occurrence count for a part pair to become an edge.
#: Support thresholding is how every real co-purchase/co-citation
#: analysis separates relationships from coincidence — and it is also
#: what keeps the graph sparse: one random shared order is noise, so
#: without it edge count grows ~quadratically in order count while the
#: support-2 graph tracks the RECURRING pair population.
TRIANGLE_MIN_SUPPORT = 2


def _triangle_oracle() -> str:
    from protarrow_spark.operators.graph import triangle_counts_oracle_sql

    edges = f"""
SELECT a AS src, b AS dst FROM (
  SELECT x.l_partkey AS a, y.l_partkey AS b, COUNT(*) AS c
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) x
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY a, b
) WHERE c >= {TRIANGLE_MIN_SUPPORT}
"""
    return triangle_counts_oracle_sql(edges)


@query("graph_triangle_count", oracle=_triangle_oracle())
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the part co-purchase graph
    (parts sharing an order are connected) — the local-density
    primitive for graph-shaped corpus quality work (link-farm /
    template-cluster detection in a crawl graph, co-citation density).

    Edge generation is a lineitem self-join on l_orderkey: fan-out is
    bounded by lines-per-order (TPC-H ~4, <= 7), so the pair stream is
    a small constant times the fact table — never all-pairs — and the
    support->=2 threshold (see TRIANGLE_MIN_SUPPORT) keeps the edge
    set the recurring-pair population instead of a noise graph that
    densifies quadratically with order count. Counting is the
    degree-ordered node-iterator (operators/graph.py
    triangle_counts): wedge fan-out bounded O(sqrt m) per node, exact
    integer output, three equi-joins + one groupBy, nothing
    graph-sized on the driver."""
    from protarrow_spark.operators.graph import triangle_counts

    # Same builder as every other co-purchase query (r14: deduplicated
    # onto the aggregate-first shape — see _copurchase_edges).
    return triangle_counts(_copurchase_edges(spark, sf_dir), "src", "dst")


# ---------------------------------------------------------------------------
# graph_common_neighbors — link prediction over the co-purchase graph
# ---------------------------------------------------------------------------


def _common_neighbors_oracle() -> str:
    from protarrow_spark.operators.graph import CN_MAX_DEGREE, CN_TOP_K

    return f"""
WITH e AS (
  SELECT a AS src, b AS dst FROM (
    SELECT x.l_partkey AS a, y.l_partkey AS b, COUNT(*) AS c
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) x
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) y
      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    GROUP BY a, b
  ) WHERE c >= {TRIANGLE_MIN_SUPPORT}
),
u AS (SELECT src AS w, dst AS n FROM e UNION ALL SELECT dst, src FROM e),
deg AS (SELECT w, COUNT(*) AS d FROM u GROUP BY w),
uc AS (SELECT u.w, u.n FROM u JOIN deg USING (w) WHERE deg.d <= {CN_MAX_DEGREE}),
wed AS (
  SELECT a.n AS node_a, b.n AS node_b, COUNT(*) AS cn
  FROM uc a JOIN uc b ON a.w = b.w AND a.n < b.n
  GROUP BY 1, 2
),
pred AS (
  SELECT wed.* FROM wed
  LEFT JOIN e ON e.src = wed.node_a AND e.dst = wed.node_b
  WHERE e.src IS NULL
)
SELECT node_a, node_b, CAST(cn AS BIGINT) AS cn
FROM pred
ORDER BY cn DESC, node_a, node_b
LIMIT {CN_TOP_K}
"""


@query("graph_common_neighbors", oracle=_common_neighbors_oracle())
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction (operators/graph.py
    common_neighbor_candidates) over the same support-thresholded part
    co-purchase graph as graph_triangle_count: the top-50 non-adjacent
    part pairs ranked by shared neighbors — 'frequently bought
    together' candidates the co-occurrence graph hasn't yet joined.
    Completes the graph-algebra quartet (components, PageRank,
    triangles, link prediction), all exact integers."""
    from protarrow_spark.operators.graph import common_neighbor_candidates

    # Same builder as every other co-purchase query (r14: deduplicated
    # onto the aggregate-first shape — see _copurchase_edges).
    return common_neighbor_candidates(_copurchase_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# score_unigram_surprisal — LM-perplexity-style quality scoring, exact
# ---------------------------------------------------------------------------


@query(
    "score_unigram_surprisal",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
uni AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
tot AS (SELECT SUM(tf) AS t_total FROM uni),
bits AS (
  SELECT tok, CAST(length(bin(t_total // tf)) - 1 AS BIGINT) AS bits
  FROM uni CROSS JOIN tot
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(bits) AS BIGINT) AS total_bits,
       CAST((SUM(bits) * 1000) // COUNT(*) AS BIGINT) AS avg_millibits
FROM toks JOIN bits USING (tok)
GROUP BY doc_id
""",
)
def score_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal scoring — the model-free core of
    perplexity-based quality filtering (CCNet-style): a document whose
    tokens are all corpus-common carries few bits/token (templated,
    boilerplate), one full of rare tokens carries many (noisy, OCR
    garbage); curation keeps the middle band.

    Exactness: per-token self-information is the INTEGER bit count
    floor(log2(T / tf)) = length(bin(T div tf)) - 1 — for a >= b > 0,
    floor(a/b) >= 2^k iff a/b >= 2^k (2^k is an integer), so the
    integer-division form equals floor(log2 of the true ratio) with
    no libm and no float rounding anywhere; both engines' bin() agree
    on every bigint. Sums of integer bits are order-invariant, so the
    gate is hash-exact.

    Scale: one partial-aggregated groupBy builds the vocabulary-sized
    unigram table; the 1-row corpus total and the unigram dimension
    broadcast back onto the token stream (the stream itself never
    shuffles for the join — only the per-doc rollup keys on doc_id).
    """
    from protarrow_spark.functions.text import tokens as ws_tokens

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    tot = uni.agg(F.sum("tf").alias("t_total"))
    bits = (
        uni.crossJoin(F.broadcast(tot))
        .select(
            "tok",
            (F.length(F.bin(F.expr("t_total div tf"))) - 1)
            .cast("long")
            .alias("bits"),
        )
    )
    return (
        toks.join(F.broadcast(bits), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("bits").cast("long").alias("total_bits"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "total_bits",
            F.expr("(total_bits * 1000) div n_tokens").cast("long").alias("avg_millibits"),
        )
    )


def _bigram_stream(docs: DataFrame) -> DataFrame:
    """Per-doc adjacent-token pairs (doc_id, w1, w2) via one LEAD
    window — shared by the bigram-LM scorer and generator so the two
    can never disagree on what a bigram is."""
    from pyspark.sql import Window

    from protarrow_spark.functions.text import tokens as ws_tokens

    toks = docs.select(
        "doc_id", F.posexplode(ws_tokens(F.col("text"))).alias("pos", "w1")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        toks.withColumn("w2", F.lead("w1").over(w))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", "w1", "w2")
    )


@query(
    "score_bigram_surprisal",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
bg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(arr) >= 2
                THEN [arr[i] || chr(31) || arr[i + 1] for i in range(1, len(arr))]
                ELSE [] END) AS b
  FROM t
),
cb AS (SELECT b, COUNT(*) AS c2 FROM bg GROUP BY b),
cp AS (
  SELECT string_split(b, chr(31))[1] AS w1, SUM(c2) AS c1
  FROM cb GROUP BY 1
),
bits AS (
  SELECT cb.b, CAST(length(bin(cp.c1 // cb.c2)) - 1 AS BIGINT) AS bits
  FROM cb JOIN cp ON string_split(cb.b, chr(31))[1] = cp.w1
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(bits) AS BIGINT) AS total_bits,
       CAST((SUM(bits) * 1000) // COUNT(*) AS BIGINT) AS avg_millibits
FROM bg JOIN bits USING (b)
GROUP BY doc_id
""",
)
def score_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal — one rung up the LM-quality ladder from
    score_unigram_surprisal: per-bigram conditional self-information
    floor(log2(c(w1)/c(w1,w2))) in exact integer bits (bin-length, no
    libm), summed per document. Fluent templated text scores low,
    shuffled or noisy token streams high — the n-gram version of the
    perplexity filter, still value-exact cross-engine.

    Scale: the bigram stream is one per-doc LEAD window (shuffle on
    doc_id); the bigram and prefix count dimensions are
    vocabulary^2-bounded groupBys that broadcast back; the per-doc
    rollup reuses the doc_id partitioning."""
    return _bigram_surprisal_frame(table(spark, sf_dir, "documents"))


def _bigram_surprisal_frame(docs: DataFrame) -> DataFrame:
    """Per-doc bigram-LM surprisal over an arbitrary docs frame —
    shared by score_bigram_surprisal (whole corpus) and pipeline_ccnet
    (post-boilerplate survivors) so the LM fit and the scorer can
    never disagree."""
    bg = _bigram_stream(docs)
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    cp = cb.groupBy("w1").agg(F.sum("c2").alias("c1"))
    bits = (
        cb.join(F.broadcast(cp), "w1")
        .select(
            "w1",
            "w2",
            (F.length(F.bin(F.expr("c1 div c2"))) - 1).cast("long").alias("bits"),
        )
    )
    return (
        bg.join(F.broadcast(bits), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("bits").cast("long").alias("total_bits"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "total_bits",
            F.expr("(total_bits * 1000) div n_bigrams").cast("long").alias("avg_millibits"),
        )
    )


# ---------------------------------------------------------------------------
# sample_perplexity_filter — CCNet head/middle/tail LM-quality buckets
# ---------------------------------------------------------------------------

#: CCNet splits each language's corpus into perplexity terciles and
#: keeps head+middle; the tail (highest perplexity) is dropped.
PPL_BUCKETS = 3


def _ppl_filter_oracle() -> str:
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
bg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(arr) >= 2
                THEN [arr[i] || chr(31) || arr[i + 1] for i in range(1, len(arr))]
                ELSE [] END) AS b
  FROM t
),
cb AS (SELECT b, COUNT(*) AS c2 FROM bg GROUP BY b),
cp AS (
  SELECT string_split(b, chr(31))[1] AS w1, SUM(c2) AS c1
  FROM cb GROUP BY 1
),
bits AS (
  SELECT cb.b, CAST(length(bin(cp.c1 // cb.c2)) - 1 AS BIGINT) AS bits
  FROM cb JOIN cp ON string_split(cb.b, chr(31))[1] = cp.w1
),
sc AS (
  SELECT doc_id, CAST((SUM(bits) * 1000) // COUNT(*) AS BIGINT) AS avg_millibits
  FROM bg JOIN bits USING (b) GROUP BY doc_id
)
SELECT doc_id, lang, avg_millibits, CAST(bk AS BIGINT) AS ppl_bucket,
       CAST(CASE WHEN bk < {PPL_BUCKETS} THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM (
  SELECT sc.doc_id, d.lang, sc.avg_millibits,
         NTILE({PPL_BUCKETS}) OVER (PARTITION BY d.lang
                                    ORDER BY sc.avg_millibits, sc.doc_id) AS bk
  FROM sc JOIN documents d USING (doc_id)
)
"""


@query("sample_perplexity_filter", oracle=_ppl_filter_oracle())
def sample_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's LM-quality gate (Wenzek et al. 2020): score every
    document with the corpus bigram LM (score_bigram_surprisal's
    exact integer bits), split each LANGUAGE into perplexity
    terciles, keep head+middle and drop the tail — the second half of
    the CCNet pipeline next to text_boilerplate_ngrams' repeated-text
    half. NTILE over (avg_millibits, doc_id) is a pure rank function
    of integers, so the buckets are engine-exact.

    Scale: the scoring stage is the surprisal plan (vocabulary-sized
    dimensions broadcast onto the token stream); the tercile split is
    one window per language partition. At 100 TB CCNet replaces the
    exact NTILE with per-language quantile cutpoints from a sample —
    same plan with the cutpoints broadcast instead of the sort.

    Output: doc_id, lang, avg_millibits, ppl_bucket, keep.
    """
    from pyspark.sql import Window

    sc = score_bigram_surprisal(spark, sf_dir).select("doc_id", "avg_millibits")
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(F.asc("avg_millibits"), F.asc("doc_id"))
    ranked = (
        sc.join(docs, "doc_id")
        .select(
            "doc_id",
            "lang",
            "avg_millibits",
            F.ntile(PPL_BUCKETS).over(w).cast("long").alias("ppl_bucket"),
        )
    )
    return ranked.withColumn(
        "keep", (F.col("ppl_bucket") < PPL_BUCKETS).cast("long")
    )


# ---------------------------------------------------------------------------
# pipeline_ccnet — boilerplate gate -> LM perplexity terciles, one plan
# ---------------------------------------------------------------------------

#: Minimum clean ratio (ppm) to survive the boilerplate gate.
CCNET_CLEAN_PPM_MIN = 900_000


def _ccnet_oracle() -> str:
    pct = text.BOILER_PCT
    return f"""
WITH t AS (SELECT doc_id, source, lang, string_split(text, ' ') AS toks FROM documents),
pos AS (
  SELECT doc_id, source,
         array_to_string(toks[CAST(i AS BIGINT):CAST(i + 1 AS BIGINT)], ' ') AS g
  FROM t, LATERAL unnest(range(1, len(toks))) AS r(i)
),
dfreq AS (SELECT source, g, COUNT(DISTINCT doc_id) AS df FROM pos GROUP BY source, g),
nd AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
boiler AS (
  SELECT dfreq.source, g FROM dfreq JOIN nd USING (source)
  WHERE df * 100 >= {pct} * n_docs
),
perb AS (
  SELECT doc_id, COUNT(*) AS n_boiler
  FROM pos JOIN boiler USING (source, g) GROUP BY doc_id
),
basee AS (
  SELECT doc_id, source, lang, toks, GREATEST(len(toks) - 1, 0) AS n_grams FROM t
),
cl AS (
  SELECT doc_id, source, lang, toks,
         CASE WHEN n_grams = 0 THEN 1000000
              ELSE ((n_grams - COALESCE(n_boiler, 0)) * 1000000) // n_grams
              END AS clean_ppm
  FROM basee LEFT JOIN perb USING (doc_id)
),
keep0 AS (SELECT * FROM cl WHERE clean_ppm >= {CCNET_CLEAN_PPM_MIN}),
bg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 2
                THEN [toks[i] || chr(31) || toks[i + 1] for i in range(1, len(toks))]
                ELSE [] END) AS b
  FROM keep0
),
cb AS (SELECT b, COUNT(*) AS c2 FROM bg GROUP BY b),
cp AS (SELECT string_split(b, chr(31))[1] AS w1, SUM(c2) AS c1 FROM cb GROUP BY 1),
bits AS (
  SELECT cb.b, CAST(length(bin(cp.c1 // cb.c2)) - 1 AS BIGINT) AS bits
  FROM cb JOIN cp ON string_split(cb.b, chr(31))[1] = cp.w1
),
sc AS (
  SELECT doc_id, CAST((SUM(bits) * 1000) // COUNT(*) AS BIGINT) AS avg_millibits
  FROM bg JOIN bits USING (b) GROUP BY doc_id
),
rk AS (
  SELECT sc.doc_id, k.lang, k.source, k.clean_ppm, sc.avg_millibits,
         NTILE({PPL_BUCKETS}) OVER (PARTITION BY k.lang
                                    ORDER BY sc.avg_millibits, sc.doc_id) AS bk
  FROM sc JOIN keep0 k USING (doc_id)
)
SELECT doc_id, lang, source, CAST(clean_ppm AS BIGINT) AS clean_ppm, avg_millibits,
       CAST(bk AS BIGINT) AS ppl_bucket
FROM rk WHERE bk < {PPL_BUCKETS}
"""


@query("pipeline_ccnet", oracle=_ccnet_oracle())
def pipeline_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet cleaning pipeline (Wenzek et al. 2020) as ONE Catalyst
    plan: per-source boilerplate accounting gates out documents below
    {CCNET_CLEAN_PPM_MIN} ppm clean, the corpus bigram LM is fit on the
    SURVIVORS (like CCNet's LM trained on clean text), and each
    language's survivors split into perplexity terciles with the tail
    dropped. Composes text_boilerplate_ngrams +
    sample_perplexity_filter through shared operator code so the
    stages cannot drift from their standalone counterparts.

    Scale: the boilerplate stage's two shuffles stay inside the
    source shard; the LM dimensions are vocabulary-bounded broadcasts;
    the tercile split is one window per language — no stage ever
    pairs documents. Output: the kept documents with their full audit
    trail (clean ppm, LM bits, bucket)."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    boiler = text.boilerplate_ngrams(docs, "doc_id", "text", "source").select(
        "doc_id", "clean_ppm"
    )
    # The survivor set feeds the LM fit (which itself reads its
    # input ~3x: bigram counts, unigram totals, scoring join) AND
    # the final ranked join — materialize the boilerplate stage
    # once (r13 opt) instead of re-running its two shuffles per
    # consumer. At 100 TB this is the standard "write the cleaned
    # corpus between stages" barrier.
    clean = materialize(
        docs.join(boiler, "doc_id")
        .filter(F.col("clean_ppm") >= CCNET_CLEAN_PPM_MIN)
        .select("doc_id", "lang", "source", "text", "clean_ppm")
    )
    sc = _bigram_surprisal_frame(clean.select("doc_id", "text")).select(
        "doc_id", "avg_millibits"
    )
    w = Window.partitionBy("lang").orderBy(F.asc("avg_millibits"), F.asc("doc_id"))
    ranked = sc.join(
        clean.select("doc_id", "lang", "source", "clean_ppm"), "doc_id"
    ).select(
        "doc_id",
        "lang",
        "source",
        F.col("clean_ppm").cast("long").alias("clean_ppm"),
        "avg_millibits",
        F.ntile(PPL_BUCKETS).over(w).cast("long").alias("ppl_bucket"),
    )
    return ranked.filter(F.col("ppl_bucket") < PPL_BUCKETS)


#: Number of greedy generation steps after the start token.
LM_GEN_STEPS = 5


def _lm_generate_oracle(steps: int = LM_GEN_STEPS) -> str:
    ctes = [
        """t AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)""",
        """bg AS (
  SELECT unnest(CASE WHEN len(arr) >= 2
         THEN [struct_pack(w1 := arr[i], w2 := arr[i + 1]) for i in range(1, len(arr))]
         ELSE [] END) AS p
  FROM t
)""",
        """cb AS (SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS c FROM bg GROUP BY 1, 2)""",
        """uni AS (SELECT w1 AS tok, SUM(c) AS c FROM cb GROUP BY 1)""",
        """s0 AS (
  SELECT 0 AS pos, tok, CAST(c AS BIGINT) AS cnt FROM uni
  ORDER BY c DESC, tok LIMIT 1
)""",
    ]
    for k in range(1, steps + 1):
        ctes.append(
            f"""s{k} AS (
  SELECT {k} AS pos, w2 AS tok, CAST(c AS BIGINT) AS cnt FROM cb
  WHERE w1 = (SELECT tok FROM s{k - 1})
  ORDER BY c DESC, w2 LIMIT 1
)"""
        )
    finals = "\nUNION ALL ".join(f"SELECT * FROM s{k}" for k in range(steps + 1))
    return "WITH " + ",\n".join(ctes) + "\n" + finals


@query("lm_bigram_generate", oracle=_lm_generate_oracle())
def lm_bigram_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy generation from the corpus bigram LM — the engine
    trains a tokenizer (text_bpe_train), scores text under its LM
    (score_*_surprisal), and here SAMPLES from it: start at the most
    frequent bigram-prefix token, then repeatedly take the argmax
    continuation (deterministic, lexicographic tie-break), all as ONE
    driver-unrolled Catalyst plan over the bigram count table. Greedy
    argmax decoding is the temperature-0 special case of LM sampling,
    and the only one a cross-engine value oracle can pin.

    Scale: the bigram table is vocab^2-bounded state materialized
    once (the pagerank barrier); each step is one equi-join of a
    1-row frame against it plus a 1-row TakeOrdered. Output:
    pos (0..steps), tok, cnt (the count that won the argmax)."""
    docs = table(spark, sf_dir, "documents")
    cb = materialize(
        _bigram_stream(docs)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    uni = cb.groupBy(F.col("w1").alias("tok")).agg(F.sum("c").alias("c"))
    cur = materialize(
        uni.orderBy(F.desc("c"), F.asc("tok"))
        .limit(1)
        .select(F.lit(0).alias("pos"), "tok", F.col("c").cast("long").alias("cnt"))
    )
    out = cur
    for k in range(1, LM_GEN_STEPS + 1):
        # 1 row; the barrier truncates the chain.
        cur = materialize(
            cb.join(F.broadcast(cur.select(F.col("tok").alias("w1"))), "w1")
            .orderBy(F.desc("c"), F.asc("w2"))
            .limit(1)
            .select(
                F.lit(k).alias("pos"),
                F.col("w2").alias("tok"),
                F.col("c").cast("long").alias("cnt"),
            )
        )
        out = out.unionByName(cur)
    return out


# ---------------------------------------------------------------------------
# score_quality_linear — learned-classifier scoring (fastText-style)
# ---------------------------------------------------------------------------


def _score_linear_oracle() -> str:
    from protarrow_spark.operators.scoring import linear_quality_oracle_sql

    return linear_quality_oracle_sql("documents", "doc_id", "text")


@query("score_quality_linear", oracle=_score_linear_oracle())
def score_quality_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier inference over every document: the
    model's coefficient vector ships as constant-folded broadcast
    state and scoring is one scan-stage integer projection — the
    fastText-style learned filter step of a curation pipeline, zero
    shuffles beyond the per-doc feature aggregation."""
    from protarrow_spark.operators.scoring import linear_quality_scores

    return linear_quality_scores(table(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# text_bpe_train — BPE tokenizer training (iterative merge learning)
# ---------------------------------------------------------------------------


def _bpe_ctes(steps: int = 3) -> list[str]:
    """Shared CTE chain for the BPE oracles: per step, overlapping
    pair counts pick the winner; the rewrite is the GREEDY
    non-overlapping merge via gaps-and-islands windows (odd-ranked
    flags within runs of consecutive matches merge, the following
    position is consumed) — value-identical to the Spark fold. Emits
    rw{k} (sym -> new_sym per step) and words{k} (re-aggregated
    vocabulary) for each step."""
    ctes = [
        """toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)""",
        """vocab AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w)""",
        r"""words0 AS (
  SELECT trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS sym, SUM(cnt) AS cnt
  FROM vocab GROUP BY 1
)""",
    ]
    for k in range(1, steps + 1):
        prev = f"words{k - 1}"
        ctes.append(
            f"""pairs{k} AS (
  SELECT s.cnt, s.arr[i] || ' ' || s.arr[i + 1] AS pair
  FROM (SELECT cnt, string_split(sym, ' ') AS arr FROM {prev}) s,
       unnest(range(1, len(s.arr))) AS t(i)
),
top{k} AS (
  SELECT pair, SUM(cnt) AS pair_count FROM pairs{k}
  GROUP BY pair ORDER BY pair_count DESC, pair LIMIT 1
),
pos{k} AS (
  SELECT s.sym, s.cnt, i AS p, s.arr[i] AS cur,
         CASE WHEN i < len(s.arr) THEN s.arr[i + 1] END AS nxt
  FROM (SELECT sym, cnt, string_split(sym, ' ') AS arr FROM {prev}) s,
       unnest(range(1, len(s.arr) + 1)) AS t(i)
),
flag{k} AS (
  SELECT sym, cnt, p, cur,
         COALESCE(cur = (SELECT string_split(pair, ' ')[1] FROM top{k})
                  AND nxt = (SELECT string_split(pair, ' ')[2] FROM top{k}),
                  FALSE) AS f
  FROM pos{k}
),
isl{k} AS (
  SELECT sym, cnt, p, cur, f,
         CASE WHEN f THEN p - ROW_NUMBER() OVER (PARTITION BY sym, f ORDER BY p) END AS isl
  FROM flag{k}
),
rk{k} AS (
  SELECT sym, cnt, p, cur, f,
         CASE WHEN f THEN ROW_NUMBER() OVER (PARTITION BY sym, isl ORDER BY p) END AS rn
  FROM isl{k}
),
dec{k} AS (
  SELECT sym, cnt, p, cur,
         COALESCE(f AND rn % 2 = 1, FALSE) AS m,
         COALESCE(LAG(COALESCE(f AND rn % 2 = 1, FALSE))
                  OVER (PARTITION BY sym ORDER BY p), FALSE) AS consumed
  FROM rk{k}
),
rw{k} AS (
  SELECT sym, cnt,
         string_agg(CASE WHEN m THEN (SELECT replace(pair, ' ', '') FROM top{k})
                         WHEN consumed THEN NULL
                         ELSE cur END, ' ' ORDER BY p) AS new_sym
  FROM dec{k} GROUP BY sym, cnt
),
words{k} AS (
  SELECT new_sym AS sym, SUM(cnt) AS cnt FROM rw{k} GROUP BY new_sym
)"""
        )
    return ctes


def _bpe_train_oracle(steps: int = 3) -> str:
    finals = "\nUNION ALL\n".join(
        f"SELECT {k} AS step, pair, replace(pair, ' ', '') AS merged, "
        f"CAST(pair_count AS BIGINT) AS pair_count FROM top{k}"
        for k in range(1, steps + 1)
    )
    return "WITH " + ",\n".join(_bpe_ctes(steps)) + "\n" + finals


def _bpe_encode_oracle(steps: int = 3) -> str:
    """Train (same CTE chain as _bpe_train_oracle) THEN encode: chain
    the per-step sym -> new_sym rewrite maps (rw{k}) into a distinct-
    word -> final-symbol map and join it to the per-doc token stream."""
    vm = [
        r"""vm0 AS (
  SELECT DISTINCT w, trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS sym FROM toks
)"""
    ]
    for k in range(1, steps + 1):
        vm.append(
            f"""vm{k} AS (
  SELECT m.w, r.new_sym AS sym FROM vm{k - 1} m JOIN rw{k} r ON r.sym = m.sym
)"""
        )
    return (
        "WITH "
        + ",\n".join(_bpe_ctes(steps))
        + ",\n"
        + ",\n".join(vm)
        + f""",
dtoks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(replace(vm.sym, ' ', ''))) AS BIGINT) AS n_chars,
       CAST(SUM(len(string_split(vm.sym, ' '))) AS BIGINT) AS n_tokens
FROM dtoks JOIN vm{steps} vm USING (w)
GROUP BY doc_id
"""
    )


@query("text_bpe_train", oracle=_bpe_train_oracle())
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (3 unrolled merge-learning steps) over
    the corpus vocabulary — each step counts adjacent symbol pairs
    weighted by word frequency, picks the winner deterministically,
    and rewrites the vocabulary for the next step; the learned rule
    list is the oracle-pinned output (operators/text.py
    bpe_train_merges for the scale notes and the documented
    delimiter-sharing merge semantics)."""
    from protarrow_spark.operators.text import bpe_train_merges

    return bpe_train_merges(table(spark, sf_dir, "documents"), "doc_id", "text")


@query("text_bpe_encode", oracle=_bpe_encode_oracle())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION — the other half of the tokenizer
    loop: train the merge rules (same 3 unrolled steps as
    text_bpe_train) and ENCODE every document with them, reporting
    per-doc word/char/token counts under the learned vocabulary (the
    token-budget accounting every training-data pipeline runs before
    packing).

    The trained tokenizer is the distinct-word -> final-symbol map
    carried through the training rewrites (operators/text.py
    bpe_train_merges with_vocab_map=True) — vocabulary-sized state,
    joined to the corpus token stream as a dimension (AQE broadcasts
    it at this scale; at 100 TB it is a plain equi-join on the word,
    with the token stream's shuffle shared with the per-doc rollup).
    All counts are exact integers."""
    from protarrow_spark.functions.text import tokens as ws_tokens
    from protarrow_spark.operators.text import bpe_train_merges

    docs = table(spark, sf_dir, "documents")
    _, vmap = bpe_train_merges(docs, "doc_id", "text", with_vocab_map=True)
    # Materialize the trained tokenizer once (r13 opt): the vocab map
    # is the end of a 3-step rewrite chain whose per-step frames each
    # reference the previous step's vocabulary TWICE (pair counts +
    # rewrite), so the un-checkpointed encode plan replays the
    # training chain ~2^steps times (86 Exchange refs -> 6). The map
    # is vocabulary-sized state — exactly what a real pipeline ships
    # to its encode stage as a file.
    vmap = materialize(vmap)
    dtoks = docs.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("w"))
    return (
        dtoks.join(vmap, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.length(F.replace(F.col("sym"), F.lit(" "), F.lit(""))))
            .cast("long")
            .alias("n_chars"),
            F.sum(F.size(F.split(F.col("sym"), " "))).cast("long").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# pairgen_contrastive_negatives — deterministic training-pair generation
# ---------------------------------------------------------------------------

#: Negatives per anchor document.
NEG_PER_ANCHOR = 2


@query(
    "pairgen_contrastive_negatives",
    oracle=f"""
WITH ring AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY md5('ring|' || CAST(doc_id AS VARCHAR)), doc_id) AS pos
  FROM documents
),
n AS (SELECT COUNT(*) AS n_docs FROM ring)
SELECT a.doc_id AS anchor_id,
       b.doc_id AS negative_id,
       CAST(k AS BIGINT) AS neg_rank
FROM ring a
CROSS JOIN n
JOIN (SELECT unnest(range(1, {NEG_PER_ANCHOR} + 1)) AS k) ks ON TRUE
JOIN ring b ON b.pos = ((a.pos - 1 + k) % n.n_docs) + 1
WHERE b.doc_id <> a.doc_id
""",
)
def pairgen_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative-pair generation for contrastive training:
    documents are placed on an md5-shuffled ring and each anchor takes
    the next k ring neighbors as negatives — reproducible across runs,
    partitionings, and engines (no RNG state to ship), uniformly mixed
    by the hash, and join-free on the anchor side.

    Scale: one window over the ring order (a single md5-keyed sort —
    at 100 TB use repartitionByRange on the hash then local ranks) and
    k equi-joins on ring position; never all-pairs, output exactly
    n*k rows.
    """
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").select("doc_id")
    w = Window.orderBy(F.md5(F.concat(F.lit("ring|"), F.col("doc_id").cast("string"))), "doc_id")
    ring = docs.select("doc_id", F.row_number().over(w).alias("pos"))
    n_docs = ring.count()
    ks = spark.range(1, NEG_PER_ANCHOR + 1).select(F.col("id").alias("k"))
    probes = ring.crossJoin(F.broadcast(ks)).select(
        F.col("doc_id").alias("anchor_id"),
        F.col("k").alias("neg_rank"),
        (((F.col("pos") - 1 + F.col("k")) % n_docs) + 1).alias("neg_pos"),
    )
    negs = ring.select(F.col("doc_id").alias("negative_id"), F.col("pos").alias("neg_pos"))
    return (
        probes.join(negs, "neg_pos")
        .filter(F.col("negative_id") != F.col("anchor_id"))
        .select("anchor_id", "negative_id", F.col("neg_rank").cast("long").alias("neg_rank"))
    )


# ---------------------------------------------------------------------------
# order_curriculum_interleave — source-balanced training order
# ---------------------------------------------------------------------------


@query(
    "order_curriculum_interleave",
    oracle="""
WITH scored AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rank_in_source
  FROM documents
)
SELECT doc_id, source, CAST(rank_in_source AS BIGINT) AS rank_in_source,
       CAST(ROW_NUMBER() OVER (ORDER BY rank_in_source, source, doc_id) AS BIGINT)
         AS train_order
FROM scored
""",
)
def order_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering with source balance: rank documents within
    each source (here by length as the difficulty proxy — descending,
    deterministic tie-break), then interleave sources round-robin by
    rank so every training window sees the same source mix — the
    deterministic version of the shuffled-shards curriculum every
    large pretraining run builds.

    Scale: one window per source partition (uniform, source-keyed
    shuffle) + the global order. The global ROW_NUMBER is a single
    total order — at 100 TB the train_order key is written via
    repartitionByRange(rank_in_source, source) + per-partition offsets
    (the pack_sequences pattern); the semantics here pin what that
    layout must produce.
    """
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    ws = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    scored = docs.select(
        "doc_id", "source", F.row_number().over(ws).alias("rank_in_source")
    )
    wg = Window.orderBy("rank_in_source", "source", "doc_id")
    return scored.select(
        "doc_id",
        "source",
        F.col("rank_in_source").cast("long").alias("rank_in_source"),
        F.row_number().over(wg).cast("long").alias("train_order"),
    )


# ---------------------------------------------------------------------------
# order_epoch_shuffle — deterministic per-epoch global shuffle + sharding
# ---------------------------------------------------------------------------

#: Number of training epochs the shuffle is materialized for.
EPOCH_SHUFFLE_EPOCHS = 2
#: Number of output shards per epoch.
EPOCH_SHUFFLE_SHARDS = 8


@query(
    "order_epoch_shuffle",
    oracle=f"""
WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
ep AS (SELECT UNNEST(range(1, {EPOCH_SHUFFLE_EPOCHS + 1})) AS epoch),
keyed AS (
  SELECT e.epoch, d.doc_id,
         md5('epoch' || CAST(e.epoch AS VARCHAR) || '|'
             || CAST(d.doc_id AS VARCHAR)) AS k
  FROM documents d CROSS JOIN ep e
),
pos AS (
  SELECT epoch, doc_id,
         ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY k, doc_id) AS position
  FROM keyed
)
SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
       CAST(position AS BIGINT) AS position,
       CAST(((position - 1) * {EPOCH_SHUFFLE_SHARDS}) // n_docs AS BIGINT)
         AS shard
FROM pos CROSS JOIN n
""",
)
def order_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch global shuffle with shard assignment —
    the data-loader contract of every large pretraining run: each
    epoch is an independent, seeded, reproducible permutation of the
    corpus (key = md5('epoch'||epoch||'|'||doc_id) — resuming a crashed
    run regenerates the identical order), cut into
    {EPOCH_SHUFFLE_SHARDS} contiguous equal shards by integer position
    arithmetic, so any worker can claim shard files without
    coordination.

    Scale: the permutation is a sort on a uniformly-distributed hash
    key — exactly what repartitionByRange was built for. Here the
    per-epoch ROW_NUMBER window pins the semantics; at 100 TB the
    materialization is repartitionByRange(epoch, k) + per-partition
    offsets (the pack_sequences / curriculum pattern), which gives the
    same positions with no single-partition window. The epoch frame
    ({EPOCH_SHUFFLE_EPOCHS} rows) broadcasts; shard boundaries are
    (position-1)*S div N — no second pass, no ntile engine variance."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").select("doc_id")
    n_docs = docs.count()
    eps = spark.range(1, EPOCH_SHUFFLE_EPOCHS + 1).select(
        F.col("id").alias("epoch")
    )
    keyed = docs.crossJoin(F.broadcast(eps)).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat(
                F.lit("epoch"),
                F.col("epoch").cast("string"),
                F.lit("|"),
                F.col("doc_id").cast("string"),
            )
        ).alias("k"),
    )
    w = Window.partitionBy("epoch").orderBy("k", "doc_id")
    return keyed.select(
        F.col("epoch").cast("long").alias("epoch"),
        "doc_id",
        F.row_number().over(w).cast("long").alias("position"),
    ).select(
        "epoch",
        "doc_id",
        "position",
        F.expr(
            f"((position - 1) * {EPOCH_SHUFFLE_SHARDS}) div {n_docs}"
        ).cast("long").alias("shard"),
    )


# ---------------------------------------------------------------------------
# dedup_ngram_containment — subset / quotation detection
# ---------------------------------------------------------------------------

CONTAIN_T = 0.8


@query(
    "dedup_ngram_containment",
    oracle=f"""
WITH {_toks_cte()},
{_grams_cte(JACCARD_N)},
dgh AS (
  SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS g FROM dg
),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM dgh GROUP BY doc_id),
rare AS (SELECT g FROM dgh GROUP BY g HAVING COUNT(*) <= {dedup.MAX_SHINGLE_DF}),
rdg AS (SELECT dgh.doc_id, dgh.g FROM dgh JOIN rare USING (g)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM rdg a JOIN rdg b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       CAST(n_common AS DOUBLE) / sa.n_grams AS containment_a,
       CAST(n_common AS DOUBLE) / sb.n_grams AS containment_b
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / sa.n_grams >= {CONTAIN_T}
   OR CAST(n_common AS DOUBLE) / sb.n_grams >= {CONTAIN_T}
""",
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment (asymmetric) near-dup pairs: flags subset /
    quotation relationships Jaccard misses when document sizes differ
    (operators/dedup.py ngram_containment_pairs — same inverted-index
    topology as the Jaccard path, different scoring)."""
    return dedup.ngram_containment_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        threshold=CONTAIN_T,
        n=JACCARD_N,
        # same vocab-dense assertion as dedup_ngram_jaccard: the
        # synthetic corpus is template text, so take the blocked
        # matmul path (86.8s -> ~1s at sf0.1 vs the sparse join).
        # block_size 1024 (not the 2048 default): this query's output
        # is pair-quadratic on the template corpus (~10M pairs at
        # sf0.1), so more/smaller block pairs spread the emit cost
        # across cores instead of straggling on 6 giant cogroups
        # (measured 5.1s -> 3.1s at sf0.1 on local[32]).
        dense_vocab_cap=4096,
        block_size=1024,
    ).withColumn("n_common", F.col("n_common").cast("long"))


# ---------------------------------------------------------------------------
# cluster_kmeans_int8_exact — value-exact integer k-means
# ---------------------------------------------------------------------------

KM8_K = 4
KM8_ITER = 2
KM8_DIM = 64


def _q8_ctes() -> list[str]:
    """Int8 quantization CTEs (mirrors operators/similarity.py
    quantize_int8), shared by the k-means, SemDeDup, and PCA oracles."""
    return [
        """v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)""",
        """s AS (
  SELECT vec_id, e,
         CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0 THEN 1.0
              ELSE list_max(list_transform(e, x -> abs(x))) END AS scale
  FROM v
)""",
        """q8 AS (
  SELECT vec_id,
         list_transform(e, x -> CAST(floor(x / scale * 127 + 0.5) AS BIGINT)) AS q
  FROM s
)""",
    ]


def _kmeans8_ctes(target_cluster_rows: int | None = None) -> tuple[list[str], str]:
    """The int8-Lloyd's CTE chain (quantize -> seed -> assign/update
    rounds), shared by the k-means oracle and the SemDeDup oracles.
    Returns (ctes, name-of-final-assignment-CTE).

    ``target_cluster_rows``: when set, k is derived from the corpus
    size (k = ceil(n / target)) instead of the fixed KM8_K — the
    bounded-cluster SemDeDup setting where expected cluster population
    stays constant as the corpus grows."""
    dim, iters = KM8_DIM, KM8_ITER
    ctes = _q8_ctes()
    if target_cluster_rows is None:
        seed_limit = str(KM8_K)
    else:
        ctes.append(
            f"""kk AS (
  SELECT GREATEST(1, CAST(CEIL(COUNT(*) / {target_cluster_rows}.0) AS BIGINT)) AS k
  FROM q8
)"""
        )
        seed_limit = "(SELECT k FROM kk)"
    ctes.append(
        f"""cent0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, q AS c
  FROM q8 QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= {seed_limit}
)"""
    )
    for it in range(1, iters + 1):
        prev = f"cent{it - 1}"
        ctes.append(
            f"""d{it} AS (
  SELECT v.vec_id, c.cid,
         list_sum([ (v.q[i] - c.c[i]) * (v.q[i] - c.c[i]) for i in range(1, {dim} + 1) ]) AS dist
  FROM q8 v, {prev} c
),
a{it} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d{it}
  ) WHERE rn = 1
)"""
        )
        if it < iters:
            ctes.append(
                f"""cm{it} AS (
  SELECT a.cid, i AS pos,
         CAST(trunc(CAST(SUM(v.q[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
  FROM q8 v JOIN a{it} a USING (vec_id), unnest(range(1, {dim} + 1)) AS t(i)
  GROUP BY a.cid, i
),
cent{it} AS (
  SELECT cid, list(cv ORDER BY pos) AS c FROM cm{it} GROUP BY cid
)"""
            )
    return ctes, f"a{iters}"


def _kmeans8_oracle() -> str:
    ctes, final = _kmeans8_ctes()
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM {final}"
    )


def _kmeans8_counts_oracle() -> str:
    ctes, final = _kmeans8_ctes()
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT CAST(cid AS BIGINT) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       MIN(vec_id) AS min_vec,
       CAST(SUM(vec_id) AS BIGINT) AS vec_id_sum
FROM {final} GROUP BY cid"""
    )


@query("cluster_kmeans_assign_counts", oracle=_kmeans8_counts_oracle())
def cluster_kmeans_assign_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-centroid population readout of k-means — the VALUE-exact
    cluster-size report the rows-only float query cannot provide:
    assignment counts, min member, and member-id checksum per cluster,
    computed from the int8-exact Lloyd's machinery (integer distances,
    deterministic argmin, truncated integer-mean updates), so the
    unrolled SQL oracle hash-matches every cell. This is the dataset-
    card shape ("how balanced are my semantic clusters") a curation
    pipeline reports after clustering; the float twin
    (cluster_kmeans_embeddings) stays rows-only because IEEE float
    summation order in centroid updates is engine-dependent — see its
    docstring for the ceiling argument.

    Scale: the k-means rounds are broadcast-centroid matmuls (corpus
    never shuffles); the readout adds one k-sized groupBy."""
    assign = similarity.kmeans_int8_exact(
        table(spark, sf_dir, "embeddings"), k=KM8_K, iterations=KM8_ITER
    )
    return assign.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("vec_id").alias("min_vec"),
        F.sum("vec_id").alias("vec_id_sum"),
    )


@query("cluster_kmeans_int8_exact", oracle=_kmeans8_oracle())
def cluster_kmeans_int8_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=4, 2 rounds) over int8-quantized vectors in
    EXACT integer arithmetic — the VALUE-exact counterpart to the
    rows-only float `cluster_kmeans_embeddings`: integer distances,
    argmin with centroid-id tie break, and truncated integer-mean
    updates are order-invariant, so every assignment hash-matches the
    unrolled SQL oracle (operators/similarity.py kmeans_int8_exact
    for the per-round scale topology)."""
    return similarity.kmeans_int8_exact(
        table(spark, sf_dir, "embeddings"), k=KM8_K, iterations=KM8_ITER
    )


# ---------------------------------------------------------------------------
# dedup_semdedup — semantic dedup: cluster, then near-dup only within
# ---------------------------------------------------------------------------


def _semdedup_oracle(target_cluster_rows: int | None = None) -> str:
    ctes, final = _kmeans8_ctes(target_cluster_rows)
    dim = KM8_DIM
    num2 = similarity.SEMDEDUP_COS_NUM**2
    den2 = similarity.SEMDEDUP_COS_DEN**2
    ctes = ctes + [
        f"""q8n AS (
  SELECT vec_id, q,
         list_sum([q[i]*q[i] for i in range(1, {dim} + 1)]) AS n2
  FROM q8
)""",
        f"""m AS (
  SELECT q8n.vec_id, q8n.q, q8n.n2, {final}.cid
  FROM q8n JOIN {final} USING (vec_id)
)""",
        f"""pr AS (
  SELECT b.vec_id AS bid,
         list_sum([a.q[i]*b.q[i] for i in range(1, {dim} + 1)]) AS dot,
         a.n2 AS na2, b.n2 AS nb2
  FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id
)""",
        f"""rem AS (
  SELECT DISTINCT bid AS vec_id FROM pr
  WHERE dot > 0 AND {den2} * dot * dot >= {num2} * na2 * nb2
)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT m.vec_id, CAST(m.cid AS BIGINT) AS cluster,
       CAST(CASE WHEN rem.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM m LEFT JOIN rem USING (vec_id)"""
    )


@query("dedup_semdedup", oracle=_semdedup_oracle())
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embeddings, then drop
    near-duplicates ONLY within each cluster — the clustering bounds
    the quadratic pair stage to k independent sub-problems (how the
    paper deduped 1.3B LAION vectors). VALUE-exact here: integer
    Lloyd's (cluster_kmeans_int8_exact) + an integer
    cross-multiplication near-dup test (cos >= 2/5 with zero float
    rounding); the min-id member of every dup group is kept
    (operators/similarity.py semdedup_int8 for the scale topology).

    This demo pins k=4, so cluster population — and the quadratic
    within-cluster pair stage — grows with the corpus; the registered
    scale form is dedup_semdedup_bounded (k ∝ n)."""
    return similarity.semdedup_int8(table(spark, sf_dir, "embeddings"))


#: Bounded-cluster SemDeDup: expected cluster population. 500-vector
#: gate SF => k=4 (same operating point as the fixed-k demo there);
#: k grows 10x per decade, holding the per-cluster Gram at ~125².
SEMDEDUP_TARGET_CLUSTER_ROWS = 125


@query(
    "dedup_semdedup_bounded",
    oracle=_semdedup_oracle(target_cluster_rows=SEMDEDUP_TARGET_CLUSTER_ROWS),
)
def dedup_semdedup_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup in the paper's BOUNDED-CLUSTER setting: k scales with
    corpus size (k = ceil(n / target_cluster_rows), the paper's
    n/k ≈ 1e5 rule at its own scale) so expected cluster population
    stays constant and the within-cluster pair stage — the quadratic
    half of SemDeDup — is k independent, constant-size Gram matmuls:
    total pair work O(n · target), linear per decade. The fixed-k demo
    (dedup_semdedup) is 4.6×/decade for exactly this reason.

    The corpus-size probe is a scan-only count (columnless, footer
    statistics at parquet scale); both the Spark plan and the DuckDB
    oracle derive k from the same count, so assignments stay
    value-exact. At 100 TB the Lloyd's ASSIGNMENT term (n·k distance
    evals) is the next bottleneck — the paper's answer is
    IVF/hierarchical assignment (the ann_ivf_topk topology), which
    drops in without changing this query's contract.
    """
    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    k = max(1, -(-n // SEMDEDUP_TARGET_CLUSTER_ROWS))
    return similarity.semdedup_int8(emb, k=k)


# ---------------------------------------------------------------------------
# embed_pca_top1 — exact fixed-point PCA (top principal component)
# ---------------------------------------------------------------------------


def _pca_oracle(dim: int = KM8_DIM) -> str:
    S = similarity.PCA_SCALE
    ctes = _q8_ctes() + [
        f"""qp AS (
  SELECT vec_id, CAST(t.i AS BIGINT) AS i, q[t.i] AS qi
  FROM q8, unnest(range(1, {dim} + 1)) AS t(i)
)""",
        """g AS (
  SELECT a.i AS i, b.i AS j, SUM(CAST(a.qi AS HUGEINT) * b.qi) AS g
  FROM qp a JOIN qp b USING (vec_id) GROUP BY 1, 2
)""",
        """sums AS (SELECT i, CAST(SUM(qi) AS HUGEINT) AS s FROM qp GROUP BY i)""",
        """cnt AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM q8)""",
        """gc AS (
  SELECT g.i, g.j, cnt.n * g.g - sa.s * sb.s AS gc
  FROM g CROSS JOIN cnt
  JOIN sums sa ON sa.i = g.i JOIN sums sb ON sb.i = g.j
)""",
        f"""v0 AS (SELECT CAST(t.i AS BIGINT) AS i, CAST({S} AS HUGEINT) AS val
  FROM unnest(range(1, {dim} + 1)) AS t(i))""",
    ]
    for k in range(1, similarity.PCA_ITERS + 1):
        ctes.append(
            f"""w{k} AS (
  SELECT gc.i AS i, SUM(gc.gc * v{k - 1}.val) AS w
  FROM gc JOIN v{k - 1} ON gc.j = v{k - 1}.i GROUP BY 1
),
m{k} AS (SELECT MAX(ABS(w)) AS m FROM w{k}),
v{k} AS (
  SELECT i, CASE WHEN w >= 0 THEN (w * {S}) // m
                 ELSE -(((-w) * {S}) // m) END AS val
  FROM w{k} CROSS JOIN m{k}
)"""
        )
    last = f"v{similarity.PCA_ITERS}"
    ctes.append(
        f"""lead0 AS (SELECT val FROM {last} ORDER BY ABS(val) DESC, i ASC LIMIT 1)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(i - 1 AS BIGINT) AS pos,
       CAST(CASE WHEN (SELECT val FROM lead0) < 0 THEN -val ELSE val END AS BIGINT)
         AS loading
FROM {last}"""
    )


@query("embed_pca_top1", oracle=_pca_oracle())
def embed_pca_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by EXACT
    fixed-point power iteration (operators/similarity.py
    pca_top1_int): the centered Gram n*sum(qq^T) - ss^T is built from
    int8-quantized vectors in pure integers, three power-iteration
    rounds run in [-2^20, 2^20] fixed point with truncating rescale,
    and the sign is pinned by the leading loading — every loading
    hash-matches the unrolled HUGEINT SQL oracle. The corpus never
    shuffles: each Arrow batch emits one BLAS d x d partial
    outer-product, and only d^2 integers per partition reach the
    single sketch-sized aggregate (the k-means-centroid pattern)."""
    return similarity.pca_top1_int(table(spark, sf_dir, "embeddings"))


def _pca_project_oracle(dim: int = KM8_DIM) -> str:
    base = _pca_oracle(dim)
    # The component oracle ends with the sign-fixed SELECT; wrap it as
    # a CTE and dot every quantized vector against the loadings.
    return f"""
WITH comp AS (
{base}
),
pq AS (
  SELECT vec_id, CAST(t.i AS BIGINT) AS i, q[t.i] AS qi
  FROM (
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    s AS (
      SELECT vec_id, e,
             CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0 THEN 1.0
                  ELSE list_max(list_transform(e, x -> abs(x))) END AS scale
      FROM v
    )
    SELECT vec_id,
           list_transform(e, x -> CAST(floor(x / scale * 127 + 0.5) AS BIGINT)) AS q
    FROM s
  ), unnest(range(1, {dim} + 1)) AS t(i)
)
SELECT pq.vec_id, CAST(SUM(pq.qi * comp.loading) AS BIGINT) AS proj
FROM pq JOIN comp ON pq.i = comp.pos + 1
GROUP BY pq.vec_id
"""


@query("embed_pca_project", oracle=_pca_project_oracle())
def embed_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto the exact fixed-point PC1
    (operators/similarity.py pca_project_int): proj = q . v in pure
    int64 — the 1-D dominant-axis coordinate for ordering, binning,
    or range-sharding the corpus. The component fit touches only
    sketch-sized driver state; the projection is a ZERO-shuffle
    codegen'd fold with the d loadings inlined as literals."""
    return similarity.pca_project_int(table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# ann_lsh_banded_topk — banded hyperplane LSH ANN (the indexed path)
# ---------------------------------------------------------------------------


def _ann_banded_oracle(dim: int = 64) -> str:
    planes = similarity.rademacher_planes(similarity.LSH_N_PLANES, dim)
    width = similarity.LSH_N_PLANES // similarity.LSH_N_BANDS
    band_exprs = []
    for bi in range(similarity.LSH_N_BANDS):
        bits = " + ".join(
            "CASE WHEN list_dot_product(e, ["
            + ", ".join(str(x) for x in planes[bi * width + j])
            + f"]) > 0 THEN {1 << j} ELSE 0 END"
            for j in range(width)
        )
        band_exprs.append(f"({bits}) AS band_{bi}")
    band_union = "\nUNION ALL ".join(
        f"SELECT vec_id, {bi} AS band_idx, band_{bi} AS band_key FROM sig"
        for bi in range(similarity.LSH_N_BANDS)
    )
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
sig AS (SELECT vec_id, e, {", ".join(band_exprs)} FROM v),
bands AS ({band_union}),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM bands q JOIN bands c
    ON q.band_idx = c.band_idx AND q.band_key = c.band_key
  WHERE q.vec_id < {N_QUERY_VECS} AND q.vec_id <> c.vec_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_dot_product(vq.e, vc.e)
           / (sqrt(list_dot_product(vq.e, vq.e)) * sqrt(list_dot_product(vc.e, vc.e)))
           AS cosine
  FROM cand
  JOIN v vq ON vq.vec_id = cand.query_id
  JOIN v vc ON vc.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {TOPK_NEIGHBORS}
"""


@query("ann_lsh_banded_topk", oracle=_ann_banded_oracle())
def ann_lsh_banded_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via the banded hyperplane LSH index — multi-band
    probing (the indexed upgrade of the single sign-bucket
    `ann_lsh_bucketed_topk`): query band keys broadcast to an
    equi-join, the corpus never shuffles, exact cosine ranks the
    candidate set; the oracle reproduces the identical planes and
    candidates, checking implementation exactness."""
    emb = table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    out = similarity.cosine_topk_lsh_banded(emb, qs, k=TOPK_NEIGHBORS)
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# report_vocab_gini — vocabulary-concentration (Gini) per source
# ---------------------------------------------------------------------------


@query(
    "report_vocab_gini",
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY source, tok),
ranked AS (
  SELECT source, c,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY c, tok) AS rk
  FROM tf
),
s AS (
  SELECT source,
         COUNT(*) AS v,
         SUM(c) AS total,
         SUM(CAST(rk AS BIGINT) * c) AS weighted
  FROM ranked GROUP BY source
)
SELECT source, CAST(v AS BIGINT) AS vocab_size, CAST(total AS BIGINT) AS n_tokens,
       (2.0 * weighted) / (v * CAST(total AS DOUBLE)) - (v + 1.0) / v AS gini
FROM s
""",
)
def report_vocab_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary concentration per source as a Gini coefficient over
    token frequencies — the corpus-diversity diagnostic (a source
    whose token mass concentrates in few types is boilerplate-heavy;
    near-uniform vocabularies signal synthetic/templated text). All
    sums are exact integers (rank x count) with a fixed 5-op double
    epilogue, so the coefficient is engine-exact.

    Scale: a word-count groupBy (uniform shuffle), a per-source rank
    (each source's vocabulary is bounded — Heaps' law — so window
    partitions stay manageable; a giant single source would
    range-partition its vocabulary and offset local ranks, the
    pack_sequences pattern), one final rollup."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = spread(docs.select("source", "text")).select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    tf = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("source").orderBy("c", "tok")
    ranked = tf.withColumn("rk", F.row_number().over(w))
    s = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("c").alias("total"),
        F.sum(F.col("rk").cast("long") * F.col("c")).alias("weighted"),
    )
    gini = (F.lit(2.0) * F.col("weighted")) / (
        F.col("v") * F.col("total").cast("double")
    ) - (F.col("v") + F.lit(1.0)) / F.col("v")
    return s.select(
        "source",
        F.col("v").cast("long").alias("vocab_size"),
        F.col("total").cast("long").alias("n_tokens"),
        gini.alias("gini"),
    )


# ---------------------------------------------------------------------------
# dedup_lsh_verified — LSH candidates + exact-Jaccard verification
# ---------------------------------------------------------------------------

VERIFY_JACCARD_T = 0.5


def _lsh_verified_ctes() -> str:
    """The shared candidate->exact-Jaccard->verified-pairs CTE chain
    (ends with a ``ver(doc_a, doc_b, n_common, jaccard)`` relation) —
    single source for the verified-dedup oracle AND the split-leakage
    audit so the two can never disagree on what a verified pair is."""
    k, bands = dedup.MINHASH_K, dedup.LSH_BANDS
    rpb = k // bands
    band_selects = "\nUNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS bkey FROM sig".format(
            b=b,
            key=" || '|' || ".join(f"mh{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    return f"""{_toks_cte()},
{_grams_cte(dedup.NGRAM_N)},
{_sig_cte(k)},
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM dg GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN dg ga ON ga.doc_id = c.doc_a
  JOIN dg gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
  GROUP BY c.doc_a, c.doc_b
),
ver AS (
  SELECT i.doc_a, i.doc_b, i.n_common,
         CAST(i.n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - i.n_common) AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE CAST(i.n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - i.n_common)
        >= {VERIFY_JACCARD_T}
)"""


def _lsh_verified_oracle() -> str:
    return f"""
WITH {_lsh_verified_ctes()}
SELECT doc_a, doc_b, n_common, jaccard FROM ver
"""


@query("dedup_lsh_verified", oracle=_lsh_verified_oracle())
def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The textbook three-stage near-dup pipeline composed end to end:
    MinHash band keys generate candidates (equi-join, never
    all-pairs), then TRUE n-gram Jaccard verifies each candidate —
    computed only for the candidate pairs, so the exact set
    intersection (the step that's quadratic if run corpus-wide) costs
    candidates x shared shingles. dedup_minhash_lsh reports the
    signature ESTIMATE; this query reports the verified truth the
    estimate approximates, with false positives filtered at the real
    threshold.

    Scale: candidate generation as in dedup_minhash_lsh; verification
    joins the (distinct doc, shingle) stream to the candidate list on
    the doc key — shuffles bounded by candidates x doc shingles, with
    AQE broadcasting the (sparse) candidate list against the shingle
    stream."""
    return _lsh_verified_pairs(table(spark, sf_dir, "documents"))


def _lsh_verified_pairs(docs: DataFrame) -> DataFrame:
    """Verified near-dup pairs (doc_a, doc_b, n_common, jaccard) — the
    Spark twin of :func:`_lsh_verified_ctes`, shared by the verified
    dedup query and the split-leakage audit so the two can never
    disagree on what a verified pair is."""
    cand = materialize(
        dedup.minhash_lsh_pairs(docs, "doc_id", "text")
        .select("doc_a", "doc_b")
    )
    # The shingle stream feeds THREE consumers (both sides of the
    # intersection join + the set sizes) — materialize it once
    # (r13 opt; the sparse verify join shuffles it anyway, so the
    # barrier adds no new data movement class at scale).
    grams = materialize(dedup.doc_shingles(docs, "doc_id", "text", dedup.NGRAM_N))
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    ga = grams.select(F.col("doc_id").alias("doc_a"), "g")
    gb = grams.select(F.col("doc_id").alias("doc_b"), "g")
    inter = (
        cand.join(ga, "doc_a")
        .join(gb, ["doc_b", "g"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= VERIFY_JACCARD_T)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


# ---------------------------------------------------------------------------
# embed_feature_hash_chunks — hashing-trick chunk embeddings (RAG ingest)
# ---------------------------------------------------------------------------

FH_DIMS = 8
FH_BUCKET_BITS = 4


def _fh_sign_sql(j: int) -> str:
    """DuckDB ±1 hash sign for dimension j — the single source for
    every feature-hash oracle (must stay bit-identical to _fh_embed's
    Spark expression, the drift-prevention invariant of this
    module)."""
    return (
        f"(CASE WHEN CAST('0x' || substr(md5('fh{j}|' || tok), 1, 15) AS BIGINT) % 2 = 1"
        " THEN 1 ELSE -1 END)"
    )


def _fh_sums_sql() -> str:
    return ",\n         ".join(
        f"SUM({_fh_sign_sql(j)}) AS emb_{j}" for j in range(FH_DIMS)
    )


def _fh_chunk_ctes() -> str:
    """Shared chunk -> token -> per-chunk-embedding CTE chain (source
    relation must be aliased ``t`` with columns doc_id, toks)."""
    w, st = text.CHUNK_WINDOW, text.CHUNK_STRIDE
    return f"""c AS (
  SELECT t.doc_id, CAST(gs.i AS BIGINT) AS chunk_id,
         array_to_string(toks[CAST(gs.i*{st}+1 AS BIGINT):CAST(gs.i*{st}+{w} AS BIGINT)], ' ') AS chunk_text
  FROM t, LATERAL unnest(range(0, (len(toks)-1)//{st} + 1)) AS gs(i)
),
tok AS (
  SELECT doc_id, chunk_id, unnest(string_split(chunk_text, ' ')) AS tok FROM c
),
emb AS (
  SELECT doc_id, chunk_id,
         {_fh_sums_sql()}
  FROM tok GROUP BY doc_id, chunk_id
)"""


def _fh_embed(chunks: DataFrame) -> DataFrame:
    """Spark side of the feature-hash embedding: (doc_id, chunk_id,
    chunk_text) -> per-chunk integer embedding columns emb_0..emb_k.
    One partial-aggregated groupBy; the md5 sign family mirrors
    :func:`_fh_sign_sql` exactly."""
    from protarrow_spark.operators.sketches import hex_to_long

    toks = chunks.select(
        "doc_id", "chunk_id", F.explode(F.split(F.col("chunk_text"), " ")).alias("tok")
    )

    def sign(j: int):
        h = hex_to_long(F.md5(F.concat(F.lit(f"fh{j}|"), F.col("tok"))), 15)
        return F.when(h % 2 == 1, F.lit(1)).otherwise(F.lit(-1))

    return toks.groupBy("doc_id", "chunk_id").agg(
        *[F.sum(sign(j)).alias(f"emb_{j}") for j in range(FH_DIMS)]
    )


def _fh_bucket_col():
    bucket = None
    for j in range(FH_BUCKET_BITS):
        b = F.when(F.col(f"emb_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = b if bucket is None else bucket + b
    return bucket.cast("long")


def _fh_oracle() -> str:
    bucket = " + ".join(
        f"(CASE WHEN emb_{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(FH_BUCKET_BITS)
    )
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
{_fh_chunk_ctes()}
SELECT doc_id, chunk_id,
       {", ".join(f"CAST(emb_{j} AS BIGINT) AS emb_{j}" for j in range(FH_DIMS))},
       CAST({bucket} AS BIGINT) AS bucket
FROM emb
"""


#: Quality floor for RAG ingest (matches text_quality's 'low' cut).
RAG_QUALITY_MIN = 0.25


def _rag_ingest_oracle() -> str:
    stop_list = ", ".join(f"'{s}'" for s in text.STOPWORDS)
    bucket = " + ".join(
        f"(CASE WHEN emb_{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(FH_BUCKET_BITS)
    )
    return f"""
WITH q AS (
  SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
),
kept AS (
  SELECT doc_id, text FROM q
  WHERE (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
        * least(1.0, CAST(len(t) AS DOUBLE) / 50.0)
        * (1.0 - CAST(len(list_filter(t, x -> list_contains([{stop_list}], x))) AS DOUBLE) / len(t))
        >= {RAG_QUALITY_MIN}
),
t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM kept),
{_fh_chunk_ctes()},
bk AS (
  SELECT doc_id, chunk_id, CAST({bucket} AS BIGINT) AS bucket FROM emb
),
stats AS (SELECT bucket, COUNT(*) AS n_in_bucket FROM bk GROUP BY bucket)
SELECT bk.doc_id, bk.chunk_id, bk.bucket,
       CAST(stats.n_in_bucket AS BIGINT) AS n_in_bucket
FROM bk JOIN stats USING (bucket)
"""


@query("pipeline_rag_ingest", oracle=_rag_ingest_oracle())
def pipeline_rag_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG ingest as ONE Catalyst plan — the retrieval-side
    counterpart of pipeline_training_corpus: quality-gate the corpus
    (scan-stage filter, shared quality_expr so it cannot drift from
    text_quality), slide-chunk the survivors (zero-shuffle explode),
    feature-hash each chunk to an integer embedding (one partial-agg
    groupBy), derive its sign-bucket index key, and annotate every
    chunk with its index cell's occupancy (the coarse-quantizer load
    statistic an ANN index build reports).

    Scale: one uniform shuffle on (doc, chunk) for the embedding, one
    bucket-cardinality aggregate broadcast back — the chunk stream
    never moves twice; the whole pipeline composes in the scan
    partitioning an embedding-model mapInPandas stage would reuse.

    Output: doc_id, chunk_id, bucket, n_in_bucket.
    """
    docs = table(spark, sf_dir, "documents")
    kept = spread(docs).filter(text.quality_expr("text") >= RAG_QUALITY_MIN)
    emb = _fh_embed(text.chunk_sliding(kept, "doc_id", "text"))
    bk = emb.select("doc_id", "chunk_id", _fh_bucket_col().alias("bucket"))
    stats = bk.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_in_bucket"))
    return bk.join(F.broadcast(stats), "bucket").select(
        "doc_id", "chunk_id", "bucket", F.col("n_in_bucket").cast("long").alias("n_in_bucket")
    )


def _meanpool_oracle() -> str:
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
{_fh_chunk_ctes()}
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       {", ".join(f"CAST(SUM(emb_{j}) AS BIGINT) AS sum_{j}" for j in range(FH_DIMS))},
       {", ".join(f"CAST(SUM(emb_{j}) AS DOUBLE) / COUNT(*) AS mean_{j}" for j in range(FH_DIMS))}
FROM emb
GROUP BY doc_id
"""


@query("embed_doc_meanpool", oracle=_meanpool_oracle())
def embed_doc_meanpool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level embedding by mean-pooling chunk embeddings — the
    standard two-tier RAG representation (chunks for retrieval, a
    pooled doc vector for coarse routing / dedup / clustering).
    Integer chunk sums pool to integer doc sums (order-invariant; the
    mean is one IEEE division per dim at the end), so the pooled
    vectors are value-exact cross-engine — the property a float
    model's pooled embeddings can never give a distributed gate.

    Scale: a second partial-aggregated groupBy stacked on the chunk
    embedding stage, keyed on doc_id — the chunk stream arrives
    already partitioned by (doc, chunk) so AQE plans the rollup
    without a second full shuffle of token data."""
    docs = table(spark, sf_dir, "documents")
    emb = _fh_embed(text.chunk_sliding(spread(docs), "doc_id", "text"))
    return emb.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        *[F.sum(f"emb_{j}").cast("long").alias(f"sum_{j}") for j in range(FH_DIMS)],
        *[
            (F.sum(f"emb_{j}").cast("double") / F.count(F.lit(1))).alias(f"mean_{j}")
            for j in range(FH_DIMS)
        ],
    )


@query("embed_feature_hash_chunks", oracle=_fh_oracle())
def embed_feature_hash_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-ingest embedding stage via the hashing trick (Weinberger et
    al. 2009): each chunk gets an {FH_DIMS}-dim INTEGER embedding —
    dimension j sums md5-derived ±1 signs over the chunk's tokens —
    plus its sign-bucket index key. No model weights to ship, exact
    integer sums (order-invariant, value-verifiable), and the output
    is ANN-index-ready (the bucket IS the coarse index cell).

    Scale: chunking is zero-shuffle scan-stage codegen; the embedding
    is one partial-aggregated groupBy on (doc, chunk) — the stream
    stays partitioned like the scan, exactly where a model-based
    embedder's mapInPandas stage would slot in (this is the
    deterministic stand-in with the identical dataflow)."""
    docs = table(spark, sf_dir, "documents")
    emb = _fh_embed(text.chunk_sliding(spread(docs), "doc_id", "text"))
    return emb.select(
        "doc_id",
        "chunk_id",
        *[F.col(f"emb_{j}").cast("long").alias(f"emb_{j}") for j in range(FH_DIMS)],
        _fh_bucket_col().alias("bucket"),
    )


# ---------------------------------------------------------------------------
# graph_bfs_hops — multi-source breadth-first search (bounded radius)
# ---------------------------------------------------------------------------

#: Support-thresholded part co-purchase edges (same graph as
#: graph_triangle_count / graph_common_neighbors), as a DuckDB
#: subquery producing (src, dst).
_COPURCHASE_EDGES_SQL = f"""
SELECT a AS src, b AS dst FROM (
  SELECT x.l_partkey AS a, y.l_partkey AS b, COUNT(*) AS c
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) x
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY a, b
) WHERE c >= {TRIANGLE_MIN_SUPPORT}
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-thresholded part co-purchase edges — the one builder
    behind all five co-purchase graph queries (triangle, common
    neighbors, BFS, neighborhood Jaccard, k-core).

    r14 shape (guide §2.3 "aggregate before you shuffle"): the former
    distinct + self-join on l_orderkey shuffled the (order, part)
    stream three times and sort-merge-joined it with itself. Orders
    bound their part count (TPC-H <= 7 lines/order), so ONE
    partial-aggregated shuffle collects each order's distinct part set
    (collect_set subsumes the old .distinct()), the a<b pairs are
    emitted map-side from the sorted array (<= 21 pairs/order — tiny,
    bounded per-row state at any scale), and only the (src, dst)
    support count shuffles after that. 4 Exchange + SortMergeJoin ->
    2 Exchange, no join; identical exact counts."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    parts = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    # Two chained codegen'd generators, NOT a lambda HOF (transform/
    # flatten interpreted per row measured ~40% slower than this on the
    # same stream): posexplode pins each src with its index, slice
    # emits the strictly-larger tail as dst.
    e1 = parts.select(F.posexplode("ps").alias("i", "src"), "ps")
    pairs = e1.select(
        "src", F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("dst")
    )
    return (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= TRIANGLE_MIN_SUPPORT)
        .select("src", "dst")
    )


def _bfs_oracle() -> str:
    from protarrow_spark.operators.graph import bfs_hops_oracle_sql

    return bfs_hops_oracle_sql(_COPURCHASE_EDGES_SQL)


@query("graph_bfs_hops", oracle=_bfs_oracle())
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the part co-purchase graph: minimum hop
    distance from the 5 smallest part ids to everything within 3 hops
    (operators/graph.py bfs_hops) — the bounded-radius reachability
    primitive (contamination spread from flagged docs, k-hop
    neighborhoods for graph features). Level-synchronous frontier
    expansion with a visited-set anti-join per hop; the DuckDB oracle
    is the equivalent recursive CTE (UNION-deduplicated so the walk
    is nodes x hops, not path-enumeration)."""
    from protarrow_spark.operators.graph import bfs_hops

    return bfs_hops(_copurchase_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# graph_jaccard_similarity — degree-normalized node similarity
# ---------------------------------------------------------------------------


def _jaccard_oracle() -> str:
    from protarrow_spark.operators.graph import neighborhood_jaccard_oracle_sql

    return neighborhood_jaccard_oracle_sql(_COPURCHASE_EDGES_SQL)


@query("graph_jaccard_similarity", oracle=_jaccard_oracle())
def graph_jaccard_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard similarity over the part co-purchase
    graph (operators/graph.py neighborhood_jaccard): top-50 node
    pairs by |N(a)&N(b)| / |N(a)|N(b)| — the degree-normalized
    sibling of graph_common_neighbors, ranking structural similarity
    instead of raw overlap so hub parts stop dominating. Exact
    integer intersection/union; one IEEE division; (score, pair)
    total order."""
    from protarrow_spark.operators.graph import neighborhood_jaccard

    return neighborhood_jaccard(_copurchase_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# ann_ivf_recall_report — measured recall of the IVF index vs exact truth
# ---------------------------------------------------------------------------


def _ivf_recall_oracle() -> str:
    """Brute-force truth CTEs + the IVF CTEs (same formulas as
    ann_cosine_topk / ann_ivf_topk), joined into per-query recall."""
    cos = "list_dot_product(qe, ce) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce)))"
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {N_QUERY_VECS}),
brute AS (
  SELECT query_id, vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY {_COSINE_SQL} DESC, vec_id) AS rank
  FROM q JOIN v ON vec_id <> query_id
),
truth AS (SELECT query_id, neighbor_id FROM brute WHERE rank <= {TOPK_NEIGHBORS}),
cent AS (
  SELECT e AS ce, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cidx
  FROM v ORDER BY vec_id LIMIT {similarity.IVF_N_CELLS}
),
assign AS (
  SELECT vec_id, cidx,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY {cos.replace('qe', 'a.e')} DESC, cidx
         ) AS rn
  FROM v a CROSS JOIN cent
),
cells AS (SELECT vec_id, cidx AS cell FROM assign WHERE rn = 1),
qcells AS (
  SELECT vec_id AS query_id, cidx AS cell FROM assign
  WHERE rn <= {similarity.IVF_NPROBE} AND vec_id < {N_QUERY_VECS}
),
ivf_scored AS (
  SELECT qc.query_id, c.vec_id AS neighbor_id,
         list_dot_product(qv.e, nv.e)
           / (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(nv.e, nv.e)))
           AS cosine
  FROM qcells qc
  JOIN cells c ON c.cell = qc.cell AND c.vec_id <> qc.query_id
  JOIN v qv ON qv.vec_id = qc.query_id
  JOIN v nv ON nv.vec_id = c.vec_id
),
ivf_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM ivf_scored
  ) WHERE rank <= {TOPK_NEIGHBORS}
)
SELECT t.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
       CAST(COUNT(i.neighbor_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS recall_at_k
FROM truth t
LEFT JOIN ivf_topk i
  ON i.query_id = t.query_id AND i.neighbor_id = t.neighbor_id
GROUP BY t.query_id
"""


@query("ann_ivf_recall_report", oracle=_ivf_recall_oracle())
def ann_ivf_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@k of the IVF ANN index against exact
    brute-force truth, per query — the dense-retrieval sibling of
    dedup_lsh_recall_report: an index you cannot audit is an index
    you cannot trust. Both rankings are computed by the engine's own
    operators (cosine_topk_ivf / cosine_topk_bruteforce), joined on
    (query, neighbor); hits are exact integers, recall is one IEEE
    division.

    Scale: the truth side is the linear brute-force scan — run it on
    the SAME hash-sampled query stratum the LSH audit prescribes, not
    the full query log; the IVF side stays an equi-join on cell ids.
    The corpus never shuffles in either ranking (query sets
    broadcast)."""
    emb = table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    truth = similarity.cosine_topk_bruteforce(emb, qs, k=TOPK_NEIGHBORS).select(
        "query_id", "neighbor_id"
    )
    approx = (
        similarity.cosine_topk_ivf(emb, qs, k=TOPK_NEIGHBORS)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    joined = truth.join(approx, ["query_id", "neighbor_id"], "left")
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_truth"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hits"),
        (
            F.coalesce(F.sum("hit"), F.lit(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# retrieval_hybrid_rrf — reciprocal-rank fusion of sparse + dense retrieval
# ---------------------------------------------------------------------------

#: RRF constant (the k in 1/(k + rank); 60 is the value from the
#: original Cormack/Clarke/Buettcher paper and what most engines use).
RRF_K = 60
#: Depth of each ranker's candidate list fed into the fusion.
RRF_DEPTH = 20
#: Final fused list length.
RRF_TOPK = 10
#: Fixed-point scale for 1/(k+rank): integer division at 1e12 keeps
#: 12 significant digits — rank order identical to the float RRF for
#: any plausible depth, and bit-exact on any engine.
RRF_SCALE = 10**12
#: Hashing-trick dimensionality for the dense ranker.
RRF_DENSE_DIM = 64


def _rrf_dim_sql(tok: str) -> str:
    return f"CAST('0x' || substr(md5('rrf|' || {tok}), 1, 15) AS BIGINT) % {RRF_DENSE_DIM}"


def _rrf_sign_sql(tok: str) -> str:
    return (
        f"(CASE WHEN CAST('0x' || substr(md5('rrfs|' || {tok}), 1, 15) AS BIGINT) % 2 = 1"
        " THEN 1 ELSE -1 END)"
    )


def _rrf_oracle() -> str:
    terms = ", ".join(f"('{t}')" for t in BM25_TERMS)
    in_terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_toks FROM dl),
tfm AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
  WHERE tok IN ({in_terms}) GROUP BY doc_id, tok
),
dfreq AS (SELECT tok, COUNT(*) AS df FROM tfm GROUP BY tok),
bm25 AS (
  SELECT t.doc_id,
         SUM(((2 * (s.n_docs - f.df) + 1) * {BM25_IDF_SCALE}) // (2 * f.df + 1)
             * ((22 * s.total_toks * t.tf * {BM25_TF_SCALE})
                // (10 * s.total_toks * t.tf + 3 * s.total_toks
                    + 9 * s.n_docs * d.dl))) AS score_fp
  FROM tfm t
  JOIN dfreq f USING (tok)
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
  GROUP BY t.doc_id
),
sparse AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id) AS rank
    FROM bm25
  ) WHERE rank <= {RRF_DEPTH}
),
dvec AS (
  SELECT doc_id, {_rrf_dim_sql('tok')} AS dim,
         SUM({_rrf_sign_sql('tok')}) AS w
  FROM toks GROUP BY doc_id, dim
),
qvec AS (
  SELECT {_rrf_dim_sql('tok')} AS dim,
         SUM({_rrf_sign_sql('tok')}) AS w
  FROM (VALUES {terms}) qt(tok) GROUP BY dim
),
dscore AS (
  SELECT d.doc_id, SUM(d.w * q.w) AS dot FROM dvec d
  JOIN qvec q USING (dim) GROUP BY d.doc_id
),
dense AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY dot DESC, doc_id) AS rank
    FROM dscore
  ) WHERE rank <= {RRF_DEPTH}
),
fused AS (
  SELECT doc_id,
         s.rank AS sparse_rank, d.rank AS dense_rank,
         COALESCE({RRF_SCALE} // ({RRF_K} + s.rank), 0)
           + COALESCE({RRF_SCALE} // ({RRF_K} + d.rank), 0) AS rrf_fp
  FROM sparse s FULL OUTER JOIN dense d USING (doc_id)
)
SELECT doc_id, sparse_rank, dense_rank, CAST(rrf_fp AS BIGINT) AS rrf_fp
FROM fused
ORDER BY rrf_fp DESC, doc_id
LIMIT {RRF_TOPK}
"""


@query("retrieval_hybrid_rrf", oracle=_rrf_oracle())
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (RRF): the
    fixed-point BM25 ranking (sparse side) and a hashing-trick
    inner-product ranking (dense side) are each cut to the top
    {RRF_DEPTH}, then fused with score = sum over rankers of
    1/(60 + rank) — the list-combination rule RAG stacks actually
    run in front of an LLM. 1/(k+rank) is taken as integer division
    at 1e12 fixed point, so the fused ordering is bit-exact on any
    engine/partitioning.

    The dense side is the signed-feature-hash dot product: doc vector
    dims from md5('rrf|'||tok) with ±1 signs from md5('rrfs|'||tok),
    the query vector from the same family over the fixed BM25 terms —
    all-integer scores, engine-portable by construction.

    Scale: both rankers end in TakeOrderedAndProject (map-side top-N
    per partition, no global sort); the 3-term query vector and the
    corpus stats broadcast; the fusion is a full outer join of two
    {RRF_DEPTH}-row frames."""
    from pyspark.sql import Window

    from protarrow_spark.functions.text import tokens as ws_tokens
    from protarrow_spark.operators.sketches import hex_to_long

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("tok"))

    # -- sparse side: BM25 fixed-point (same closed form as text_bm25_topk)
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_toks")
    )
    tfm = (
        toks.filter(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tfm.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    term_score = F.expr(
        f"((2 * (n_docs - df) + 1) * {BM25_IDF_SCALE}) div (2 * df + 1)"
        f" * ((22 * total_toks * tf * {BM25_TF_SCALE}L)"
        f" div (10 * total_toks * tf + 3 * total_toks + 9 * n_docs * dl))"
    )
    bm25 = (
        tfm.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", term_score.alias("term_score"))
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("score_fp"))
        .orderBy(F.desc("score_fp"), F.asc("doc_id"))
        .limit(RRF_DEPTH)
    )
    w_s = Window.orderBy(F.desc("score_fp"), F.asc("doc_id"))
    sparse = bm25.select("doc_id", F.row_number().over(w_s).alias("sparse_rank"))

    # -- dense side: signed feature-hash inner product
    def dim(col):
        return hex_to_long(F.md5(F.concat(F.lit("rrf|"), col)), 15) % RRF_DENSE_DIM

    def sign(col):
        h = hex_to_long(F.md5(F.concat(F.lit("rrfs|"), col)), 15)
        return F.when(h % 2 == 1, F.lit(1)).otherwise(F.lit(-1))

    dvec = toks.groupBy("doc_id", dim(F.col("tok")).alias("dim")).agg(
        F.sum(sign(F.col("tok"))).alias("w")
    )
    qterms = spark.createDataFrame([(t,) for t in BM25_TERMS], "tok string")
    qvec = qterms.groupBy(dim(F.col("tok")).alias("dim")).agg(
        F.sum(sign(F.col("tok"))).alias("qw")
    )
    dscore = (
        dvec.join(F.broadcast(qvec), "dim")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("qw")).alias("dot"))
        .orderBy(F.desc("dot"), F.asc("doc_id"))
        .limit(RRF_DEPTH)
    )
    w_d = Window.orderBy(F.desc("dot"), F.asc("doc_id"))
    dense = dscore.select("doc_id", F.row_number().over(w_d).alias("dense_rank"))

    # -- fusion
    fused = sparse.join(dense, ["doc_id"], "full").select(
        "doc_id",
        F.col("sparse_rank").cast("long").alias("sparse_rank"),
        F.col("dense_rank").cast("long").alias("dense_rank"),
        (
            F.coalesce(
                F.expr(f"{RRF_SCALE}L div ({RRF_K} + sparse_rank)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{RRF_SCALE}L div ({RRF_K} + dense_rank)"), F.lit(0)
            )
        ).cast("long").alias("rrf_fp"),
    )
    return fused.orderBy(F.desc("rrf_fp"), F.asc("doc_id")).limit(RRF_TOPK)


# ---------------------------------------------------------------------------
# retrieval_eval_ndcg — NDCG@k / recall@k / MRR retrieval-quality eval
# ---------------------------------------------------------------------------

#: Retrieval depth the eval cuts at (the k of NDCG@k / recall@k).
NDCG_K = 10
#: Number of eval queries: the labeled vectors with the smallest ids.
NDCG_QUERIES = 16
#: Fixed-point scale of the 1/log2(rank+1) discount weights. 1e9
#: keeps 9 significant digits while dcg_fp*1e6 (the ppm division
#: below) stays well inside int64: 10 * 1e9 * 1e6 = 1e16 << 9.2e18.
NDCG_DISC_SCALE = 10**9
#: Fixed-point scale of the output ratios (parts-per-million).
NDCG_PPM = 10**6


def _ndcg_discounts() -> list[int]:
    """round(SCALE / log2(rank+1)) for rank 1..k — computed ONCE in
    Python and embedded as integer literals in BOTH the Spark plan and
    the DuckDB oracle, so no engine ever evaluates a log."""
    import math

    return [round(NDCG_DISC_SCALE / math.log2(r + 1)) for r in range(1, NDCG_K + 1)]


def _ndcg_oracle() -> str:
    disc = _ndcg_discounts()
    prefix = [0]
    for d in disc:
        prefix.append(prefix[-1] + d)
    disc_rows = ", ".join(f"({r + 1}, {d})" for r, d in enumerate(disc))
    pre_rows = ", ".join(f"({i}, {p})" for i, p in enumerate(prefix))
    return f"""
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
q AS (
  SELECT vec_id AS query_id, label AS q_label, e AS qe FROM v
  WHERE vec_id < {NDCG_QUERIES} AND label IS NOT NULL
),
scored AS (
  SELECT query_id, q_label, vec_id AS neighbor_id, label AS n_label,
         {_COSINE_SQL} AS cosine
  FROM q JOIN v ON vec_id <> query_id
),
ranked AS (
  SELECT query_id, q_label, n_label,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
           AS rank
  FROM scored
),
top AS (
  SELECT query_id, q_label, rank,
         CASE WHEN n_label = q_label THEN 1 ELSE 0 END AS rel
  FROM ranked WHERE rank <= {NDCG_K}
),
disc(rank, d_fp) AS (VALUES {disc_rows}),
agg AS (
  SELECT query_id, q_label,
         SUM(rel * d_fp) AS dcg_fp,
         SUM(rel) AS relevant_found,
         MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel_rank
  FROM top JOIN disc USING (rank) GROUP BY query_id, q_label
),
lc AS (SELECT label, COUNT(*) AS n FROM v WHERE label IS NOT NULL GROUP BY label),
pre(i, p_fp) AS (VALUES {pre_rows}),
j AS (
  SELECT a.query_id, a.relevant_found, a.dcg_fp, a.first_rel_rank,
         lc.n - 1 AS relevant_total
  FROM agg a JOIN lc ON lc.label = a.q_label
)
SELECT query_id,
       CAST(relevant_total AS BIGINT) AS relevant_total,
       CAST(relevant_found AS BIGINT) AS relevant_found,
       CAST(COALESCE(first_rel_rank, 0) AS BIGINT) AS first_rel_rank,
       CAST(dcg_fp AS BIGINT) AS dcg_fp,
       CAST(p.p_fp AS BIGINT) AS idcg_fp,
       CAST(CASE WHEN p.p_fp > 0 THEN dcg_fp * {NDCG_PPM} // p.p_fp
                 ELSE 0 END AS BIGINT) AS ndcg_ppm,
       CAST(CASE WHEN LEAST(relevant_total, {NDCG_K}) > 0
                 THEN relevant_found * {NDCG_PPM} // LEAST(relevant_total, {NDCG_K})
                 ELSE 0 END AS BIGINT) AS recall_ppm,
       CAST(CASE WHEN first_rel_rank IS NOT NULL THEN {NDCG_PPM} // first_rel_rank
                 ELSE 0 END AS BIGINT) AS rr_ppm
FROM j JOIN pre p ON p.i = LEAST(j.relevant_total, {NDCG_K})
ORDER BY query_id
"""


@query("retrieval_eval_ndcg", oracle=_ndcg_oracle())
def retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation — NDCG@{NDCG_K}, recall@{NDCG_K}
    and reciprocal rank per query — of exact cosine retrieval over the
    embeddings table, with same-label as the (binary) relevance
    judgment: the eval loop every retrieval/RAG pipeline runs after
    changing an index, an embedding model, or a chunking policy.

    Exactness: the 1/log2(rank+1) discounts are precomputed Python
    integers at 1e9 fixed point (embedded identically in the oracle),
    DCG is an integer dot product against them, ideal DCG is a prefix-
    sum table lookup at min(|relevant|, k) — binary relevance makes
    the ideal list a prefix — and the ndcg/recall/rr ratios are
    integer divisions at ppm scale. No float leaves the cosine ranking
    stage, which is shared verbatim with ann_cosine_topk.

    Scale: the {NDCG_QUERIES}-query frame broadcasts twice (retrieval
    + label join); label frequencies (one row per class) broadcast;
    the only corpus-sized pass is the brute-force scoring scan that
    TakeOrdered's to k per query. Swapping the first stage for
    ann_ivf_topk/ann_lsh_bucketed_topk turns this into the sampled
    recall audit those indexes need at 100 TB."""
    emb = table(spark, sf_dir, "embeddings")
    labeled = emb.filter(F.col("label").isNotNull())
    qs = labeled.filter(F.col("vec_id") < NDCG_QUERIES)
    retrieved = similarity.cosine_topk_bruteforce(emb, qs, k=NDCG_K)

    n_labels = labeled.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    q_labels = qs.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    rel = (
        retrieved.join(n_labels, "neighbor_id", "left")
        .join(F.broadcast(q_labels), "query_id")
        .select(
            "query_id",
            "q_label",
            "rank",
            F.when(F.col("n_label") == F.col("q_label"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("rel"),
        )
    )

    disc = _ndcg_discounts()
    prefix = [0]
    for d in disc:
        prefix.append(prefix[-1] + d)
    disc_arr = F.array(*[F.lit(d) for d in disc])
    pre_arr = F.array(*[F.lit(p) for p in prefix])

    agg = rel.groupBy("query_id", "q_label").agg(
        F.sum(F.col("rel") * F.element_at(disc_arr, F.col("rank"))).alias("dcg_fp"),
        F.sum("rel").alias("relevant_found"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_rel_rank"),
    )
    label_counts = labeled.groupBy(F.col("label").alias("q_label")).agg(
        (F.count(F.lit(1)) - F.lit(1)).alias("relevant_total")
    )
    joined = agg.join(F.broadcast(label_counts), "q_label").withColumn(
        "idcg_fp",
        F.element_at(
            pre_arr,
            (F.least(F.col("relevant_total"), F.lit(NDCG_K)) + 1).cast("int"),
        ),
    )
    return joined.select(
        F.col("query_id"),
        F.col("relevant_total").cast("long").alias("relevant_total"),
        F.col("relevant_found").cast("long").alias("relevant_found"),
        F.coalesce("first_rel_rank", F.lit(0)).cast("long").alias("first_rel_rank"),
        F.col("dcg_fp").cast("long").alias("dcg_fp"),
        F.col("idcg_fp").cast("long").alias("idcg_fp"),
        F.when(
            F.col("idcg_fp") > 0,
            F.expr(f"(dcg_fp * {NDCG_PPM}L) div idcg_fp"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("ndcg_ppm"),
        F.when(
            F.least(F.col("relevant_total"), F.lit(NDCG_K)) > 0,
            F.expr(
                f"(relevant_found * {NDCG_PPM}L)"
                f" div least(relevant_total, {NDCG_K})"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("recall_ppm"),
        F.when(
            F.col("first_rel_rank").isNotNull(),
            F.expr(f"{NDCG_PPM}L div first_rel_rank"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rr_ppm"),
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# report_token_fertility — tokenizer fertility / compression audit
# ---------------------------------------------------------------------------


@query(
    "report_token_fertility",
    oracle=f"""
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS n_chars,
       CAST(SUM(len(regexp_extract_all(text, '{_BPE_SQL_PAT}'))) AS BIGINT)
         AS n_bpe_tokens,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_ws_tokens,
       CAST(100 * SUM(len(regexp_extract_all(text, '{_BPE_SQL_PAT}'))) AS DOUBLE)
         / CAST(SUM(length(text)) AS DOUBLE) AS bpe_per_100_chars,
       CAST(SUM(len(regexp_extract_all(text, '{_BPE_SQL_PAT}'))) AS DOUBLE)
         / CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) AS fertility
FROM documents
GROUP BY source, lang
""",
)
def report_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per (source, language): BPE-style
    pre-tokens per whitespace word (the 'fertility' every tokenizer
    paper reports — high fertility = the tokenizer fragments that
    language and its token budget buys less text) and tokens per 100
    chars (the compression rate that converts corpus bytes to token
    counts for data-mixing math). Counts are exact integers from one
    codegen'd regex pass; the two ratios are single IEEE divisions on
    exact sums.

    Scale: map-side tokenize-and-count into a |sources|x|langs|-group
    aggregate — one scan, one tiny shuffle."""
    docs = table(spark, sf_dir, "documents")
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(text.BPE_PATTERN), 0))
    ws = F.size(F.split(F.col("text"), " "))
    per_doc = docs.select("source", "lang", F.length("text").alias("nc"),
                          bpe.alias("nb"), ws.alias("nw"))
    return per_doc.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nc").cast("long").alias("n_chars"),
        F.sum("nb").cast("long").alias("n_bpe_tokens"),
        F.sum("nw").cast("long").alias("n_ws_tokens"),
        (
            (F.lit(100) * F.sum("nb")).cast("double")
            / F.sum("nc").cast("double")
        ).alias("bpe_per_100_chars"),
        (F.sum("nb").cast("double") / F.sum("nw").cast("double")).alias(
            "fertility"
        ),
    )


# ---------------------------------------------------------------------------
# graph_kcore — density backbone by iterative peeling
# ---------------------------------------------------------------------------


def _kcore_oracle() -> str:
    from protarrow_spark.operators.graph import kcore_oracle_sql

    return kcore_oracle_sql(_COPURCHASE_EDGES_SQL)


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the part co-purchase graph (operators/graph.py
    kcore_peel): repeatedly peel nodes of degree < 3 for 4 unrolled
    rounds and report each survivor's in-core degree plus a converged
    flag — the density-backbone extraction that separates structurally
    embedded nodes from hangers-on (for a dedup graph: the clusters
    worth human review). Exact integer degrees; the seventh member of
    the value-verifiable graph-algebra family (components, PageRank,
    triangles, link prediction, BFS, Jaccard, k-core)."""
    from protarrow_spark.operators.graph import kcore_peel

    return kcore_peel(_copurchase_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# ann_quantization_error_report — int8 vs exact float ranking agreement
# ---------------------------------------------------------------------------


def _quant_error_oracle() -> str:
    """Float-truth CTEs + the int8 CTEs (same formulas as
    ann_cosine_topk / ann_int8_topk), joined into per-query overlap."""
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {N_QUERY_VECS}),
brute AS (
  SELECT query_id, vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY {_COSINE_SQL} DESC, vec_id) AS rank
  FROM q JOIN v ON vec_id <> query_id
),
truth AS (SELECT query_id, neighbor_id FROM brute WHERE rank <= {TOPK_NEIGHBORS}),
s AS (
  SELECT vec_id, e,
         CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0 THEN 1.0
              ELSE list_max(list_transform(e, x -> abs(x))) END AS scale
  FROM v
),
q8 AS (
  SELECT vec_id,
         list_transform(e, x -> floor(x / scale * 127 + 0.5)) AS q
  FROM s
),
n8 AS (
  SELECT vec_id, q, sqrt(list_inner_product(q, q)) AS qn FROM q8
),
qs8 AS (SELECT vec_id AS query_id, q AS qq, qn AS q_norm FROM n8
        WHERE vec_id < {N_QUERY_VECS}),
i8 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY list_inner_product(qq, q) / (q_norm * qn) DESC,
                                       vec_id) AS rank
    FROM qs8 JOIN n8 ON vec_id <> query_id
  ) WHERE rank <= {TOPK_NEIGHBORS}
)
SELECT t.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_agree,
       CAST(COUNT(i.neighbor_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS overlap_at_k
FROM truth t
LEFT JOIN i8 i
  ON i.query_id = t.query_id AND i.neighbor_id = t.neighbor_id
GROUP BY t.query_id
"""


@query("ann_quantization_error_report", oracle=_quant_error_oracle())
def ann_quantization_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-error audit: per query, how much of the EXACT
    float top-k survives int8 quantization (top-k overlap) — the
    fourth approximation audit (LSH recall, IVF recall, sketch error,
    now quantization agreement), and the number that justifies the
    4x-smaller-bytes lever before a billion-vector corpus commits to
    it. Both rankings come from the engine's own operators; hits are
    exact integers, the overlap is one IEEE division.

    Scale: both sides broadcast the bounded query set, the corpus
    never shuffles; run the truth side on a sampled query stratum at
    scale (the audit family's standing prescription)."""
    emb = table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    truth = similarity.cosine_topk_bruteforce(emb, qs, k=TOPK_NEIGHBORS).select(
        "query_id", "neighbor_id"
    )
    approx = (
        similarity.int8_topk(emb, qs, k=TOPK_NEIGHBORS)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    joined = truth.join(approx, ["query_id", "neighbor_id"], "left")
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_truth"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_agree"),
        (
            F.coalesce(F.sum("hit"), F.lit(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("overlap_at_k"),
    )


# ---------------------------------------------------------------------------
# pairgen_hard_negatives — ANN hard-negative mining for contrastive training
# ---------------------------------------------------------------------------

#: Anchors = the smallest doc ids (a deterministic stand-in for "the
#: batch being trained on"); each gets its top hard negatives.
HARDNEG_N_ANCHORS = 8
HARDNEG_TOPK = 3


def _hardneg_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
dvec AS (
  SELECT doc_id, {_rrf_dim_sql('tok')} AS dim,
         SUM({_rrf_sign_sql('tok')}) AS w
  FROM toks GROUP BY doc_id, dim
),
digest AS (SELECT doc_id, md5(text) AS dg FROM documents),
avec AS (
  SELECT doc_id AS anchor_id, dim, w FROM dvec
  WHERE doc_id < {HARDNEG_N_ANCHORS}
),
scored AS (
  SELECT a.anchor_id, d.doc_id AS cand_id, SUM(a.w * d.w) AS dot
  FROM avec a JOIN dvec d USING (dim)
  WHERE d.doc_id <> a.anchor_id
  GROUP BY 1, 2
),
dedup AS (
  SELECT s.anchor_id, s.cand_id, s.dot
  FROM scored s
  JOIN digest da ON da.doc_id = s.anchor_id
  JOIN digest dc ON dc.doc_id = s.cand_id
  WHERE da.dg <> dc.dg
),
ranked AS (
  SELECT anchor_id, cand_id, dot,
         ROW_NUMBER() OVER (PARTITION BY anchor_id
                            ORDER BY dot DESC, cand_id) AS rank
  FROM dedup
)
SELECT anchor_id, cand_id AS hard_negative_id,
       CAST(rank AS BIGINT) AS rank, CAST(dot AS BIGINT) AS dot
FROM ranked WHERE rank <= {HARDNEG_TOPK}
"""


@query("pairgen_hard_negatives", oracle=_hardneg_oracle())
def pairgen_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for each anchor document, the top
    most-similar documents that are NOT duplicates (exact-digest
    exclusion) — the contrastive-training stage where random
    negatives stop teaching and the nearest NON-matches are what the
    embedding model must learn to separate. Similarity is the
    signed-feature-hash inner product (same md5 family as the RRF
    dense ranker — all-integer, engine-portable); duplicates are
    excluded by md5 text digest so a near-copy can never be served as
    a negative.

    Scale: the anchor batch's vectors broadcast (|anchors| x 64
    weights); the corpus side is one groupBy on (doc, dim) that never
    moves raw text; ranking is a per-anchor WindowGroupLimit. At
    100 TB the anchor batch is your training micro-batch — the corpus
    scan amortizes across it.
    """
    from protarrow_spark.functions.text import tokens as ws_tokens
    from protarrow_spark.operators.sketches import hex_to_long

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("tok"))

    def dim(col):
        return hex_to_long(F.md5(F.concat(F.lit("rrf|"), col)), 15) % RRF_DENSE_DIM

    def sign(col):
        h = hex_to_long(F.md5(F.concat(F.lit("rrfs|"), col)), 15)
        return F.when(h % 2 == 1, F.lit(1)).otherwise(F.lit(-1))

    dvec = toks.groupBy("doc_id", dim(F.col("tok")).alias("dim")).agg(
        F.sum(sign(F.col("tok"))).alias("w")
    )
    digest = docs.select("doc_id", F.md5("text").alias("dg"))
    avec = dvec.filter(F.col("doc_id") < HARDNEG_N_ANCHORS).select(
        F.col("doc_id").alias("anchor_id"), "dim", F.col("w").alias("aw")
    )
    scored = (
        dvec.join(F.broadcast(avec), "dim")
        .filter(F.col("doc_id") != F.col("anchor_id"))
        .groupBy("anchor_id", F.col("doc_id").alias("cand_id"))
        .agg(F.sum(F.col("aw") * F.col("w")).alias("dot"))
    )
    deduped = (
        scored.join(
            F.broadcast(
                digest.filter(F.col("doc_id") < HARDNEG_N_ANCHORS).select(
                    F.col("doc_id").alias("anchor_id"), F.col("dg").alias("a_dg")
                )
            ),
            "anchor_id",
        )
        .join(
            digest.select(F.col("doc_id").alias("cand_id"), F.col("dg").alias("c_dg")),
            "cand_id",
        )
        .filter(F.col("a_dg") != F.col("c_dg"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("anchor_id").orderBy(F.desc("dot"), F.asc("cand_id"))
    return (
        deduped.select("anchor_id", "cand_id", "dot")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HARDNEG_TOPK)
        .select(
            "anchor_id",
            F.col("cand_id").alias("hard_negative_id"),
            F.col("rank").cast("long").alias("rank"),
            F.col("dot").cast("long").alias("dot"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_threshold_sweep — pair volume per Jaccard band (the tuning table)
# ---------------------------------------------------------------------------

#: Sweep floor: pairs below this Jaccard are noise for dedup tuning
#: (and their count grows toward n^2 — the floor bounds the report's
#: input, the same role the LSH banding plays in production).
SWEEP_MIN_JACCARD = 0.1

#: Stratum modulus for the sampled sweep (same md5 doc-stratum device
#: as dedup_lsh_recall_sampled): keep docs with md5-key ≡ 0 (mod M);
#: pair volume shrinks ~1/M² while per-band SHARES stay unbiased.
SWEEP_SAMPLE_MOD = 2


def _threshold_sweep_oracle(sample_mod: int | None = None) -> str:
    stratum = "" if sample_mod is None else _doc_stratum_sql(sample_mod) + ",\n"
    toks_src = "documents" if sample_mod is None else "sdocs"
    return f"""
WITH {stratum}{_toks_cte(toks_src)},
{_grams_cte(JACCARD_N)},
dgh AS (
  SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS g FROM dg
),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM dgh GROUP BY doc_id),
rare AS (SELECT g FROM dgh GROUP BY g HAVING COUNT(*) <= {dedup.MAX_SHINGLE_DF}),
rdg AS (SELECT dgh.doc_id, dgh.g FROM dgh JOIN rare USING (g)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM rdg a JOIN rdg b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
banded AS (
  SELECT (20 * n_common) // (sa.n_grams + sb.n_grams - n_common) AS band
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - n_common)
        >= {SWEEP_MIN_JACCARD}
),
counts AS (SELECT band, COUNT(*) AS n_pairs FROM banded GROUP BY 1)
SELECT CAST(band AS BIGINT) AS band,
       CAST(band AS DOUBLE) / 20.0 AS threshold_lo,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(SUM(n_pairs) OVER (ORDER BY band DESC) AS BIGINT)
         AS n_pairs_at_or_above
FROM counts
"""


def _threshold_sweep(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    """Shared body of the full / hash-sampled threshold sweeps."""
    docs = table(spark, sf_dir, "documents")
    if sample_mod is not None:
        key = F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("bigint")
        docs = docs.filter(key % sample_mod == 0)
    # Banding is pushed INTO the dense pair stage (operators/dedup.py
    # jaccard_band_counts): each block-pair matmul task emits its own
    # ~20-row band histogram, so the ~12M-pair stream (sf0.1) never
    # crosses the Arrow boundary or a shuffle — only histogram rows do.
    counts = dedup.jaccard_band_counts(
        docs,
        "doc_id",
        "text",
        threshold=SWEEP_MIN_JACCARD,
        n=JACCARD_N,
        dense_vocab_cap=4096,
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("band"))
    return counts.select(
        F.col("band").cast("long").alias("band"),
        (F.col("band").cast("double") / F.lit(20.0)).alias("threshold_lo"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.sum("n_pairs").over(w).cast("long").alias("n_pairs_at_or_above"),
    )


@query("dedup_threshold_sweep", oracle=_threshold_sweep_oracle())
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold tuning table: how many candidate pairs fall in
    each Jaccard band of 0.05, with the cumulative count at-or-above
    each band — the table you read BEFORE picking the LSH/dedup
    threshold (each band's cumulative count is the number of pairs
    that threshold would merge; the knee is where boilerplate overlap
    ends and real duplication begins). Banding is exact integer
    arithmetic ((20*n_common) div union — no float boundary
    ambiguity); the same df-capped index as dedup_ngram_jaccard, so
    the sweep describes exactly the index the dedup queries run.

    Scale: the pair stage is the adaptive dense-blocked matmul (or
    the sparse inverted-index join on real text); the report itself
    is a ~20-row aggregate + window. The pair stage is pair-volume-
    bound — at 100 TB run dedup_threshold_sweep_sampled (the
    registered md5 doc-stratum form, ~1/M² the pair work) instead."""
    return _threshold_sweep(spark, sf_dir, sample_mod=None)


@query(
    "dedup_threshold_sweep_sampled",
    oracle=_threshold_sweep_oracle(sample_mod=SWEEP_SAMPLE_MOD),
)
def dedup_threshold_sweep_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The threshold-tuning sweep on a deterministic md5 doc stratum —
    the form that runs at 100 TB. Pair inclusion is independent
    doc-level inclusion on both endpoints (exactly the
    dedup_lsh_recall_sampled argument), so each band's EXPECTED pair
    count scales by 1/M² uniformly across bands: the per-band SHARES —
    the only thing threshold tuning reads (the knee's position) — are
    unbiased estimates of the full sweep's, at a fraction of the
    pair-stage cost. Tracking vs the full sweep is pinned at sf0.01
    by tests/test_threshold_sweep_sampling.py.

    Scale: the stratum predicate is a scan-level filter pushed below
    the shingle explode; the quadratic pair stage shrinks ~1/M².
    """
    return _threshold_sweep(spark, sf_dir, sample_mod=SWEEP_SAMPLE_MOD)


# ---------------------------------------------------------------------------
# Round-10 additions: exact substring dedup (char-level), margin-based
# bitext mining, Heaps'-law vocabulary growth, TF-IDF keywords.
# ---------------------------------------------------------------------------

_SUBL = dedup.SUBSTRING_WINDOW


@query(
    "dedup_substring_windows",
    oracle=f"""
WITH d AS (
  SELECT doc_id, text FROM documents WHERE length(text) >= {_SUBL}
),
w AS (
  SELECT doc_id,
         unnest([substr(text, i, {_SUBL})
                 for i in range(1, length(text) - {_SUBL} + 2)]) AS sub
  FROM d
),
dup AS (
  SELECT sub FROM (SELECT DISTINCT doc_id, sub FROM w)
  GROUP BY sub HAVING COUNT(*) >= 2
),
hits AS (
  SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
  FROM w JOIN dup USING (sub) GROUP BY w.doc_id
)
SELECT d.doc_id,
       CAST(length(d.text) - {_SUBL} + 1 AS BIGINT) AS n_windows,
       CAST(COALESCE(hits.n_dup, 0) AS BIGINT) AS n_dup_windows,
       CAST(COALESCE(hits.n_dup, 0) * 1000
            // (length(d.text) - {_SUBL} + 1) AS BIGINT) AS dup_millis
FROM d LEFT JOIN hits USING (doc_id)
""",
)
def dedup_substring_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level exact-substring dedup profile (the Lee et al.
    2022 suffix-array pass, fixed window size): per document, the
    fraction of sliding 32-char window positions whose text occurs
    verbatim in another document. Not in the reference (a conversion
    library, SURVEY §2.2) — north-star LLM-pipeline operator."""
    return dedup.substring_window_profile(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    )


#: Second window length for the multi-scale substring profile: the
#: long scale (2x the base 32) separates short boilerplate snippets
#: (duplicated at 32 but not 64) from long verbatim runs (duplicated
#: at both) — a 2-point approximation of the length-free Lee et al.
#: suffix-array pass.
_SUBL2 = 2 * dedup.SUBSTRING_WINDOW

#: Stride for the sampled substring profile: every 4th alignment, a
#: ~4x smaller window stream that still detects every duplicated run
#: >= window + stride - 1 = 35 chars.
SUBSTRING_STRIDE = 4


@query(
    "dedup_substring_windows_sampled",
    oracle=f"""
WITH d AS (
  SELECT doc_id, text FROM documents WHERE length(text) >= {_SUBL}
),
w AS (
  SELECT doc_id,
         unnest([substr(text, i, {_SUBL})
                 for i in range(1, length(text) - {_SUBL} + 2,
                                {SUBSTRING_STRIDE})]) AS sub
  FROM d
),
dup AS (
  SELECT sub FROM (SELECT DISTINCT doc_id, sub FROM w)
  GROUP BY sub HAVING COUNT(*) >= 2
),
hits AS (
  SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
  FROM w JOIN dup USING (sub) GROUP BY w.doc_id
),
nw AS (
  SELECT doc_id,
         (length(text) - {_SUBL}) // {SUBSTRING_STRIDE} + 1 AS n_windows
  FROM d
)
SELECT nw.doc_id,
       CAST(nw.n_windows AS BIGINT) AS n_windows,
       CAST(COALESCE(hits.n_dup, 0) AS BIGINT) AS n_dup_windows,
       CAST(COALESCE(hits.n_dup, 0) * 1000 // nw.n_windows AS BIGINT)
         AS dup_millis
FROM nw LEFT JOIN hits USING (doc_id)
""",
)
def dedup_substring_windows_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE form of dedup_substring_windows (the
    threshold_sweep_sampled pattern): stride-{SUBSTRING_STRIDE}
    window alignments on BOTH the probe and index sides, a ~4x
    smaller window stream that still flags every duplicated run of
    at least window + stride - 1 chars — the knob a 100 TB run turns
    instead of paying every alignment. Duplication rates are reported
    against the SAMPLED position count, so dup_millis stays a
    comparable parts-per-1000 profile."""
    return dedup.substring_window_profile(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        stride=SUBSTRING_STRIDE,
    )


def _substring_oracle_block(length: int, sfx: str) -> str:
    """One window length's per-doc duplication profile CTEs, suffixed
    so two scales coexist in one statement (mirrors
    dedup_substring_windows' oracle with a window_len label)."""
    return f"""d{sfx} AS (
  SELECT doc_id, text FROM documents WHERE length(text) >= {length}
),
w{sfx} AS (
  SELECT doc_id,
         unnest([substr(text, i, {length})
                 for i in range(1, length(text) - {length} + 2)]) AS sub
  FROM d{sfx}
),
dup{sfx} AS (
  SELECT sub FROM (SELECT DISTINCT doc_id, sub FROM w{sfx})
  GROUP BY sub HAVING COUNT(*) >= 2
),
hits{sfx} AS (
  SELECT w{sfx}.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
  FROM w{sfx} JOIN dup{sfx} USING (sub) GROUP BY w{sfx}.doc_id
),
rep{sfx} AS (
  SELECT CAST({length} AS BIGINT) AS window_len, d{sfx}.doc_id,
         CAST(length(d{sfx}.text) - {length} + 1 AS BIGINT) AS n_windows,
         CAST(COALESCE(hits{sfx}.n_dup, 0) AS BIGINT) AS n_dup_windows,
         CAST(COALESCE(hits{sfx}.n_dup, 0) * 1000
              // (length(d{sfx}.text) - {length} + 1) AS BIGINT) AS dup_millis
  FROM d{sfx} LEFT JOIN hits{sfx} USING (doc_id)
)"""


@query(
    "dedup_substring_multiscale",
    oracle=f"""
WITH {_substring_oracle_block(dedup.SUBSTRING_WINDOW, "_s")},
{_substring_oracle_block(_SUBL2, "_l")}
SELECT * FROM rep_s UNION ALL SELECT * FROM rep_l
""",
)
def dedup_substring_multiscale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-scale exact-substring dedup profile: the fixed-window
    pass (dedup_substring_windows) run at TWO window lengths (32 and
    64 chars) and stacked with a window_len label — a 2-point
    approximation of the length-free Lee et al. 2022 suffix-array
    dedup. A document duplicated at 32 but NOT at 64 carries short
    boilerplate snippets (navigation chrome, license headers); one
    duplicated at both carries long verbatim runs (true copies) —
    the distinction drives remove-the-span vs remove-the-document
    decisions downstream.

    Scale: two independent window streams (~chars/stride rows each,
    the documented suffix-array-equivalent amplification), each with
    the bounded two-level segment expansion; they never join each
    other — the stack is a unionByName of two per-doc rollups."""
    docs = table(spark, sf_dir, "documents")
    parts = []
    for length in (dedup.SUBSTRING_WINDOW, _SUBL2):
        parts.append(
            dedup.substring_window_profile(
                docs, "doc_id", "text", length=length
            ).select(
                F.lit(length).cast("long").alias("window_len"),
                "doc_id",
                "n_windows",
                "n_dup_windows",
                "dup_millis",
            )
        )
    return parts[0].unionByName(parts[1])


@query(
    "report_contamination_direction",
    oracle=f"""
WITH {_toks_cte()},
{_grams_cte(DECON_N)},
ev AS (SELECT doc_id, g FROM dg WHERE doc_id % {DECON_EVAL_MOD} = 0),
tr AS (SELECT doc_id, g FROM dg WHERE doc_id % {DECON_EVAL_MOD} <> 0),
eval_set AS (SELECT DISTINCT g FROM ev),
train_hits AS (SELECT tr.doc_id, tr.g FROM tr JOIN eval_set USING (g)),
shared AS (SELECT DISTINCT g FROM train_hits),
tr_sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM tr GROUP BY doc_id),
tr_rep AS (
  SELECT 'train_gram_in_eval' AS direction, h.doc_id,
         CAST(s.n_grams AS BIGINT) AS n_grams,
         CAST(COUNT(*) AS BIGINT) AS n_shared,
         CAST(COUNT(*) * 1000 // s.n_grams AS BIGINT) AS containment_millis
  FROM train_hits h JOIN tr_sizes s USING (doc_id)
  GROUP BY h.doc_id, s.n_grams
),
ev_rep AS (
  SELECT 'eval_gram_in_train' AS direction, e.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(COUNT(sh.g) AS BIGINT) AS n_shared,
         CAST(COUNT(sh.g) * 1000 // COUNT(*) AS BIGINT) AS containment_millis
  FROM ev e LEFT JOIN shared sh USING (g)
  GROUP BY e.doc_id
)
SELECT * FROM tr_rep UNION ALL SELECT * FROM ev_rep
""",
)
def report_contamination_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination DIRECTION audit: text_decontaminate tells you
    WHICH training docs share eval n-grams; this reports the
    asymmetry that decides what to do about it. Per contaminated
    TRAIN doc: what fraction of ITS distinct {DECON_N}-grams lie in
    the eval set (high -> the train doc is essentially an eval copy
    — drop it). Per EVAL doc (all of them, clean ones at 0): what
    fraction of its grams occur anywhere in train (high -> the
    benchmark itself leaked — distrust the score, whatever you drop
    from train). The same pair can legitimately score high one way
    and low the other (a benchmark quoted inside a much larger train
    doc), which is exactly why one-directional containment audits
    misjudge.

    Scale: the eval gram set is benchmark-sized and BROADCASTS (the
    text_decontaminate topology); train never shuffles for the match
    — only the per-train-doc gram counts pay one map-side-combined
    doc-keyed aggregation. The shared-gram set (bounded by the eval
    set) broadcasts back onto the eval grams for the reverse
    direction. Output: direction, doc_id, n_grams (distinct grams of
    the doc), n_shared, containment_millis (exact integer millis).
    """
    docs = table(spark, sf_dir, "documents")
    # Five consumers read the shingle stream (eval gram set, both
    # train-hit branches, train sizes, the eval-side rollup) —
    # materialize it once (r13 opt): uncheckpointed, every action
    # replays the scan+explode+distinct per consumer.
    grams = materialize(dedup.doc_shingles(docs, "doc_id", "text", DECON_N))
    is_eval = F.col("doc_id") % DECON_EVAL_MOD == 0
    ev = grams.filter(is_eval)
    tr = grams.filter(~is_eval)
    eval_set = ev.select("g").distinct()
    train_hits = tr.join(F.broadcast(eval_set), "g")
    shared = train_hits.select("g").distinct()
    tr_sizes = tr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    tr_rep = (
        train_hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .join(tr_sizes, "doc_id")
        .select(
            F.lit("train_gram_in_eval").alias("direction"),
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            "n_shared",
            F.expr("n_shared * 1000 div n_grams")
            .cast("long")
            .alias("containment_millis"),
        )
    )
    ev_rep = (
        ev.join(
            F.broadcast(shared.withColumn("__hit", F.lit(1))), "g", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_shared"),
        )
        .select(
            F.lit("eval_gram_in_train").alias("direction"),
            "doc_id",
            "n_grams",
            "n_shared",
            F.expr("n_shared * 1000 div n_grams")
            .cast("long")
            .alias("containment_millis"),
        )
    )
    return tr_rep.unionByName(ev_rep)


_MK = similarity.MARGIN_TOPK
_MT = similarity.MARGIN_THRESHOLD
#: Query-set selector for margin mining: a bounded, broadcastable
#: slice of the embedding corpus (every 50th id); the rest is the
#: search corpus.
MARGIN_QUERY_MOD = 50


def _margin_oracle() -> str:
    csum = " + ".join(f"c{i + 1}" for i in range(_MK))
    cpiv = ",\n         ".join(
        f"MAX(CASE WHEN rn={i + 1} THEN cosine END) AS c{i + 1}" for i in range(_MK)
    )
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS src_id, e AS qe FROM v WHERE vec_id % {MARGIN_QUERY_MOD} = 0),
c AS (SELECT vec_id AS tgt_id, e FROM v WHERE vec_id % {MARGIN_QUERY_MOD} <> 0),
scored AS (
  SELECT src_id, tgt_id,
         list_dot_product(qe, e)
           / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))) AS cosine
  FROM q CROSS JOIN c
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY cosine DESC, tgt_id) AS rn
  FROM scored
),
piv AS (
  SELECT src_id,
         MAX(CASE WHEN rn=1 THEN tgt_id END) AS tgt_id,
         {cpiv}
  FROM ranked WHERE rn <= {_MK} GROUP BY src_id
)
SELECT src_id, tgt_id, c1 AS cos_top1,
       c1 / (({csum}) / {float(_MK)}) AS margin,
       c1 / (({csum}) / {float(_MK)}) >= {_MT} AS accepted
FROM piv
"""


@query("pairgen_bitext_margin", oracle=_margin_oracle())
def pairgen_bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based pair mining (Artetxe & Schwenk 2019) between two
    embedding sets: top-1 cosine normalized by the top-k neighborhood
    mean, accepted when the ratio margin clears the threshold. The
    exact/audit form — the broadcast query slice scans the corpus once
    (see operators/similarity.py margin_topk_pairs for the 100 TB
    candidate-index variant)."""
    emb = table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % MARGIN_QUERY_MOD == 0)
    corpus = emb.filter(F.col("vec_id") % MARGIN_QUERY_MOD != 0)
    return similarity.margin_topk_pairs(corpus, qs)


_GS = text.GROWTH_STEPS


@query(
    "report_heaps_law",
    oracle=f"""
WITH m AS (SELECT MAX(doc_id) AS max_id FROM documents),
b AS (
  SELECT CAST(k AS BIGINT) AS k, CAST((k * max_id) // {_GS} AS BIGINT) AS bound
  FROM m, range(1, {_GS} + 1) t(k)
),
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
first AS (SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok),
v AS (
  SELECT k, bound, CAST(COUNT(*) AS BIGINT) AS distinct_tokens
  FROM first JOIN b ON first_doc <= bound GROUP BY k, bound
),
dt AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
tt AS (
  SELECT k, bound, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n) AS BIGINT) AS total_tokens
  FROM dt JOIN b ON doc_id <= bound GROUP BY k, bound
)
SELECT tt.k, tt.bound, tt.n_docs, tt.total_tokens, v.distinct_tokens
FROM tt JOIN v USING (k, bound)
""",
)
def report_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve: distinct tokens vs
    cumulative corpus size at 8 checkpoints over the doc-id range —
    corpus-composition diagnostic for a training-data pipeline."""
    return text.vocab_growth(table(spark, sf_dir, "documents"), "doc_id", "text")


_KWK = text.KEYWORDS_PER_GROUP


@query(
    "text_keyword_tfidf",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT source, tok, COUNT(*) AS tf FROM toks GROUP BY source, tok),
docfreq AS (
  SELECT tok, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM toks)
  GROUP BY tok
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
kept AS (SELECT tok, df FROM docfreq CROSS JOIN n WHERE df * 2 <= n_docs),
scored AS (
  SELECT source, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
         CAST(tf * 1000000 // df AS BIGINT) AS score_micro
  FROM tf JOIN kept USING (tok)
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY source ORDER BY score_micro DESC, tok) AS BIGINT) AS rank
  FROM scored
)
SELECT source, rank, tok, tf, df, score_micro FROM ranked WHERE rank <= {_KWK}
""",
)
def text_keyword_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic keywords per source by exact-integer
    TF-IDF (tokens in more than half the corpus documents excluded as
    stopwords) — topic labeling / source characterization for corpus
    curation."""
    return text.tfidf_keywords(
        table(spark, sf_dir, "documents"), "doc_id", "text", "source"
    )


@query(
    "sample_downweight_duplicates",
    oracle=f"""
{_cc_assign_ctes()},
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM assign GROUP BY cluster_id
)
SELECT doc_id, cluster_id, cluster_size,
       CAST(1000000 // cluster_size AS BIGINT) AS weight_ppm,
       doc_id = cluster_id AS is_canonical
FROM assign JOIN sizes USING (cluster_id)
""",
)
def sample_downweight_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup — duplicate-aware sampling weights: instead of
    dropping near-duplicates, every document in a duplicate cluster
    gets weight 1/cluster_size (integer ppm), so each cluster
    contributes one document's worth of probability mass to training
    sampling regardless of how many copies crawled in — the
    downweight-don't-delete dedup policy. ``is_canonical`` marks the
    cluster representative for pipelines that keep-one instead.

    Scale: the cluster assignment is the pointer-jumping CC the dedup
    collapse already runs; sizes are counted on the COMPONENT table
    (nodes that touch an edge — the checkpointed CC output, orders of
    magnitude smaller than the corpus) rather than on the per-doc
    assignment, so the doc table is scanned and joined exactly once
    and the only |docs|-sized shuffle left is that single join. The
    former shape grouped the assignment by cluster_id and joined it
    back, re-executing the docs-join subtree and shuffling |docs|
    rows twice (r13 opt, guide §2.3: aggregate the small proxy, not
    the payload). Identical output: every component member is a doc,
    so component sizes equal assignment group sizes, and docs outside
    the edge graph are singletons of size 1 (their doc_id can never
    collide with a component id, which is a min over edge nodes)."""
    from protarrow_spark.operators.graph import connected_components

    docs = table(spark, sf_dir, "documents")
    edges = dedup.minhash_lsh_pairs(docs, "doc_id", "text").select("doc_a", "doc_b")
    comp = connected_components(edges, "doc_a", "doc_b")
    csize = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("__csize")
    )
    return (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .join(csize, "component", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
            F.coalesce("__csize", F.lit(1)).cast("long").alias("cluster_size"),
            F.expr("1000000 div coalesce(__csize, 1)").cast("long").alias("weight_ppm"),
            (F.col("doc_id") == F.coalesce("component", F.col("doc_id"))).alias(
                "is_canonical"
            ),
        )
    )


@query(
    "sample_downweight_cluster_sizes",
    oracle=f"""
{_cc_assign_ctes()}
SELECT cluster_id,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       CAST(1000000 // COUNT(*) AS BIGINT) AS weight_ppm
FROM assign GROUP BY cluster_id
""",
)
def sample_downweight_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level form of the downweight-don't-delete dedup
    policy: one row per duplicate cluster with its size and 1/size
    sampling weight (integer ppm) — WITHOUT the per-document
    join-back. This is the shape a mixing pipeline actually consumes
    (it samples cluster representatives by weight, or broadcast-maps
    doc->weight from this compact table); the per-doc sibling
    ``sample_downweight_duplicates`` exists for pipelines that need
    the weight ON every document row.

    Scale: ends at the cluster-keyed count — the r10 decade audit
    measured the per-doc form at 4.4x/decade, dominated by the THREE
    SortMergeJoins the join-back adds downstream of the
    pointer-jumping connected components; stopping at the rollup
    drops that entire tail (output is |clusters| rows, not |docs|),
    so the slope reverts to the CC stage's own."""
    from protarrow_spark.operators.graph import connected_components

    docs = table(spark, sf_dir, "documents")
    edges = dedup.minhash_lsh_pairs(docs, "doc_id", "text").select("doc_a", "doc_b")
    # r14 (guide §2.3/§2.4 — same device as the per-doc sibling's r13
    # fix, taken one step further): cluster sizes come from the
    # COMPONENT table (nodes that touch an edge — tiny vs the corpus),
    # and the singleton rows are the docs anti-joined against it
    # (broadcastable component side ⇒ no corpus shuffle at all). The
    # former shape joined every doc to its component and re-grouped
    # the |docs|-sized assignment by cluster_id — a full corpus
    # exchange whose groups were almost all singletons. Identical
    # output: component members' cluster sizes equal assignment group
    # sizes (component ids are mins over member doc ids, so they never
    # collide with a non-member doc_id), and every other doc is its
    # own cluster of size 1.
    comp = connected_components(edges, "doc_a", "doc_b")
    members = (
        comp.groupBy(F.col("component").alias("cluster_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
        .select(
            "cluster_id",
            "cluster_size",
            F.expr("1000000 div cluster_size").cast("long").alias("weight_ppm"),
        )
    )
    singles = (
        docs.select("doc_id")
        .join(comp.select(F.col("node").alias("doc_id")), "doc_id", "left_anti")
        .select(
            F.col("doc_id").alias("cluster_id"),
            F.lit(1).cast("long").alias("cluster_size"),
            F.lit(1000000).cast("long").alias("weight_ppm"),
        )
    )
    return members.unionByName(singles)


@query(
    "text_char_entropy",
    oracle="""
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
),
cc AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch),
lens AS (SELECT doc_id, length(text) AS n FROM documents),
bits AS (
  SELECT cc.doc_id, cc.c,
         CAST(length(bin(lens.n // cc.c)) - 1 AS BIGINT) AS b
  FROM cc JOIN lens USING (doc_id)
)
SELECT lens.doc_id,
       CAST(lens.n AS BIGINT) AS n_chars,
       CAST(COUNT(*) AS BIGINT) AS distinct_chars,
       CAST(SUM(bits.c * bits.b) * 1000 // lens.n AS BIGINT)
         AS entropy_millibits
FROM bits JOIN lens USING (doc_id)
GROUP BY lens.doc_id, lens.n
""",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level unigram entropy per document, in exact integer
    bits: per character class, self-information is the INTEGER
    floor(log2(n/c)) = length(bin(n div c)) - 1 (the same no-libm
    construction as score_unigram_surprisal, applied within-document
    at char level); the per-char average is reported in millibits.
    Low entropy flags repetitive/templated garbage, high entropy flags
    base64/binary spill — the char-level quality gate that token-level
    scoring misses.

    Scale: one shuffle of the (doc, char-class) stream (alphabet-
    bounded per doc — partial map-side combine collapses the ~chars
    rows to <= |alphabet| per doc before the wire), then a doc-keyed
    rollup."""
    docs = table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    )
    cc = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    lens = docs.select("doc_id", F.length("text").alias("n"))
    bits = cc.join(lens, "doc_id").select(
        "doc_id",
        "n",
        "c",
        (F.length(F.bin(F.expr("n div c"))) - 1).cast("long").alias("b"),
    )
    return bits.groupBy("doc_id", "n").agg(
        F.count(F.lit(1)).cast("long").alias("distinct_chars"),
        F.expr("sum(c * b) * 1000 div first(n)").cast("long").alias("__em"),
    ).select(
        "doc_id",
        F.col("n").cast("long").alias("n_chars"),
        "distinct_chars",
        F.col("__em").alias("entropy_millibits"),
    )


def _pq_ctes(m_: int | None = None, k_: int | None = None, sfx: str = "") -> str:
    """Shared PQ CTE block (assumes a ``v(vec_id, e)`` CTE is already
    defined): int8 quantization, md5-ranked sampled codebook, subspace
    views, integer-L2 encode -> ``codes{sfx}(vec_id, m, j)`` plus the
    ``subv{sfx}``/``cbs{sfx}`` subvector views for ADC scoring.
    ``sfx`` suffixes every CTE name so two configs (the recall
    report's comparison row) can coexist in one statement; the suffix
    is threaded through the f-string template directly — never a
    post-hoc regex rename, which silently corrupted any bare token
    that happened to match a one-letter CTE name."""
    m_ = m_ if m_ is not None else similarity.PQ_M
    k_ = k_ if k_ is not None else similarity.PQ_K
    sub = 64 // m_
    s, q8, rcb, cb, mm, subv, cbs, enc, codes = (
        f"{n}{sfx}"
        for n in ("s", "q8", "ranked_cb", "cb", "mm", "subv", "cbs", "enc",
                  "codes")
    )
    return f"""{s} AS (
  SELECT vec_id, e,
         CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0 THEN 1.0
              ELSE list_max(list_transform(e, x -> abs(x))) END AS scale
  FROM v
),
{q8} AS (
  SELECT vec_id,
         list_transform(e, x -> CAST(floor(x / scale * 127 + 0.5) AS BIGINT)) AS q
  FROM {s}
),
{rcb} AS (
  SELECT vec_id, q,
         ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j
  FROM {q8}
),
{cb} AS (SELECT j, q FROM {rcb} WHERE j < {k_}),
{mm} AS (SELECT unnest(range({m_})) AS m),
{subv} AS (SELECT vec_id, m, q[m*{sub}+1 : m*{sub}+{sub}] AS x
           FROM {q8} CROSS JOIN {mm}),
{cbs} AS (SELECT j, m, q[m*{sub}+1 : m*{sub}+{sub}] AS c
          FROM {cb} CROSS JOIN {mm}),
{enc} AS (
  SELECT {subv}.vec_id, {subv}.m, {cbs}.j,
         ROW_NUMBER() OVER (
           PARTITION BY {subv}.vec_id, {subv}.m
           ORDER BY list_inner_product({subv}.x, {subv}.x)
                    - 2 * list_inner_product({subv}.x, {cbs}.c)
                    + list_inner_product({cbs}.c, {cbs}.c),
                    {cbs}.j) AS rn
  FROM {subv} JOIN {cbs} USING (m)
),
{codes} AS (SELECT vec_id, m, j FROM {enc} WHERE rn = 1)"""


def _pq_oracle() -> str:
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
{_pq_ctes()},
qsx AS (SELECT vec_id AS query_id, m, x AS qx FROM subv
        WHERE vec_id < {N_QUERY_VECS}),
adc AS (
  SELECT query_id, codes.vec_id AS neighbor_id,
         CAST(SUM(list_inner_product(qsx.qx, cbs.c)) AS BIGINT) AS score_pq
  FROM codes
  JOIN cbs USING (m, j)
  JOIN qsx USING (m)
  WHERE codes.vec_id <> query_id
  GROUP BY 1, 2
),
r AS (
  SELECT query_id, neighbor_id, score_pq,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_pq DESC, neighbor_id) AS rank
  FROM adc
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, score_pq
FROM r WHERE rank <= {TOPK_NEIGHBORS}
"""


@query("ann_pq_topk", oracle=_pq_oracle())
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (ADC scoring) — 8-byte codes per
    vector, exact-integer codebook/encode/score so the whole index is
    hash-verifiable (operators/similarity.py pq_topk). Completes the
    ANN family's memory axis: brute float -> int8 -> IVF cells ->
    PQ codes."""
    emb = table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return similarity.pq_topk(emb, qs, k=TOPK_NEIGHBORS)


#: PQ recall audit depth: overlap@10 is stable where overlap@3 on an
#: 8-byte code would be all-or-nothing noise.
PQ_AUDIT_K = 10

#: The recall report's 2-config comparison: the shipping 8-byte-code
#: config vs the 2x-bytes/2x-codebook one — measured on the gate data
#: the lift is ~0.41 -> ~0.63 recall@10, the classic codes-bytes vs
#: recall tradeoff every production PQ deployment tunes.
PQ_CFG_LO = "m8_k128"
PQ_CFG_HI = "m16_k256"
PQ_M_HI = 16
PQ_K_HI = 256


def _pq_recall_cfg_block(cfg: str, m_: int, k_: int, sfx: str) -> str:
    """One config's ADC ranking + per-query recall rows (vs the shared
    ``truth`` CTE), labelled with the config string."""
    return f"""{_pq_ctes(m_, k_, sfx)},
qsx{sfx} AS (SELECT vec_id AS query_id, m, x AS qx FROM subv{sfx}
        WHERE vec_id < {N_QUERY_VECS}),
adc{sfx} AS (
  SELECT query_id, codes{sfx}.vec_id AS neighbor_id,
         CAST(SUM(list_inner_product(qsx{sfx}.qx, cbs{sfx}.c)) AS BIGINT)
           AS score_pq
  FROM codes{sfx} JOIN cbs{sfx} USING (m, j) JOIN qsx{sfx} USING (m)
  WHERE codes{sfx}.vec_id <> query_id GROUP BY 1, 2
),
pqk{sfx} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score_pq DESC, neighbor_id) AS rank
    FROM adc{sfx}
  ) WHERE rank <= {PQ_AUDIT_K}
),
rep{sfx} AS (
  SELECT '{cfg}' AS config, t.query_id,
         CAST(COUNT(*) AS BIGINT) AS n_truth,
         CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_hits,
         CAST(COUNT(p.neighbor_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           AS recall_at_k
  FROM truth t
  LEFT JOIN pqk{sfx} p USING (query_id, neighbor_id)
  GROUP BY t.query_id
)"""


def _pq_recall_oracle() -> str:
    lo = _pq_recall_cfg_block(
        PQ_CFG_LO, similarity.PQ_M, similarity.PQ_K, "_lo"
    )
    hi = _pq_recall_cfg_block(PQ_CFG_HI, PQ_M_HI, PQ_K_HI, "_hi")
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {N_QUERY_VECS}),
brute AS (
  SELECT query_id, vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY {_COSINE_SQL} DESC, vec_id) AS rank
  FROM q JOIN v ON vec_id <> query_id
),
truth AS (SELECT query_id, neighbor_id FROM brute WHERE rank <= {PQ_AUDIT_K}),
{lo},
{hi}
SELECT * FROM rep_lo UNION ALL SELECT * FROM rep_hi
"""


@query("ann_pq_recall_report", oracle=_pq_recall_oracle())
def ann_pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@10 of the PQ (ADC) index against exact
    brute-force cosine truth, per query AND per config — the PQ
    member of the audit family (LSH recall, IVF recall, quantization
    error, sketch error). PQ codes are lossy BY DESIGN, so the index
    ships with its own measured error, and as a 2-CONFIG comparison
    row: the shipping 8-byte-code config (M=8, K=128) next to the
    2x-bytes one (M=16, K=256) — the codes-bytes vs recall tradeoff a
    production deployment tunes (measured ~0.41 vs ~0.63 recall@10 on
    the gate data). All rankings run the engine's own operators; hits
    are exact integers.

    Scale: the truth side is the linear scan — run it on a sampled
    query stratum at 100 TB (the standing audit prescription); the PQ
    sides are the broadcast-LUT scoring that never reads full
    vectors; truth is computed ONCE and joined against both configs.
    """
    emb = table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    # "truth is computed ONCE" made physical (r13 opt): both config
    # branches join against it, so without a barrier the brute-force
    # scan + per-query ranking executes twice per action. Bounded:
    # n_queries x k rows.
    truth = materialize(
        similarity.cosine_topk_bruteforce(emb, qs, k=PQ_AUDIT_K)
        .select("query_id", "neighbor_id")
    )
    reports = []
    for cfg, m_, k_ in (
        (PQ_CFG_LO, similarity.PQ_M, similarity.PQ_K),
        (PQ_CFG_HI, PQ_M_HI, PQ_K_HI),
    ):
        approx = (
            similarity.pq_topk(
                emb, qs, k=PQ_AUDIT_K, n_subspaces=m_, codebook_k=k_
            )
            .select("query_id", "neighbor_id")
            .withColumn("hit", F.lit(1))
        )
        joined = truth.join(approx, ["query_id", "neighbor_id"], "left")
        reports.append(
            joined.groupBy("query_id").agg(
                F.count(F.lit(1)).cast("long").alias("n_truth"),
                F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hits"),
                (
                    F.coalesce(F.sum("hit"), F.lit(0)).cast("double")
                    / F.count(F.lit(1)).cast("double")
                ).alias("recall_at_k"),
            ).select(F.lit(cfg).alias("config"), "*")
        )
    return reports[0].unionByName(reports[1])


def _ivfpq_oracle() -> str:
    cos = (
        "list_dot_product(a.e, ce) / "
        "(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(ce, ce)))"
    )
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cent AS (
  SELECT e AS ce, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cidx
  FROM v ORDER BY vec_id LIMIT {similarity.IVF_N_CELLS}
),
assign AS (
  SELECT vec_id, cidx,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY {cos} DESC, cidx
         ) AS rn
  FROM v a CROSS JOIN cent
),
cells AS (SELECT vec_id, cidx AS cell FROM assign WHERE rn = 1),
qcells AS (
  SELECT vec_id AS query_id, cidx AS cell FROM assign
  WHERE rn <= {similarity.IVF_NPROBE} AND vec_id < {N_QUERY_VECS}
),
{_pq_ctes()},
qsx AS (SELECT vec_id AS query_id, m, x AS qx FROM subv
        WHERE vec_id < {N_QUERY_VECS}),
adc AS (
  SELECT qc.query_id, cl.vec_id AS neighbor_id,
         CAST(SUM(list_inner_product(qsx.qx, cbs.c)) AS BIGINT) AS score_pq
  FROM qcells qc
  JOIN cells cl ON cl.cell = qc.cell AND cl.vec_id <> qc.query_id
  JOIN codes ON codes.vec_id = cl.vec_id
  JOIN cbs ON cbs.m = codes.m AND cbs.j = codes.j
  JOIN qsx ON qsx.query_id = qc.query_id AND qsx.m = codes.m
  GROUP BY 1, 2
),
r AS (
  SELECT query_id, neighbor_id, score_pq,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_pq DESC, neighbor_id) AS rank
  FROM adc
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, score_pq
FROM r WHERE rank <= {TOPK_NEIGHBORS}
"""


@query("ann_ivfpq_topk", oracle=_ivfpq_oracle())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN (operators/similarity.py ivfpq_topk) —
    the canonical billion-scale index: IVF cells bound candidates,
    8-byte PQ codes + integer ADC score them without touching full
    vectors; hash-verifiable end to end."""
    emb = table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return similarity.ivfpq_topk(emb, qs, k=TOPK_NEIGHBORS)


# ---------------------------------------------------------------------------
# sample_dsir_importance — DSIR data selection (r13 birth)
# ---------------------------------------------------------------------------

#: Hashed-feature space size for the DSIR importance models. 2^12
#: buckets: the per-distribution dimension tables are at most
#: 4096 rows REGARDLESS of corpus size (the paper uses 10^4-scale
#: hashed n-gram buckets), so both models broadcast everywhere.
DSIR_BUCKETS = 4096
#: The 'target' distribution: documents from this source play the
#: high-quality corpus (the paper's Wikipedia/books side); every
#: other source is the raw pool being scored.
DSIR_TARGET_SOURCE = "src1"
#: Resampling budget: how many raw documents the selection keeps.
DSIR_TOPN = 128


@query(
    "sample_dsir_importance",
    oracle=f"""
WITH tokb AS (
  SELECT doc_id, source,
         CAST('0x' || substr(md5('dsir|' || tok), 1, 15) AS BIGINT)
           % {DSIR_BUCKETS} AS b
  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        FROM documents)
),
tgt AS (SELECT b, COUNT(*) AS ct FROM tokb
        WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY b),
raw AS (SELECT b, COUNT(*) AS cs FROM tokb
        WHERE source <> '{DSIR_TARGET_SOURCE}' GROUP BY b),
tt AS (SELECT COALESCE(SUM(ct), 0) AS t_tgt FROM tgt),
tr AS (SELECT SUM(cs) AS t_raw FROM raw),
bits AS (
  SELECT raw.b,
         CAST(length(bin((t_tgt + {DSIR_BUCKETS}) // (COALESCE(ct, 0) + 1)))
              - 1 AS BIGINT) AS bits_t,
         CAST(length(bin((t_raw + {DSIR_BUCKETS}) // (cs + 1)))
              - 1 AS BIGINT) AS bits_s
  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tt CROSS JOIN tr
),
scored AS (
  SELECT tokb.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(bits_t) AS BIGINT) AS tgt_bits,
         CAST(SUM(bits_s) AS BIGINT) AS raw_bits,
         CAST(SUM(bits_s) - SUM(bits_t) AS BIGINT) AS llr_bits
  FROM tokb JOIN bits ON tokb.b = bits.b
  WHERE tokb.source <> '{DSIR_TARGET_SOURCE}'
  GROUP BY tokb.doc_id
)
SELECT doc_id, n_tokens, tgt_bits, raw_bits, llr_bits
FROM scored
ORDER BY llr_bits DESC, doc_id
LIMIT {DSIR_TOPN}
""",
)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection with Importance Resampling (Xie et al.
    2023, arXiv:2302.03169): score every raw-pool document by the
    log-likelihood ratio of two bag-of-hashed-features unigram models
    (target corpus vs raw corpus) and keep the top-N most target-like
    documents — the standard automatic 'make the crawl look like
    Wikipedia' selection stage of LLM pretraining pipelines.

    Exactness (the score_unigram_surprisal trick, applied
    contrastively): per-feature self-information under each model is
    the INTEGER bit count floor(log2((T + B) / (c + 1))) — Laplace
    smoothing over the B hashed buckets — computed as
    length(bin((T + B) div (c + 1))) - 1 with no libm anywhere, so
    llr_bits = raw_bits - tgt_bits is an exact integer in any
    accumulation order and the top-N (total order: llr DESC, doc_id)
    is hash-exact against DuckDB.

    Scale: the two distribution models are per-bucket counts over a
    FIXED 4096-bucket hashed feature space — map-side partial
    aggregation collapses any corpus to <= 2 x 4096 rows before the
    shuffle, and the joint bits table broadcasts. Scoring is one
    broadcast join on the token stream + a per-doc rollup; selection
    is TakeOrderedAndProject (bounded driver heap, no global sort).
    The corpus itself shuffles once (doc_id rollup), nothing else
    moves: the topology is identical at 100 TB.
    """
    from protarrow_spark.functions.text import tokens as ws_tokens
    from protarrow_spark.operators.sketches import hex_to_long

    docs = table(spark, sf_dir, "documents")
    tokb = docs.select(
        "doc_id", "source", F.explode(ws_tokens(F.col("text"))).alias("tok")
    ).select(
        "doc_id",
        "source",
        (
            hex_to_long(F.md5(F.concat(F.lit("dsir|"), F.col("tok"))), 15)
            % DSIR_BUCKETS
        ).alias("b"),
    )
    tgt = (
        tokb.filter(F.col("source") == DSIR_TARGET_SOURCE)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    raw = (
        tokb.filter(F.col("source") != DSIR_TARGET_SOURCE)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("cs"))
    )
    tt = tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("t_tgt"))
    tr = raw.agg(F.sum("cs").alias("t_raw"))
    bits = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tr))
        .select(
            "b",
            (
                F.length(
                    F.bin(
                        F.expr(
                            f"(t_tgt + {DSIR_BUCKETS}) div (coalesce(ct, 0) + 1)"
                        )
                    )
                )
                - 1
            )
            .cast("long")
            .alias("bits_t"),
            (
                F.length(
                    F.bin(F.expr(f"(t_raw + {DSIR_BUCKETS}) div (cs + 1)"))
                )
                - 1
            )
            .cast("long")
            .alias("bits_s"),
        )
    )
    scored = (
        tokb.filter(F.col("source") != DSIR_TARGET_SOURCE)
        .join(F.broadcast(bits), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("bits_t").cast("long").alias("tgt_bits"),
            F.sum("bits_s").cast("long").alias("raw_bits"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "tgt_bits",
            "raw_bits",
            (F.col("raw_bits") - F.col("tgt_bits")).cast("long").alias("llr_bits"),
        )
    )
    return scored.orderBy(F.desc("llr_bits"), F.asc("doc_id")).limit(DSIR_TOPN)


# ---------------------------------------------------------------------------
# sample_kcenter_coreset — greedy k-Center coreset selection (r13 birth)
# ---------------------------------------------------------------------------

#: Coreset size: number of greedy k-Center picks.
KCENTER_K = 8


def _kcenter_oracle() -> str:
    """Unrolled greedy k-Center CTE chain (the kmeans/PQ unroll
    device): step i picks the vector maximizing its min squared L2
    distance to the i-1 already-selected, ties to the smaller vec_id.
    All distances are integers (int8-quantized vectors), so every
    argmax is engine-exact."""
    d2 = "(x.qq + c.qq - 2*CAST(list_dot_product(x.q, c.q) AS BIGINT))"
    ctes = list(_q8_ctes())
    # MATERIALIZED: c{i} references every c{j<i} through sel{i}; left
    # inlined, the chain re-expands exponentially (observed: the
    # 8-step oracle never finished at sf0.01 without it).
    ctes.append(
        """qx AS MATERIALIZED (
  SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS qq FROM q8
)"""
    )
    ctes.append(
        """c1 AS MATERIALIZED (
  SELECT vec_id, q, qq, CAST(0 AS BIGINT) AS md FROM qx
  WHERE vec_id = (SELECT MIN(vec_id) FROM qx)
)"""
    )
    for i in range(2, KCENTER_K + 1):
        sel = " UNION ALL ".join(
            f"SELECT vec_id, q, qq FROM c{j}" for j in range(1, i)
        )
        ctes.append(f"sel{i} AS MATERIALIZED ({sel})")
        ctes.append(
            f"""c{i} AS MATERIALIZED (
  SELECT vec_id, q, qq, md FROM (
    SELECT x.vec_id, x.q, x.qq, MIN({d2}) AS md
    FROM qx x CROSS JOIN sel{i} c
    WHERE x.vec_id NOT IN (SELECT vec_id FROM sel{i})
    GROUP BY x.vec_id, x.q, x.qq
  ) ORDER BY md DESC, vec_id LIMIT 1
)"""
        )
    rows = " UNION ALL ".join(
        f"SELECT {i} AS step, vec_id, md FROM c{i}"
        for i in range(1, KCENTER_K + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(step AS BIGINT) AS step, vec_id,
       CAST(md AS BIGINT) AS d2_to_selected
FROM ({rows}) ORDER BY step"""
    )


@query("sample_kcenter_coreset", oracle=_kcenter_oracle())
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-Center coreset selection (Sener & Savarese 2018,
    arXiv:1708.00489 — the farthest-point-first heuristic behind
    diversity-driven data pruning): seed with the smallest vec_id,
    then {KCENTER_K}-1 times pick the vector farthest (max-min
    squared L2) from everything selected so far. The emitted
    d2_to_selected sequence is the coverage-radius curve — where it
    collapses is the diversity budget of the corpus.

    Exactness: distances are integer squared L2 over the shared int8
    quantization (operators/similarity.py quantize_int8 — the
    kmeans/SemDeDup/PCA device), via d2 = qq_a + qq_b - 2*dot; the
    oracle unrolls the greedy loop into {KCENTER_K} CTE steps, each
    an integer argmax with vec_id tie-break — hash-exact, no float
    comparison anywhere.

    Scale: the loop is driver-iterated ({KCENTER_K} rounds); each
    round is ONE narrow corpus scan — an int64 X @ C.T matmul per
    Arrow batch against the selected-center matrix carried as
    closure state (operators/similarity.py kcenter_greedy, the
    int8_topk device), reduced to per-batch champions and a k-row
    global TakeOrdered. Nothing corpus-sized collects, broadcasts,
    or shuffles, so it survives a billion-row corpus: round cost is
    a narrow scan, and k rounds of it."""
    picked = similarity.kcenter_greedy(
        table(spark, sf_dir, "embeddings"), k=KCENTER_K
    )
    return spark.createDataFrame(
        picked, "step long, vec_id long, d2_to_selected long"
    ).orderBy("step")


# ---------------------------------------------------------------------------
# report_split_leakage — near-dup contamination across the train/val/test
# boundary (r13 birth)
# ---------------------------------------------------------------------------


def _split_leakage_oracle() -> str:
    return f"""
WITH {_lsh_verified_ctes()},
sp AS (SELECT doc_id, {_SPLIT_CASE_SQL} AS split FROM documents),
lab AS (
  SELECT least(a.split, b.split) AS split_a,
         greatest(a.split, b.split) AS split_b,
         v.doc_a, v.doc_b
  FROM ver v
  JOIN sp a ON a.doc_id = v.doc_a
  JOIN sp b ON b.doc_id = v.doc_b
),
p AS (SELECT split_a, split_b, COUNT(*) AS n_pairs FROM lab GROUP BY 1, 2),
ends AS (
  SELECT split_a, split_b, doc_a AS d FROM lab
  UNION ALL
  SELECT split_a, split_b, doc_b AS d FROM lab
),
dd AS (SELECT split_a, split_b, COUNT(DISTINCT d) AS n_docs FROM ends GROUP BY 1, 2)
SELECT p.split_a, p.split_b,
       CAST(p.n_pairs AS BIGINT) AS n_pairs,
       CAST(dd.n_docs AS BIGINT) AS n_docs
FROM p JOIN dd USING (split_a, split_b)
"""


@query("report_split_leakage", oracle=_split_leakage_oracle())
def report_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval split-leakage audit: verified near-duplicate pairs
    (the dedup_lsh_verified three-stage pipeline — MinHash candidates,
    exact-Jaccard verification) classified by which canonical
    train/val/test splits their endpoints landed in. A (train, val)
    or (train, test) row is EVAL CONTAMINATION the md5 split cannot
    prevent — the split is a pure function of doc_id, so two near-
    identical crawled documents with different ids legitimately land
    on opposite sides of the boundary, and only a near-dup audit sees
    it. This is the check done before trusting held-out numbers
    (e.g. Lee et al. 2022 found C4 val/train overlap this way).

    Output: one row per unordered split pair (lexicographic least/
    greatest — identical in Spark and DuckDB), the verified-pair count
    crossing/within it, and the distinct documents involved. Both the
    pair relation (:func:`_lsh_verified_pairs`) and the split
    assignment (:func:`_split_col`) are the same single-source
    definitions the standalone queries use, so this audit can never
    disagree with them.

    Scale: everything is the verified-dedup plan (equi-join candidate
    generation, never all-pairs) plus two doc-keyed joins of the
    bounded pair list against the scan-stage split assignment and a
    6-group rollup — the audit adds no shuffle wider than the pair
    list itself.
    """
    docs = table(spark, sf_dir, "documents")
    pairs = _lsh_verified_pairs(docs).select("doc_a", "doc_b")
    sp = docs.select("doc_id", _split_col().alias("split"))
    pa = sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    pb = sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    # Feeds the pair rollup AND the distinct-doc rollup: without
    # this barrier the whole verified-pair pipeline executes twice
    # per action (r13 opt). Bounded: one row per verified pair.
    lab = materialize(
        pairs.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
            "doc_a",
            "doc_b",
        )
    )
    p = lab.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    ends = lab.select("split_a", "split_b", F.col("doc_a").alias("d")).unionByName(
        lab.select("split_a", "split_b", F.col("doc_b").alias("d"))
    )
    dd = ends.groupBy("split_a", "split_b").agg(
        F.countDistinct("d").cast("long").alias("n_docs")
    )
    return p.join(dd, ["split_a", "split_b"]).select(
        "split_a", "split_b", "n_pairs", "n_docs"
    )
