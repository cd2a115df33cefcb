"""Text analysis operators: stats, quality scoring, language ID,
fingerprinting. All built-in expressions (whole-stage codegen); no
Python in the row path.

North-star LLM-pipeline operators (not in the reference, SURVEY §2.2).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from protarrow_spark.functions.text import bag_fingerprint, tokens

#: Shared with the generated DuckDB oracles (queries/llm_text.py).
STOPWORDS = ["the", "a", "of", "and", "to", "in"]

#: Marker words per language for the n-gram/stopword language-ID
#: heuristic. Checked in this order; ties resolve to the earlier entry.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "los", "que", "es"],
    "fr": ["le", "la", "les", "et", "est"],
    "zh": ["de", "shi", "le", "bu", "wo"],
}


def text_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token/char statistics per document — integer counts plus single
    final divisions, so results are engine-exact."""
    toks = tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        (
            (F.length(text_col) - F.size(toks) + 1).cast("double") / F.size(toks)
        ).alias("avg_token_len"),
        (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("type_token_ratio"),
    )


def quality_expr(text_col) -> "F.Column":
    """The composite quality score as a single per-row Column:
    lexical diversity (type-token ratio) x length factor x stopword
    sanity. Shared by quality_score, the per-source dataset report,
    and the end-to-end pipeline query so the three can never drift."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens(col)
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n
    length_factor = F.least(F.lit(1.0), n.cast("double") / F.lit(50.0))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast(
        "double"
    ) / n
    return ttr * length_factor * (F.lit(1.0) - stop_ratio)


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Composite quality heuristic: lexical diversity x length factor x
    stopword sanity — the standard cheap pre-filter for training data."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    stop_ratio = n_stop.cast("double") / n
    score = quality_expr(text_col)
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality"),
        F.when(score >= 0.5, "high").when(score >= 0.25, "medium").otherwise("low").alias(
            "quality_bucket"
        ),
    )


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Marker-word language ID: score = marker-token hits per language;
    prediction = argmax with fixed-order tie-breaking."""
    toks = tokens(F.col(text_col))
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        scores[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    langs = list(LANG_MARKERS)
    pred = F.lit(langs[-1])
    # Build argmax right-to-left so earlier languages win ties.
    for lang in reversed(langs[:-1]):
        later = [scores[l] for l in langs[langs.index(lang) + 1 :]]
        best_later = later[0]
        for c in later[1:]:
            best_later = F.greatest(best_later, c)
        pred = F.when(scores[lang] >= best_later, F.lit(lang)).otherwise(pred)
    return df.select(
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in langs],
        pred.alias("predicted_lang"),
    )


def fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document fingerprints: exact (md5 of raw text) and
    order-insensitive bag fingerprint (md5 of sorted distinct tokens)."""
    toks = tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("exact_fp"),
        bag_fingerprint(toks).alias("bag_fp"),
    )


#: GPT-2-ish byte-pair pre-tokenization pattern: contraction suffixes,
#: space-prefixed letter runs, digit runs, punctuation runs, whitespace.
#: Alternation-only (no lookarounds), so Java and RE2-family regex
#: engines produce identical token streams.
BPE_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def bpe_token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token counting under a BPE-style pre-tokenizer vs whitespace.

    ``n_bpe_tokens`` counts GPT-2-style pre-tokens (one codegen'd
    regex pass); ``chars_per_token`` is the compression-rate proxy
    LLM-pipeline heuristics filter on. Pure JVM expressions.
    """
    bpe = F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), 0)
    ws = tokens(F.col(text_col))
    n_bpe = F.size(bpe)
    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        n_bpe.cast("long").alias("n_bpe_tokens"),
        F.size(ws).cast("long").alias("n_ws_tokens"),
        (F.length(F.col(text_col)).cast("double") / n_bpe.cast("double")).alias(
            "chars_per_token"
        ),
    )


#: Winnowing parameters: char k-grams, window of w consecutive hashes.
WINNOW_K = 8
WINNOW_W = 4


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """Winnowing document fingerprints (the rolling-hash scheme of
    Schleimer/Wilkerson/Aiken): hash every overlapping char k-gram,
    slide a window of ``w`` hashes, keep each window's minimum; the
    distinct minima are the fingerprint set — guaranteed to share
    members for any sufficiently long common substring, robust to
    insertions that mere bag hashing is not.

    All JVM expressions: one regex pass extracts the overlapping
    k-grams (lookahead capture), higher-order transforms build the
    hash and window-min arrays per document — no shuffle, no Python.
    Hashes are md5-derived 60-bit ints so an independent SQL engine
    reproduces the identical fingerprint set.

    The hash array MUST be materialized as its own projection before
    the window-min pass: higher-order functions run interpreted (no
    whole-stage codegen, no common-subexpression elimination), so an
    inline ``hashes`` subtree inside the window lambda re-evaluates
    every md5 once PER WINDOW POSITION — O(n^2) digests per document
    (observed ~200 ms/doc; the two-step projection is ~1000x faster
    and value-identical). CollapseProject keeps the stage split
    because the alias is non-cheap and multiply referenced.

    Output: doc_id, n_grams, n_fingerprints, fp_digest (md5 over the
    sorted distinct minima — the document's winnow signature).
    """
    text = F.col(text_col)
    grams = F.regexp_extract_all(text, F.lit(f"(?=(.{{{k}}}))"), 1)
    grams = F.when(F.size(grams) > 0, grams).otherwise(F.array(text))
    hashes = F.transform(
        grams, lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("bigint")
    )
    hashed = df.select(F.col(id_col), hashes.alias("__wh"))
    wh = F.col("__wh")
    n = F.size(wh)
    mins = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(1), n - w + 1), lambda i: F.array_min(F.slice(wh, i, w))
        ),
    ).otherwise(F.array(F.array_min(wh)))
    fps = F.array_sort(F.array_distinct(mins))
    return hashed.select(
        F.col(id_col),
        n.cast("long").alias("n_grams"),
        F.size(fps).cast("long").alias("n_fingerprints"),
        F.md5(F.concat_ws(",", F.transform(fps, lambda x: x.cast("string")))).alias(
            "fp_digest"
        ),
    )


#: Sliding-window chunking defaults (RAG / training-context prep).
CHUNK_WINDOW = 64
CHUNK_STRIDE = 48

#: PII patterns — alternation/char-class only (no lookarounds, no
#: engine-private escapes) so Java regex and RE2-family engines match
#: the identical spans.
PII_EMAIL_RE = r"[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}"


def chunk_sliding(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = CHUNK_WINDOW,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Sliding-window document chunking: overlapping ``window``-token
    chunks every ``stride`` tokens — the standard RAG / context-window
    preparation pass. Chunk starts are 1, 1+stride, ... <= n_tokens,
    so the tail chunk may be shorter than ``window``; every token is
    covered and the spec is deterministic (no length-dependent
    re-centering).

    Scale: pure per-row codegen (split + sequence + slice) followed by
    one explode — no shuffle at all; chunk output lands partitioned
    exactly like the input scan, which is what a downstream embed /
    index stage wants to consume.

    Output: id, chunk_id (0-based), tok_start (1-based), n_chunk_tokens,
    chunk_text.
    """
    # Token array materialized first — an inline tokens(text) inside
    # the per-chunk lambda re-splits the document once per chunk
    # (interpreted HOFs skip CSE; see winnow_fingerprints).
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride))
    chunks = F.transform(starts, lambda s: F.concat_ws(" ", F.slice(toks, s, window)))
    ex = base.select(
        F.col(id_col),
        n.alias("_n"),
        F.posexplode(chunks).alias("chunk_id", "chunk_text"),
    )
    tok_start = (F.col("chunk_id") * stride + 1).cast("long")
    return ex.select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        tok_start.alias("tok_start"),
        F.least(F.col("_n") - tok_start + 1, F.lit(window)).cast("long").alias(
            "n_chunk_tokens"
        ),
        "chunk_text",
    )


def pii_redact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII scrubbing: replace email addresses and international phone
    numbers with typed placeholder tags, reporting per-document match
    counts — the standard pre-training privacy pass (C4 / Dolma style).

    Scale: two codegen'd regex passes per row, zero shuffles; the
    patterns are alternation-free character classes, so the pass is
    linear in text bytes and identical across regex engines.

    Output: id, n_emails, n_phones, redacted_md5 (digest of the
    scrubbed text — lets the gate value-check the full output without
    hauling the corpus), redacted_len.
    """
    text = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL_RE), 0))
    n_phones = F.size(F.regexp_extract_all(text, F.lit(PII_PHONE_RE), 0))
    red = F.regexp_replace(
        F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>"), PII_PHONE_RE, "<PHONE>"
    )
    return df.select(
        F.col(id_col),
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        F.md5(red).alias("redacted_md5"),
        F.length(red).cast("long").alias("redacted_len"),
    )


def repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    max_dup_frac: float = 0.3,
) -> DataFrame:
    """Repetition-based quality signals per document — the Gopher /
    Dolma "repetitious text" filters (fraction of tokens inside
    duplicated n-grams, fraction covered by the single most frequent
    n-gram), computed from word n-gram frequency counts.

    Not in the reference (conversion-only, SURVEY.md §2.2); part of
    the north-star LLM-pipeline text layer.

    Scale: documents are hash-partitioned by id ONCE (the text column
    shuffles a single time); both downstream groupBys — ``(doc, gram)``
    counts, then per-doc totals — reuse that partitioning, so the
    exploded gram stream (~2x the text bytes) never crosses the wire.
    No joins, no Python in the row path. All ratios are single
    divisions of exact integer counts, so results hash-match any SQL
    engine.

    Output: id, n_ngrams, dup_ngram_frac, top_ngram_frac,
    keep (dup_ngram_frac < ``max_dup_frac``).
    """
    from protarrow_spark.functions.text import text_ngrams

    grams = (
        df.select(F.col(id_col), F.col(text_col))
        .repartition(F.col(id_col))
        .select(F.col(id_col), F.explode(text_ngrams(F.col(text_col), n)).alias("g"))
    )
    counts = grams.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy(id_col).agg(
        F.sum("c").alias("n_ngrams"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup_toks"),
        F.max("c").alias("top_c"),
    )
    dup_frac = F.col("dup_toks").cast("double") / F.col("n_ngrams")
    return per_doc.select(
        F.col(id_col),
        F.col("n_ngrams"),
        dup_frac.alias("dup_ngram_frac"),
        (F.col("top_c").cast("double") / F.col("n_ngrams")).alias("top_ngram_frac"),
        (dup_frac < F.lit(max_dup_frac)).alias("keep"),
    )


#: BPE training: number of merge rules to learn in the declarative
#: unrolled loop (a production trainer runs tens of thousands of
#: steps with the same per-step dataflow).
BPE_TRAIN_STEPS = 3


def _greedy_rewrite(frame, top, keep_cols):
    """Rewrite ``frame.sym`` by the single merge rule in the 1-row
    ``top`` frame (broadcast): the GREEDY non-overlapping left-to-
    right merge as a fold over the symbol array (``F.aggregate`` with
    an (out, skip) accumulator). ``keep_cols`` pass through unchanged.

    __arr is materialized as a column: element_at(split(...), i)
    inside the fold would re-split the symbol once per position
    (interpreted HOFs skip CSE; see winnow_fingerprints)."""
    import pyspark.sql.functions as F

    joined = frame.crossJoin(
        F.broadcast(
            top.select(
                F.split(F.col("pair"), " ")[0].alias("__pa"),
                F.split(F.col("pair"), " ")[1].alias("__pb"),
            )
        )
    ).withColumn("__arr", F.split(F.col("sym"), " "))
    fold_arr = F.col("__arr")
    fold_n = F.size(fold_arr)
    pa, pb = F.col("__pa"), F.col("__pb")
    merged_sym = F.concat(pa, pb)
    zero = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(False).alias("skip"),
    )

    def fold_step(acc, i):
        cur = F.element_at(fold_arr, i)
        nxt = F.try_element_at(fold_arr, i + 1)
        do_merge = (~acc.skip) & (cur == pa) & nxt.isNotNull() & (nxt == pb)
        out_merge = F.struct(
            F.concat(acc.out, F.array(merged_sym)).alias("out"),
            F.lit(True).alias("skip"),
        )
        out_keep = F.struct(
            F.concat(acc.out, F.array(cur)).alias("out"),
            F.lit(False).alias("skip"),
        )
        out_skip = F.struct(acc.out.alias("out"), F.lit(False).alias("skip"))
        return F.when(acc.skip, out_skip).when(do_merge, out_merge).otherwise(out_keep)

    new_sym = F.aggregate(
        F.sequence(F.lit(1), fold_n),
        zero,
        fold_step,
        lambda acc: F.concat_ws(" ", acc.out),
    )
    return joined.select(*[F.col(c) for c in keep_cols], new_sym.alias("sym"))


def bpe_train_merges(
    df,
    id_col: str,
    text_col: str,
    steps: int = BPE_TRAIN_STEPS,
    with_vocab_map: bool = False,
):
    """Learn ``steps`` BPE merge rules from the corpus — the tokenizer-
    TRAINING loop (Sennrich 2016) expressed declaratively: each step
    counts adjacent-symbol pairs over the distinct-word vocabulary
    (weighted by word frequency, overlapping occurrences counted, as
    the textbook trainer does), picks the most frequent pair
    (lexicographic tie-break), and rewrites every word by the GREEDY
    non-overlapping left-to-right merge — implemented as a fold over
    the symbol array (``F.aggregate`` with a (out, skip) accumulator),
    so the rewrite is textbook-exact ('aaaa' -> 'aa aa') and runs in
    the scan stage with no extra shuffle. The DuckDB oracle computes
    the identical greedy merge via a gaps-and-islands window
    formulation (odd-ranked flags within runs of consecutive matches
    merge); both are exact string/integer logic, so every rule and
    count matches bit-for-bit.

    Scale: the state between steps is the VOCABULARY (distinct symbol
    strings x counts — millions of rows at 100 TB, not corpus-sized);
    each step is one explode + partial-aggregated groupBy over it for
    pair counts, a 1-row TakeOrdered for the winner, a broadcast of
    that single rule into the fold rewrite, and a re-aggregation of
    the vocabulary (words collapsing to the same symbol string merge
    their counts). Steps are driver-unrolled into one Catalyst plan
    with no per-step barrier (see the note in the loop); a caller
    that reuses the trained map materializes it once, as
    text_bpe_encode does.

    Output: step (int), pair ('x y'), merged ('xy'), pair_count.
    With ``with_vocab_map=True``, ALSO carries the distinct-word ->
    current-symbol-string mapping through every rewrite and returns
    the pair (merges, vocab_map(w, sym)) — the trained TOKENIZER as a
    joinable dimension (see text_bpe_encode). The map is
    vocabulary-sized state, same as the trainer's own; each step adds
    one more fold pass over it, nothing corpus-sized.
    """
    import pyspark.sql.functions as F

    from protarrow_spark.sources.tables import spread

    toks = spread(df.select(F.col(text_col))).select(
        F.explode(tokens(F.col(text_col))).alias("w")
    )
    words = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "cnt",
            F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")).alias("sym"),
        )
        .groupBy("sym")
        .agg(F.sum("cnt").alias("cnt"))
    )
    vmap = (
        toks.select("w")
        .distinct()
        .select("w", F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")).alias("sym"))
        if with_vocab_map
        else None
    )
    merges = None
    for step_no in range(1, steps + 1):
        arr = F.split(F.col("sym"), " ")
        n = F.size(arr)
        pairs = F.zip_with(
            F.slice(arr, 1, n - 1),
            F.slice(arr, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        counted = (
            words.select(F.col("cnt"), F.explode(pairs).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("cnt").alias("pair_count"))
        )
        top = counted.orderBy(F.desc("pair_count"), F.asc("pair")).limit(1)
        rule = top.select(
            F.lit(step_no).alias("step"),
            "pair",
            F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
            "pair_count",
        )
        merges = rule if merges is None else merges.unionByName(rule)

        # NOTE measured, not assumed: the next step references `words`
        # twice, so the chain replays ~2^steps times per action — but
        # the replayed state is the VOCABULARY (tiny), and eager
        # per-step barriers (the mmr_select_int8 barrier) were
        # tried and made the query ~2x SLOWER at sf0.1: the per-step
        # job overhead exceeds the replay cost. Past ~10 steps the
        # replay should outgrow the job overhead; no registered query
        # trains that many steps.
        words = (
            _greedy_rewrite(words, top, ["cnt"])
            .groupBy("sym")
            .agg(F.sum("cnt").alias("cnt"))
        )
        if vmap is not None:
            vmap = _greedy_rewrite(vmap, top, ["w"])
    return (merges, vmap) if with_vocab_map else merges


#: CCNet-style per-group boilerplate detection: an n-gram is
#: boilerplate within a source when it appears in >= BOILER_PCT % of
#: that source's documents (CCNet flags repeated lines per domain
#: shard; this corpus is single-line, so the unit is the word n-gram).
BOILER_N = 2
BOILER_PCT = 20


def boilerplate_ngrams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    pct: int = BOILER_PCT,
) -> DataFrame:
    """Per-group boilerplate n-gram accounting (CCNet, Wenzek et al.
    2020: dedup repeated lines per domain before LM filtering). An
    n-gram is boilerplate inside its group when its document frequency
    reaches ``pct`` percent of the group's documents; each document
    reports how many of its bigram positions are boilerplate and its
    clean ratio in exact ppm — the inputs to a drop-or-scrub decision.

    Scale: two shuffles — the (group, gram) distinct-df count (map-side
    combine collapses repeats before the exchange) and the per-doc
    boiler-position count; the boilerplate set is tiny by construction
    (df >= pct% of a shard) so AQE broadcasts the flag join. Grouping
    by source/domain is exactly how CCNet shards at web scale: no
    cross-group traffic at all.

    Output: id, group, n_grams, n_boiler_grams, clean_ppm.
    """
    base = df.select(
        F.col(id_col), F.col(group_col), tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    # Bigram starting positions 1..n-1; sequence(1, 0) would count DOWN,
    # so short docs get an explicit empty array.
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, BOILER_N)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = base.select(
        F.col(id_col), F.col(group_col), F.explode(grams).alias("g")
    )
    # df counts DISTINCT documents per gram: the former
    # .distinct() keyed on (id, group, g) only removed within-document
    # repeats — a per-row array_distinct before the explode does the
    # same in the scan projection without shuffling the gram stream
    # (r13 opt, guide §2.4). `pos` itself keeps its duplicates: the
    # boiler-position count below must count every occurrence.
    dfreq = (
        base.select(
            F.col(group_col), F.explode(F.array_distinct(grams)).alias("g")
        )
        .groupBy(group_col, "g")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    nd = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    boiler = (
        dfreq.join(nd, group_col)
        .filter(F.col("df") * 100 >= F.lit(pct) * F.col("n_docs"))
        .select(group_col, "g")
    )
    per = (
        pos.join(boiler, [group_col, "g"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_boiler"))
    )
    out = base.select(
        F.col(id_col),
        F.col(group_col),
        F.greatest(n - 1, F.lit(0)).cast("long").alias("n_grams"),
    ).join(per, id_col, "left")
    n_boiler = F.coalesce(F.col("n_boiler"), F.lit(0)).cast("long")
    clean_ppm = F.when(F.col("n_grams") == 0, F.lit(1_000_000)).otherwise(
        F.expr("((n_grams - coalesce(n_boiler, 0)) * 1000000) div n_grams")
    )
    return out.select(
        F.col(id_col),
        F.col(group_col),
        F.col("n_grams"),
        n_boiler.alias("n_boiler_grams"),
        clean_ppm.cast("long").alias("clean_ppm"),
    )


#: Vocabulary-growth (Heaps'-law) checkpoints: the corpus is measured
#: at k/GROWTH_STEPS of the id range for k = 1..GROWTH_STEPS.
GROWTH_STEPS = 8


def vocab_growth(
    df: DataFrame,
    id_col: str,
    text_col: str,
    steps: int = GROWTH_STEPS,
) -> DataFrame:
    """Vocabulary-growth curve (Heaps' law): distinct-token count vs
    cumulative corpus size at ``steps`` checkpoints over the document
    id range — the standard corpus-composition diagnostic (a corpus
    whose vocabulary stops growing is repeating itself; one growing
    linearly is noise/OCR garbage).

    Output (one row per checkpoint k): k, bound (= k * max_id / steps),
    n_docs, total_tokens, distinct_tokens — all integers, hash-exact.

    Scale: one vocabulary-sized groupBy (first-occurrence id per
    token, map-side partial min) and one doc-sized groupBy, each then
    joined against the broadcast ``steps``-row checkpoint grid —
    conditional aggregation, never a re-scan per checkpoint.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    bounds = (
        df.agg(F.max(id_col).alias("max_id"))
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(steps))).alias("k"), "max_id"
        )
        .select(F.col("k").cast("long"), F.expr(f"k * max_id div {steps}").alias("bound"))
    )
    first = toks.groupBy("tok").agg(F.min(id_col).alias("first_doc"))
    vocab = (
        first.crossJoin(F.broadcast(bounds))
        .filter(F.col("first_doc") <= F.col("bound"))
        .groupBy("k", "bound")
        .agg(F.count(F.lit(1)).cast("long").alias("distinct_tokens"))
    )
    per_doc = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_toks"))
    totals = (
        per_doc.crossJoin(F.broadcast(bounds))
        .filter(F.col(id_col) <= F.col("bound"))
        .groupBy("k", "bound")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
        )
    )
    return totals.join(vocab, ["k", "bound"]).select(
        "k", "bound", "n_docs", "total_tokens", "distinct_tokens"
    )


#: TF-IDF keyword extraction: tokens present in more than half the
#: corpus documents are treated as stopwords; scores are exact
#: integers (tf * 1e6 // df) so the ranking is hash-verifiable.
KEYWORDS_PER_GROUP = 5


def tfidf_keywords(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    k: int = KEYWORDS_PER_GROUP,
) -> DataFrame:
    """Top-``k`` characteristic keywords per group (e.g. per source)
    by exact-integer TF-IDF: score = tf_in_group * 1_000_000 // df
    where df is corpus-wide document frequency, with tokens appearing
    in more than half of all documents excluded (the IDF stopword
    gate). Total-order tiebreak (score desc, token asc) keeps the
    top-k deterministic.

    Scale: two vocabulary-sized aggregations (group tf, corpus df) and
    a 1-row corpus-count broadcast; the per-group top-k prunes to
    k rows per group via the rank window (WindowGroupLimit pushes the
    limit map-side).
    """
    toks = df.select(
        F.col(id_col), F.col(group_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    tf = toks.groupBy(group_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    # Corpus df counts DISTINCT documents per token: the former
    # .distinct() keyed on (id, tok) only removed within-document
    # repeats, so a per-row array_distinct in a second scan projection
    # replaces a full shuffle of the token stream (r13 opt, guide
    # §2.4; re-tokenizing the scan is a codegen'd split, far cheaper
    # than exchanging every token occurrence).
    docfreq = (
        df.select(F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    kept = (
        docfreq.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * 2 <= F.col("n_docs"))
        .select("tok", "df")
    )
    scored = tf.join(kept, "tok").select(
        F.col(group_col),
        "tok",
        F.col("tf").cast("long"),
        F.col("df").cast("long"),
        F.expr("tf * 1000000 div df").cast("long").alias("score_micro"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.desc("score_micro"), F.asc("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(group_col, "rank", "tok", "tf", "df", "score_micro")
    )
