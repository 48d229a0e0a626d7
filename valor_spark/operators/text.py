"""Text-analysis operators for training-data pipelines over ``documents``.

All pure Column expressions (JVM-side, whole-stage codegen) — language ID,
quality scoring, token counting, fingerprinting.  Each is written so an
identical ANSI-SQL formulation exists (the DuckDB oracle in
``__spark_entry__.py``): same tokenization regex, same rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from valor_spark.functions.rules import gates
from valor_spark.utils import sql_lit

# tiny per-language stopword marker sets (heuristic language ID)
LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "in"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "de", "que", "y"],
}

EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization, lowercased, empty tokens dropped.
    SQL equivalent: list_filter(string_split_regex(lower(x), '\\s+'), t -> t != '')."""
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


# BPE-ish pre-tokenization (GPT-2-style, simplified to constructs with
# identical semantics in Java regex and DuckDB's RE2): letter runs, single
# digits, runs of non-alphanumeric-non-space.  Counts approximate
# subword-tokenizer input segmentation far better than whitespace counts on
# code/punctuation-heavy text.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"


def bpe_tokens(col: Column) -> Column:
    """BPE-ish pre-token pieces.  SQL: regexp_extract_all(x, pattern)."""
    return F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), 0)


def bpe_token_count(col: Column) -> Column:
    return F.size(bpe_tokens(col))


# redaction (PII scrub) — the standard training-data hygiene pass; pure
# regexp_replace (JVM-side), patterns restricted to RE2-compatible syntax so
# the DuckDB oracle applies the identical rewrite
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
URL_RE = r"https?://[^\s]+"


def redact_text(col: Column) -> Column:
    """Replace URLs then emails with sentinel tokens (URL first — emails
    inside URLs are swallowed by the URL rewrite, deterministically)."""
    return F.regexp_replace(
        F.regexp_replace(col, URL_RE, "<URL>"), EMAIL_RE, "<EMAIL>"
    )


def redaction_counts(col: Column) -> tuple[Column, Column]:
    """(n_urls, n_emails) that redact_text would rewrite."""
    n_urls = F.size(F.regexp_extract_all(col, F.lit(URL_RE), 0))
    after_urls = F.regexp_replace(col, URL_RE, "<URL>")
    n_emails = F.size(F.regexp_extract_all(after_urls, F.lit(EMAIL_RE), 0))
    return n_urls, n_emails


def _marker_hits_t(toks: Column, markers: list[str]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def _lang_id_t(toks: Column) -> Column:
    hits = {lang: _marker_hits_t(toks, ms) for lang, ms in LANG_MARKERS.items()}
    best = F.lit("und")
    best_n = F.lit(0)
    for lang in LANG_MARKERS:  # first language wins ties via strict >
        h = hits[lang]
        is_better = h > best_n
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_n = F.when(is_better, h).otherwise(best_n)
    return best


def lang_id(col: Column) -> Column:
    """Pick the language whose marker set hits most tokens; ties and
    zero-hit rows -> 'und'.  Deterministic tie-break: higher count wins,
    then language-key order en > de > fr > es (strict > comparisons)."""
    return _lang_id_t(tokens(col))


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are punctuation [.,!?;:]."""
    stripped = F.regexp_replace(col, r"[.,!?;:]", "")
    return F.when(F.length(col) > 0,
                  (F.length(col) - F.length(stripped)) / F.length(col)
                  ).otherwise(F.lit(0.0))


def _stopword_ratio_t(toks: Column) -> Column:
    arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n = F.size(toks)
    return F.when(
        n > 0, F.size(F.filter(toks, lambda t: F.array_contains(arr, t))) / n
    ).otherwise(F.lit(0.0))


def _quality_score_t(toks: Column, text: Column) -> Column:
    n = F.size(toks)
    len_score = F.least(n / F.lit(50.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 5)
    sw = _stopword_ratio_t(toks)
    sw_score = F.when((sw > 0.05) & (sw < 0.6), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round((len_score * 0.4 + punct_pen * 0.3 + sw_score * 0.3), 4)


def fingerprint(col: Column, length: int = 16) -> Column:
    """Document fingerprint: md5 prefix of whitespace-normalized lowercase
    text — stable across engines (md5 is md5 everywhere)."""
    norm = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
    return F.substring(F.md5(norm), 1, length)


def bigrams_t(toks: Column) -> Column:
    """Adjacent token pairs as 'a b' strings (order-preserving) over an
    ALREADY-MATERIALIZED token array.  SQL equivalent: list_transform over
    1..len-1 with array indexing.

    Scale contract: ``toks`` must be a plain column reference (materialize
    ``tokens(text)`` in a lower Project first).  Higher-order functions are
    CodegenFallback (interpreted), so an inline ``tokens(text)`` expression
    here re-runs the whole tokenizer TWICE PER ELEMENT inside the lambda —
    O(tokens^2) per document, measured 9.71s vs 0.72s (13.5x) on the sf0.1
    bigram explode, with the gap growing quadratically in document length.
    Same reasoning as text_profile: CollapseProject keeps a
    multiply-referenced non-trivial alias as its own projection, so the
    lower Project is real, not cosmetic."""
    # coalesce: size(NULL)=NULL under ANSI, which would fall through the <2
    # guard and emit a [NULL, NULL] phantom bigram for every null document
    n = F.coalesce(F.size(toks), F.lit(0))
    idx = F.sequence(F.lit(1), F.greatest(n - 1, F.lit(0)))
    return F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            idx,
            lambda i: F.concat(
                F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
            ),
        )
    )


def bigrams(col: Column) -> Column:
    """Bigrams straight from a text column — convenience form for small
    data/tests ONLY: the inline token expression is re-evaluated inside the
    interpreted HOF lambda (O(tokens^2)/doc).  Hot paths materialize the
    token array in a lower select and use :func:`bigrams_t`."""
    return bigrams_t(tokens(col))


def top_bigrams(df: DataFrame, text_col: str = "text", k: int = 20) -> DataFrame:
    """Corpus-level top-k bigrams by occurrence count (one explode + one
    aggregation; ties broken by bigram text for determinism).

    The top-k is ``orderBy(...).limit(k)`` — compiles to
    ``TakeOrderedAndProject`` (per-partition partial top-k, then a k-row
    merge on the driver).  An unpartitioned ``Window.orderBy`` here would
    sort the ENTIRE distinct-bigram table in one task — billions of rows at
    corpus scale.  The rank window only ever sees the k surviving rows."""
    from pyspark.sql.window import Window

    # tokenize ONCE in a lower projection (see bigrams_t scale contract)
    exploded = df.select(tokens(F.col(text_col)).alias("__toks")).select(
        F.explode(bigrams_t(F.col("__toks"))).alias("bigram")
    )
    counts = exploded.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col("bigram").asc()).limit(k)
    w = Window.orderBy(F.col("n").desc(), F.col("bigram").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "bigram", "n", "rank"
    )


def text_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document profile: tokens, ratios, language, quality, fingerprint.

    The token array is materialized ONCE in a lower Project and referenced by
    every feature (it previously re-derived ~7x per row; Catalyst's
    CollapseProject keeps a multiply-referenced non-trivial alias as its own
    projection, so the split is real, not cosmetic)."""
    c = F.col(text_col)
    base = df.select(F.col(id_col), c.alias("__text"), tokens(c).alias("__toks"))
    toks, text = F.col("__toks"), F.col("__text")
    return base.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.round(punct_ratio(text), 4).alias("punct_ratio"),
        F.round(_stopword_ratio_t(toks), 4).alias("stopword_ratio"),
        _lang_id_t(toks).alias("pred_lang"),
        _quality_score_t(toks, text).alias("quality"),
        fingerprint(text).alias("fingerprint"),
    )


def bigram_rarity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
) -> DataFrame:
    """CORPUS-RELATIVE quality stats per document — the cross-document
    signal (rare/hapax n-gram filtering) that per-doc profiles can't see:
    for every distinct bigram of a doc, its document frequency across the
    corpus, aggregated to ``(id, n_bigrams, n_common, sum_df)`` where
    ``n_common`` counts bigrams appearing in >= ``min_df`` docs.  A doc
    whose bigrams appear nowhere else is likely junk (OCR noise, boilerplate
    mangling); one whose bigrams are all corpus-common is likely template
    spam — both tails are filterable from these integers, and ratios
    (:func:`bigram_rarity_derived`) stay JVM-side so the stats are
    engine-exact.

    Scale: distinct-bigram explode -> document frequency as a WINDOW count
    over the bigram partitioning -> per-doc sums; shuffles are on bigram/id
    keys only, never raw text.  The window form replaces the old
    hash-agg + join-back on the bigram key: the join re-sorted both sides
    of the 2.5M-row exploded frame where the window rides its single
    exchange (digest-identical outputs; sf1.0 3.4 -> 2.2 s measured).
    Docs with fewer than 2 tokens emit (id, 0, 0, 0)."""
    from pyspark.sql.window import Window

    b = df.select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("__toks")
    ).select(
        "doc",
        F.explode(F.array_distinct(bigrams_t(F.col("__toks")))).alias("bg"),
    )
    stats = (
        b.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("bg")))
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum((F.col("df") >= min_df).cast("int")).cast("bigint").alias("n_common"),
            F.sum("df").cast("bigint").alias("sum_df"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc"))
        .join(stats, on="doc", how="left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce("n_common", F.lit(0)).cast("bigint").alias("n_common"),
            F.coalesce("sum_df", F.lit(0)).cast("bigint").alias("sum_df"),
        )
    )


def bigram_rarity_derived(stats: DataFrame) -> DataFrame:
    """JVM-side ratios over the integer rarity stats: common_ratio (share
    of bigrams seen in >= min_df docs) and avg_df (mean corpus document
    frequency of the doc's bigrams)."""
    n = F.col("n_bigrams")
    return stats.select(
        "*",
        F.when(n > 0, F.col("n_common") / n).alias("common_ratio"),
        F.when(n > 0, F.col("sum_df") / n).alias("avg_df"),
    )


def shingles_t(toks: Column, n: int = 5) -> Column:
    """Distinct n-token shingles as 'w1 w2 ... wn' strings over an
    ALREADY-MATERIALIZED token array; fewer than n tokens yields an empty
    array.  Same scale contract as :func:`bigrams_t` — an inline token
    expression re-tokenizes per element inside the interpreted HOF lambda
    (O(tokens^2)/doc)."""
    cnt = F.coalesce(F.size(toks), F.lit(0))
    idx = F.sequence(F.lit(1), F.greatest(cnt - (n - 1), F.lit(0)))
    return F.when(cnt < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
        )
    )


def doc_repetition(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Intra-document repetition stats — the Gopher-style repetition
    filters (Rae et al. 2021 §A1.1) reduced to ALL-INTEGER outputs:
    ``(id, n_tokens, n_distinct_tokens, n_bigrams, n_distinct_bigrams,
    sum_token_chars)``.  Duplicate-token/bigram ratios and mean word length
    are one integer division away and never enter the output, so the stats
    are engine-exact under any partitioning.

    ONE narrow Project per doc, NO shuffle: token and bigram arrays are
    materialized in lower Projects (the bigrams_t scale contract), then
    sized/deduped/summed as interpreted-but-linear array ops.  The whole
    frame is a map-side pass — at 100 TB it pipelines with the scan."""
    base = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
        .select(id_col, F.col("__toks"), bigrams_t(F.col("__toks")).alias("__bg"))
    )
    toks, bg = F.col("__toks"), F.col("__bg")
    return base.select(
        F.col(id_col),
        F.coalesce(F.size(toks), F.lit(0)).alias("n_tokens"),
        F.coalesce(F.size(F.array_distinct(toks)), F.lit(0)).alias("n_distinct_tokens"),
        F.coalesce(F.size(bg), F.lit(0)).alias("n_bigrams"),
        F.coalesce(F.size(F.array_distinct(bg)), F.lit(0)).alias("n_distinct_bigrams"),
        F.coalesce(
            F.aggregate(toks, F.lit(0).cast("bigint"), lambda a, t: a + F.length(t)),
            F.lit(0).cast("bigint"),
        ).alias("sum_token_chars"),
    )


def doc_quality_rules(
    min_tokens: int = 15,
    min_distinct_per_mille: int = 600,
    min_mean_chars_deci: int = 30,
    max_mean_chars_deci: int = 100,
) -> dict:
    """Gopher-style document quality filters AS VALOR RULES over the
    integer feature row :func:`doc_repetition` produces, as SQL-text gates
    — the rule algebra applied to the training-data domain: too-short docs,
    token-repetition beyond threshold (distinct/total below
    ``min_distinct_per_mille``), and mean word length outside [3.0, 10.0]
    chars.  Every decision is an integer cross-product (per-mille /
    deci-char thresholds), so verdicts are exact and engine-portable."""
    nt, nd = "CAST(n_tokens AS BIGINT)", "CAST(n_distinct_tokens AS BIGINT)"
    return gates({
        "min_tokens": [(f"{nt} < {sql_lit(min_tokens)}", "'TooFewTokens'")],
        "repetition": [(f"{nt} > 0 AND {nd} * 1000 < {nt} * {sql_lit(min_distinct_per_mille)}",
                        "'TooRepetitive'")],
        "word_length": [
            (f"{nt} > 0 AND sum_token_chars * 10 < {nt} * {sql_lit(min_mean_chars_deci)}",
             "'WordsTooShort'"),
            (f"{nt} > 0 AND sum_token_chars * 10 > {nt} * {sql_lit(max_mean_chars_deci)}",
             "'WordsTooLong'"),
        ],
    })


def tfidf_topk(
    df: DataFrame,
    terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """TF-IDF ranked retrieval: top-``k`` documents for a bag-of-terms
    query, scored ``sum over matching terms of tf * idf`` with
    ``idf = ln((N+1)/(df+1)) + 1`` (the smoothed scikit-style variant).
    Returns ``(id, score, rank)``; ties break by id ascending.

    Engine-exact float discipline (the col_stats lesson): idf is ROUNDED
    to 6 decimals and cast to DECIMAL before the per-doc sum, and tf is an
    integer — so the score aggregation is exact decimal arithmetic,
    independent of partitioning/order, and the only float op (one ln per
    query term) is computed once on a count, where JVM and DuckDB libm
    agree within the rounding.

    Scale shape: tokens explode ONLY for query-term matches (the filter
    sits under the explode, so the shuffle carries (doc, term) hits, not
    the corpus); document frequency aggregates |terms| rows; the idf join
    broadcasts (|terms| rows); the final top-k is orderBy+limit —
    TakeOrderedAndProject, per-partition partial top-k.

    The tokenize chain is spread to a byte-derived width INSIDE the
    operator (callers pass the raw table) and ``tf`` is materialized once
    via a lazy localCheckpoint: the idf branch and the scored branch both
    consume ``tf``, and without the barrier each triggers its own full
    corpus tokenization; ``n_docs`` counts the unspread input, so the
    count's scan stays a column-pruned parquet count instead of shuffling
    the text."""
    from valor_spark.utils import spread_width

    terms_arr = F.array(*[F.lit(t) for t in terms])
    hits = (
        df.select(F.col(id_col).alias("doc"), F.col(text_col))
        .repartition(spread_width(df))
        .select("doc", tokens(F.col(text_col)).alias("__toks"))
        .select(
            "doc",
            F.explode(
                F.filter(F.col("__toks"), lambda t: F.array_contains(terms_arr, t))
            ).alias("term"),
        )
    )
    tf = (
        hits.groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    n_docs = df.select(F.count(F.lit(1)).alias("n"))
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            F.round(
                F.log((F.col("n") + 1) / (F.col("df") + 1)) + 1, 6
            ).cast("decimal(18,6)").alias("idf"),
        )
    )
    scored = (
        tf.join(F.broadcast(idf), on="term")
        .groupBy("doc")
        .agg(F.sum(F.col("tf") * F.col("idf")).alias("__score"))
    )
    from pyspark.sql.window import Window

    top = scored.orderBy(F.col("__score").desc(), F.col("doc").asc()).limit(k)
    w = Window.orderBy(F.col("__score").desc(), F.col("doc").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("doc").alias(id_col),
        F.col("__score").cast("double").alias("score"),
        "rank",
    )


def _winnow_arrow(k: int, w: int, id_name: str, mode: str):
    """mapInArrow winnowing kernel over ``(id, __toks)`` — exact replica of
    the ``kgram_hashes_t`` -> ``winnow_t`` Column chain kept in
    ``tests/reference_fingerprints.py`` (winnowing: Schleimer/Wilkerson/
    Aiken, SIGMOD'03 §4 — the min hash of every w-window over the rolling
    k-gram hash stream, so any shared passage of w+k-1 tokens yields a
    shared fingerprint), which is
    ~10M interpreted HOF lambda evaluations (one md5 + concat per k-gram,
    one array_min per window) on a 50k-doc corpus.

    The gram bytes are sliced out of ONE per-doc UTF-8 buffer (identical
    bytes to ``concat_ws(" ", slice(toks, i, k))``), each md5's leading 8
    bytes are the uint64 the 16-hex prefix encodes, and the w-window min
    runs as ``w-1`` vectorized ``np.minimum`` passes.  Fixed-width
    lowercase hex compares exactly like the uint64, so min/distinct/sort
    agree with the string forms bit-for-bit.

    ``mode='fps'``: emit exploded ``(id, fp int64)`` rows — equality-only
    consumers (the pair self-join), int64 keys halve the shuffled key
    bytes vs 16-char strings.
    ``mode='profile'``: emit ``(id, n_kgrams, n_fp, fp_digest)`` — the
    :func:`winnow_profile` row, digest = md5 of the comma-joined sorted
    hex set (sorted by uint64 == sorted hex)."""

    def fn(batches):
        from hashlib import md5

        import numpy as np
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(id_name)
            tl = batch.column("__toks").to_pylist()
            out_idx: list[int] = []
            fp_chunks = []
            n_kgrams = np.zeros(batch.num_rows, dtype=np.int32)
            n_fp = np.zeros(batch.num_rows, dtype=np.int32)
            digests: list = [None] * batch.num_rows
            for r, toks in enumerate(tl):
                if toks is None or len(toks) < k:
                    continue
                m = len(toks)
                text = " ".join(toks)
                enc = text.encode("utf-8")
                if len(enc) == len(text):  # pure-ASCII fast path
                    lens = [len(t) for t in toks]
                else:
                    lens = [len(t.encode("utf-8")) for t in toks]
                starts = np.zeros(m + 1, dtype=np.int64)
                np.cumsum(np.asarray(lens, dtype=np.int64) + 1, out=starts[1:])
                ends = starts[1:] - 1  # byte end of token i (excl. the space)
                mp = m - k + 1
                mv = memoryview(enc)
                h = np.empty(mp, dtype=np.uint64)
                ib = int.from_bytes
                for i in range(mp):
                    h[i] = ib(
                        md5(mv[starts[i]:ends[i + k - 1]]).digest()[:8], "big"
                    )
                if mp <= w:
                    fps = h.min(keepdims=True)
                else:
                    nwin = mp - w + 1
                    M = h[:nwin].copy()
                    for s in range(1, w):
                        np.minimum(M, h[s:s + nwin], out=M)
                    fps = M
                fps = np.unique(fps)
                if mode == "profile":
                    n_kgrams[r] = mp
                    n_fp[r] = len(fps)
                    digests[r] = md5(
                        ",".join("%016x" % x for x in fps).encode()
                    ).hexdigest()[:16]
                else:
                    out_idx.extend([r] * len(fps))
                    fp_chunks.append(fps)
            if mode == "profile":
                # one row per INPUT row — zero-gram docs carry 0/0/NULL,
                # exactly like the Column chain's empty-array case
                yield pa.record_batch(
                    [
                        ids,
                        pa.array(n_kgrams, type=pa.int32()),
                        pa.array(n_fp, type=pa.int32()),
                        pa.array(digests, type=pa.string()),
                    ],
                    names=[id_name, "n_kgrams", "n_fp", "fp_digest"],
                )
            else:
                take = pa.array(np.asarray(out_idx, dtype=np.int64))
                flat = (
                    np.concatenate(fp_chunks)
                    if fp_chunks
                    else np.zeros(0, dtype=np.uint64)
                )
                yield pa.record_batch(
                    [ids.take(take), pa.array(flat.view(np.int64))],
                    names=[id_name, "fp"],
                )

    return fn


def winnow_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Per-document winnowing fingerprint summary:
    ``(id, n_kgrams, n_fp, fp_digest)`` where ``fp_digest`` is a 16-hex md5
    of the sorted distinct fingerprint set — one short string that pins the
    EXACT selected-hash set for cross-engine comparison.

    Tokenization stays a JVM expression; the k-gram md5 stream and the
    window-min selection run as ONE vectorized mapInArrow pass
    (:func:`_winnow_arrow` — the Column chain is ~10M interpreted HOF
    lambda evaluations on a 50k-doc corpus, measured the round-6 doc-tier
    wall)."""
    idt = df.schema[id_col].dataType.simpleString()
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    return base.mapInArrow(
        _winnow_arrow(k, w, id_col, "profile"),
        f"{id_col} {idt}, n_kgrams int, n_fp int, fp_digest string",
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_fp_freq: int = 50,
) -> DataFrame:
    """Near-duplicate pairs by shared winnowing fingerprints (the MOSS
    scheme): every (a, b) doc pair, a < b, sharing >= ``min_shared``
    selected hashes, with the shared count.  Returns ``(doc_a, doc_b,
    n_shared)``.

    Scale shape: explode the selected set (already ~1/w of the k-gram
    stream — winnowing IS the sampling step, so the shuffle carries w-fold
    fewer rows than a full shingle join), drop fingerprints appearing in
    more than ``max_fp_freq`` docs (boilerplate hashes pair half the corpus
    with the other half — the frequency cap bounds any bucket's pair
    fan-out at max_fp_freq^2, same treatment as ngram_jaccard), self-join
    on the fingerprint, count per pair.  Shuffles carry (doc, hash)
    scalars only, never text — and the fingerprint key is the int64 the
    16-hex prefix encodes (produced by the vectorized
    :func:`_winnow_arrow` kernel; equality is bijective with the string
    form, and only equality is consumed here), so the join key is 8 bytes
    instead of a 16-char string."""
    idt = df.schema[id_col].dataType.simpleString()
    fps = (
        df.select(F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("__toks"))
        .mapInArrow(_winnow_arrow(k, w, "doc", "fps"), f"doc {idt}, fp long")
    )
    # frequency cap as a WINDOW count over the fp partitioning instead of a
    # groupBy + join back: the join form evaluates the whole tokenize ->
    # kgram-md5 -> winnow derivation TWICE (once under the aggregate's
    # partial side, once under the join's exchange); the window form derives
    # fps once, exchanges once on fp, and the self-join below reuses that
    # same exchange on both sides (sorts only).  Row set identical: count
    # rows per fp == docs per fp (the selected set is per-doc distinct).
    from pyspark.sql.window import Window

    rare = (
        fps.withColumn(
            "__n_docs", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .filter(F.col("__n_docs") <= max_fp_freq)
        .drop("__n_docs")
    )
    a = rare.select(F.col("fp"), F.col("doc").alias("doc_a"))
    b = rare.select(F.col("fp"), F.col("doc").alias("doc_b"))
    return (
        a.join(b, on="fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def ngram_contamination(
    corpus: DataFrame,
    evalset: DataFrame,
    n: int = 5,
    min_shared: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/eval CONTAMINATION detection — the n-gram-collision check run
    before training on web data: every (corpus doc, eval doc) pair sharing
    >= ``min_shared`` distinct n-token shingles, with the shared count.
    Returns ``(train_id, eval_id, n_shared)``.

    Scale shape: both sides explode to distinct shingles keyed by the
    int64 the 16-hex md5 prefix encodes (the join/shuffle carries an
    8-byte key, not the n-token string), equi-join on the hash, count per
    pair.  The eval side is normally tiny (a benchmark suite) — AQE
    broadcasts it; the corpus side streams.  Hash collisions over-count
    with probability ~2^-64 per pair — acceptable for a screening report
    (the md5 prefix is also what makes the decision engine-portable).

    The shingle hashing rides :func:`_winnow_arrow` with ``w=1`` (window
    min of width 1 == the distinct gram-hash set itself): the Column chain
    is one interpreted concat_ws + md5 HOF evaluation per gram — the same
    ~10M-lambda wall the winnowing operators had (verified shingle-set-
    identical to the Column form on the gate corpora)."""
    def side(df: DataFrame, out: str) -> DataFrame:
        idt = df.schema[id_col].dataType.simpleString()
        return (
            df.select(
                F.col(id_col).alias(out), tokens(F.col(text_col)).alias("__toks")
            )
            .mapInArrow(_winnow_arrow(n, 1, out, "fps"), f"{out} {idt}, fp long")
            .withColumnRenamed("fp", "h")
        )

    a = side(corpus, "train_id")
    b = side(evalset, "eval_id")
    return (
        a.join(b, on="h")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
