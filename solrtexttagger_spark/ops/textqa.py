"""Text analysis operators: language-ID, quality scoring, token stats,
document fingerprinting. All pure built-in expressions (JVM-side,
oracle-checkable in ANSI SQL)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from solrtexttagger_spark.plans import array_lit

# Tiny deterministic marker lexicons for the n-gram/stopword language
# heuristic. (A real pipeline plugs in fastText/CLD3 via a pandas UDF; the
# operator shape — narrow projection, no shuffle — is identical.)
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "nicht", "ist"],
    "es": ["el", "la", "los", "que", "y", "es"],
    "fr": ["le", "la", "les", "et", "est", "que"],
}

STOPWORDS_SQL = ["the", "a", "of", "and", "to", "in", "is"]


def _words(text_col: str):
    return F.split(F.col(text_col), " ")


def _ratio(words, marker_list):
    arr = array_lit(marker_list, "string")
    hits = F.size(F.filter(words, lambda w: F.array_contains(arr, w)))
    return hits.cast("double") / F.size(words).cast("double")


def language_id(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Marker-ratio language ID. Output (doc_id, pred_lang, pred_score).
    Deterministic argmax: ties broken by language code ascending."""
    words = _words(text_col)
    ratios = [(lang, _ratio(words, ms)) for lang, ms in sorted(LANG_MARKERS.items())]
    # build argmax chain: greatest score wins, first (alphabetical) on ties
    best_score = F.greatest(*[r for _, r in ratios])
    pred = None
    for lang, r in ratios:
        cond = r == best_score
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    return df.select(
        F.col(id_col),
        pred.alias("pred_lang"),
        F.round(best_score, 4).alias("pred_score"),
    )


def token_stats(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_tokens, n_distinct, n_chars)."""
    words = _words(text_col)
    return df.select(
        F.col(id_col),
        F.size(words).alias("n_tokens"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
        F.length(F.col(text_col)).alias("n_chars"),
    )


def quality_score(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Heuristic document quality: mix of type-token ratio, mean word
    length band, and stopword ratio. Output
    (doc_id, n_tokens, ttr, mean_word_len, stop_ratio, quality) — all
    rounded for cross-engine comparability."""
    words = _words(text_col)
    n = F.size(words).cast("double")
    ttr = F.size(F.array_distinct(words)).cast("double") / n
    mean_len = F.aggregate(
        words, F.lit(0.0), lambda acc, w: acc + F.length(w).cast("double")
    ) / n
    stop = array_lit(STOPWORDS_SQL, "string")
    stop_ratio = F.size(F.filter(words, lambda w: F.array_contains(stop, w))).cast(
        "double"
    ) / n
    # quality in [0,1]: reward lexical diversity and 3..8 char mean words,
    # penalize stopword-stuffing
    len_band = F.lit(1.0) - F.least(
        F.lit(1.0), F.abs(mean_len - F.lit(5.5)) / F.lit(5.5)
    )
    quality = F.lit(0.5) * ttr + F.lit(0.3) * len_band + F.lit(0.2) * (
        F.lit(1.0) - stop_ratio
    )

    # portable round-half-up via pure IEEE ops: floor(x*1e4 + 0.5)/1e4.
    # Engine round() builtins disagree on exact .xxxx5 ties (Spark rounds
    # the exact binary value HALF_UP; DuckDB's x*1e4 lands on the next
    # double and rounds away) — this formula is the same double arithmetic
    # everywhere, so Spark == DuckDB bit-for-bit on every input.
    def r4(c):
        return F.floor(c * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)

    return df.select(
        F.col(id_col),
        F.size(words).alias("n_tokens"),
        r4(ttr).alias("ttr"),
        r4(mean_len).alias("mean_word_len"),
        r4(stop_ratio).alias("stop_ratio"),
        r4(quality).alias("quality"),
    )


def tfidf_keywords(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
) -> DataFrame:
    """Per-document TF-IDF keyword extraction: top_k terms by
    tf * ln(N / df), ties broken by term. Output
    (doc_id, rank, term, tfidf round 4). All built-in expressions; the
    only shuffles are the doc-term count and the tiny df aggregate."""
    from pyspark.sql import Window

    words = _words(text_col)
    n = df.count()
    tok = (
        df.select(F.col(id_col), F.explode(words).alias("term"))
        .where(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    # NO broadcast hint on dfreq: it has one row per DISTINCT TERM, which on
    # a web/code corpus grows with the vocabulary (1e8-1e9 rows at 100x) — a
    # guaranteed broadcast OOM. A plain shuffle join on term is the right
    # shape (both sides already hash on term; AQE may still choose to
    # broadcast when the measured size is genuinely small).
    dfreq = tok.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    scored = tok.join(dfreq, "term").withColumn(
        "tfidf",
        F.round(
            F.col("tf").cast("double")
            * F.log(F.lit(float(n)) / F.col("df").cast("double")),
            4,
        ),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            F.col(id_col),
            F.col("rank").cast("long").alias("rank"),
            "term",
            "tfidf",
        )
    )


ROLLING_HASH_MOD = 2147483647  # 2^31 - 1
ROLLING_HASH_BASE = 31


def rolling_hash(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Rabin-Karp-style rolling content hash, fully JVM-side:
    h = fold over char codes of (h * 31 + code) mod (2^31 - 1), seeded with
    the first char's code. Output (doc_id, rhash). Empty text -> NULL."""
    chars = F.filter(F.split(F.col(text_col), ""), lambda c: c != "")
    codes = F.transform(chars, lambda c: F.ascii(c).cast("long"))
    h = F.aggregate(
        F.slice(codes, 2, F.greatest(F.size(codes) - 1, F.lit(0))),
        F.element_at(codes, 1),
        lambda acc, x: (acc * ROLLING_HASH_BASE + x) % ROLLING_HASH_MOD,
    )
    return df.select(
        F.col(id_col),
        F.when(F.size(codes) > 0, h).alias("rhash"),
    )


def fingerprint(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Canonical-form fingerprint (sorted distinct tokens, md5) — the
    classic 'fingerprint clustering' key for near-duplicate text.
    Output (doc_id, fp)."""
    words = _words(text_col)
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(words)))
    return df.select(F.col(id_col), F.md5(canon).alias("fp"))


def ngram_contamination(
    df: DataFrame,
    probe_texts: list[str],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: per document, the fraction of its distinct
    word n-grams that appear in ANY probe text (the eval/benchmark set).

    The probe n-gram set is tiny by definition (benchmarks are small) and
    broadcasts as a literal array — the corpus side stays a narrow
    projection with no shuffle, the 100 TB shape for decontamination
    filters. Output: (doc_id, n_grams, n_contaminated, contamination) with
    contamination rounded to 4.
    """
    probe_grams = sorted(
        {
            " ".join(ws[i : i + n])
            for t in probe_texts
            for ws in [t.split(" ")]
            if len(ws) >= n
            for i in range(len(ws) - n + 1)
        }
    )
    probe_arr = array_lit(probe_grams, "string")
    words = _words(text_col)
    grams = F.array_distinct(
        F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
            ),
        ).otherwise(F.array())
    )
    base = df.select(F.col(id_col), grams.alias("__g"))
    hit = F.size(F.array_intersect(F.col("__g"), probe_arr))
    total = F.size("__g")
    return base.select(
        id_col,
        total.cast("long").alias("n_grams"),
        hit.cast("long").alias("n_contaminated"),
        F.round(
            F.when(total > 0, hit.cast("double") / total.cast("double")).otherwise(
                F.lit(0.0)
            ),
            4,
        ).alias("contamination"),
    )


def pii_stats(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """PII-surface indicators per document, engine-portable by construction
    (token membership tests, not regex — Java and RE2 regex dialects
    diverge): tokens containing '@' (email-shaped), tokens starting
    'http'/'www' (url-shaped), and all-digit tokens. A production redactor
    replaces the classifiers; the narrow no-shuffle plan is the point.
    Output: (doc_id, n_email_like, n_url_like, n_digit_tokens)."""
    words = _words(text_col)
    n_email = F.size(F.filter(words, lambda w: w.contains("@")))
    n_url = F.size(
        F.filter(
            words,
            lambda w: w.startswith("http") | w.startswith("www"),
        )
    )
    n_digit = F.size(
        F.filter(
            words,
            lambda w: (w != "") & (F.translate(w, "0123456789", "") == ""),
        )
    )
    return df.select(
        F.col(id_col),
        n_email.cast("long").alias("n_email_like"),
        n_url.cast("long").alias("n_url_like"),
        n_digit.cast("long").alias("n_digit_tokens"),
    )


def repetition_stats(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Intra-document repetition metrics (the C4/Gopher-style repetition
    quality filters): over the document's word n-grams (with multiplicity),
    the duplicate fraction and the most-frequent-gram fraction.

    Entirely shuffle-free: grams stay an array column; the top-gram count
    is a single fold over the SORTED gram array (equal grams are adjacent,
    so the longest equal-run is the max multiplicity). Output:
    (doc_id, n_grams, n_dup_grams, dup_fraction, top_gram_fraction).
    """
    words = _words(text_col)
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = df.select(F.col(id_col), F.array_sort(grams).alias("__g"))
    total = F.size("__g")
    n_dup = total - F.size(F.array_distinct("__g"))
    # longest equal-run over the sorted array == max gram multiplicity
    run_state = F.aggregate(
        F.col("__g"),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    top = run_state["best"]
    return base.select(
        id_col,
        total.cast("long").alias("n_grams"),
        n_dup.cast("long").alias("n_dup_grams"),
        F.round(
            F.when(total > 0, n_dup.cast("double") / total.cast("double")).otherwise(
                F.lit(0.0)
            ),
            4,
        ).alias("dup_fraction"),
        F.round(
            F.when(total > 0, top.cast("double") / total.cast("double")).otherwise(
                F.lit(0.0)
            ),
            4,
        ).alias("top_gram_fraction"),
    )


def unigram_logppl(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    model_stats: DataFrame | None = None,
    round_to: int = 4,
) -> DataFrame:
    """Language-model quality signal (the CCNet/KenLM perplexity filter,
    with a unigram corpus model): per-document cross-entropy
    H(doc) = -(1/n) * sum_w tf_w * ln p(w) under p(w) = cf_w / total
    fit on THIS corpus — or pass ``model_stats`` (term, cf) fit on a
    reference corpus (the held-out production shape; unseen terms then
    drop out of the sum, a add-nothing smoothing documented here).
    Lower H = more typical text; exp(H) is the unigram perplexity.
    Output (doc_id, n_tokens, cross_entropy).

    Shape: one tokenize + (doc, term) aggregation; the model is a
    groupBy over the same relation (or the provided stats) joined back
    on term — all built-in expressions, two shuffles total, no UDF."""
    words = F.explode(F.split(F.col(text_col), " ")).alias("term")
    tok = (
        df.select(F.col(id_col).alias("doc_id"), words)
        .where(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    if model_stats is None:
        model = tok.groupBy("term").agg(F.sum("tf").cast("double").alias("cf"))
    else:
        model = model_stats.select("term", F.col("cf").cast("double").alias("cf"))
    total = model.agg(F.sum("cf")).collect()[0][0] or 1.0
    ce = -F.sum(F.col("tf") * F.log(F.col("cf") / F.lit(float(total)))) / F.sum("tf")
    return (
        tok.join(model, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(ce, round_to).alias("cross_entropy"),
        )
    )
