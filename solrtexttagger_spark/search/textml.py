"""/stream text-ML: ``features()`` / ``train()`` / ``classify()`` —
Solr's TextLogitStream family.

Reference surface: Solr Streaming Expressions ship a distributed
text-classifier trainer: ``features(col, q, field, outcome,
numTerms)`` selects the top terms by INFORMATION GAIN against a binary
outcome (FeaturesSelectionStream: each shard scores candidate terms,
the merger keeps the global top); ``train(col, features(...), q,
name, field, outcome, maxIterations)`` runs batch logistic regression
by gradient descent, ONE distributed pass per iteration, emitting a
model tuple (weights, error) per iteration (TextLogitStream); and
``classify(model(...), docs, field)`` scores a tuple stream with the
trained model (probability + score per doc).

Spark-first shape:

- :func:`features_ig` — term presence comes straight from the
  engine's own postings (one explode, docs counted per (term, class)
  in ONE aggregate); the IG formula is closed-form Catalyst column
  algebra (0·log0 guarded), and the top-N is TakeOrderedAndProject.
  No per-shard scoring + merge protocol needed: the single aggregate
  IS the global answer.
- :func:`train_logit` — the design matrix (one compact feature ARRAY
  per labeled doc, presence features + bias) is built ONCE and
  persisted; every GD iteration is ONE aggregate computing the full
  gradient (n_terms+1 sums) and the mean log-loss — exactly Solr's
  iteration = one distributed pass, with the weight vector shipped as
  a literal (it is n_terms floats, never data-sized). The driver loop
  is over ITERATIONS (bounded hyperparameter), not data.
- :func:`classify_docs` — map-only scoring: tokenize the text column
  (the corpus' whitespace analyzer), presence lookups against the
  model's term list, sigmoid as one codegen'd expression. No index
  needed at classify time (Solr's ClassifyStream likewise re-analyzes
  the tuple's field).

Documented simplification vs Solr: features here are BINARY term
presence (+ bias); Solr's TextLogitStream scales by tf-idf. Presence
is the standard IG-selection pairing, keeps the oracle exact, and the
trained weights feed search/ltr.py's linear model directly (the
``train -> ltr_rerank`` serving path)."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from solrtexttagger_spark.index.build import InvertedIndex
from solrtexttagger_spark.plans import local_frame


def features_ig(
    index: InvertedIndex,
    outcome_df: DataFrame,
    *,
    n_terms: int = 10,
    id_col: str = "doc_id",
    outcome_col: str = "outcome",
) -> DataFrame:
    """Top-``n_terms`` terms by information gain against a binary
    outcome (Solr FeaturesSelectionStream). ``outcome_df``:
    (id_col, outcome_col in {0,1}) — the labeled training set; docs
    outside it are ignored. Returns (rank, term, ig, df, idf) with
    idf = ln(N/df) over the LABELED set, Solr's emitted idf_d shape."""
    lab = outcome_df.select(
        F.col(id_col).alias("doc_id"),
        F.col(outcome_col).cast("double").alias("__y"),
    )
    tot = lab.agg(
        F.count("*").alias("n"), F.sum("__y").alias("p")
    ).collect()[0]
    n_all, n_pos = int(tot["n"]), float(tot["p"] or 0.0)
    if n_all == 0:
        raise ValueError("outcome_df is empty")
    if n_pos == 0 or n_pos == n_all:
        raise ValueError("outcome must have both classes")

    presence = (
        index.postings.select(
            "term", F.explode("postings.doc_id").alias("doc_id")
        )
        .join(lab, "doc_id")
    )
    per_term = presence.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("__y").alias("pos")
    )

    def _h(p):
        # binary entropy with the 0*log0 = 0 guard
        safe = F.when((p <= 0) | (p >= 1), F.lit(0.0)).otherwise(
            -(p * F.log2(p) + (1 - p) * F.log2(1 - p))
        )
        return safe

    n_lit, p_lit = F.lit(float(n_all)), F.lit(n_pos)
    h_y = F.lit(
        -(n_pos / n_all) * math.log2(n_pos / n_all)
        - (1 - n_pos / n_all) * math.log2(1 - n_pos / n_all)
    )
    dfc = F.col("df").cast("double")
    p_in = F.col("pos") / dfc
    p_out = (p_lit - F.col("pos")) / (n_lit - dfc)
    cond = (dfc / n_lit) * _h(p_in) + (
        (n_lit - dfc) / n_lit
    ) * F.when(dfc == n_lit, F.lit(0.0)).otherwise(_h(p_out))
    scored = per_term.select(
        "term",
        F.col("df").cast("long").alias("df"),
        (h_y - cond).alias("ig"),
        F.log(n_lit / dfc).alias("idf"),
    )
    from pyspark.sql import Window

    # rank on the ROUNDED gain (term asc tie-break): near-equal IGs
    # differ in the last ulps between engines/plans, and an unrounded
    # float rank key flips ties (the repo-wide pre-rank discipline)
    rig = F.round("ig", 9)
    w = Window.orderBy(F.desc(rig), F.asc("term"))
    return (
        scored.orderBy(F.desc(rig), F.asc("term")).limit(n_terms)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select("rank", "term", "ig", "df", "idf")
    )


def train_logit(
    index: InvertedIndex,
    outcome_df: DataFrame,
    terms: list[str],
    *,
    iterations: int = 10,
    learning_rate: float = 0.1,
    id_col: str = "doc_id",
    outcome_col: str = "outcome",
) -> list[dict]:
    """Batch-GD logistic regression over binary term-presence features
    (Solr TextLogitStream's loop: one distributed pass per iteration).
    Returns one dict per iteration: {iteration, error (mean log-loss
    AFTER the update... Solr reports the pre-update pass; here it is
    the loss evaluated in the SAME pass that produced the gradient —
    i.e. the loss of the weights entering the iteration), weights
    (aligned with ``terms``), bias, terms}.

    The labeled design matrix builds once (presence array per doc) and
    persists; each iteration is ONE aggregate of n_terms+2 sums with
    the current weights inlined as literals."""
    if not terms:
        raise ValueError("train_logit needs a non-empty term list")
    if iterations <= 0:
        raise ValueError("iterations must be positive")
    lab = outcome_df.select(
        F.col(id_col).alias("doc_id"),
        F.col(outcome_col).cast("double").alias("__y"),
    )
    tset = local_frame(
        index.postings.sparkSession,
        [(t, i) for i, t in enumerate(terms)],
        "term string, __ti int",
    )
    hits = (
        index.postings.join(F.broadcast(tset), "term")
        .select("__ti", F.explode("postings.doc_id").alias("doc_id"))
        .join(lab, "doc_id")
        .groupBy("doc_id", "__y")
        .agg(F.collect_set("__ti").alias("__tis"))
    )
    # labeled docs with NO selected term still train (all-zero vector)
    mat = lab.join(
        hits.select("doc_id", "__tis"), "doc_id", "left"
    ).select(
        "__y",
        F.coalesce(
            F.col("__tis"), F.array().cast("array<int>")
        ).alias("__tis"),
    ).persist()
    n_labeled = mat.count()
    if n_labeled == 0:
        mat.unpersist()
        raise ValueError(
            "train_logit: no labeled docs (outcome_df matched nothing)"
        )
    # Size the per-iteration scan to the MATERIALIZED matrix, not to the
    # partitioning it inherited from the corpus join: the design matrix
    # is (outcome, tiny int array) per labeled doc, so a small labeled
    # set otherwise schedules dozens of near-empty tasks per GD
    # iteration x iterations. Derived from row count (guide §2
    # scale-adaptive partitioning): ~64k rows per task, capped at
    # 2 x parallelism — a corpus-scale labeled set keeps full fan-out,
    # coalesce() never increases partition count.
    sc = index.postings.sparkSession.sparkContext
    n_parts = max(
        1, min(sc.defaultParallelism * 2, -(-n_labeled // 65536))
    )
    it_mat = mat.coalesce(n_parts)

    k = len(terms)
    w = [0.0] * k
    b = 0.0
    out = []
    try:
        for it in range(1, iterations + 1):
            wmap = F.create_map(
                *[F.lit(x) for i in range(k) for x in (i, w[i])]
            )
            z = F.aggregate(
                "__tis",
                F.lit(float(b)),
                lambda acc, ti: acc + F.coalesce(wmap[ti], F.lit(0.0)),
            )
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            err = p - F.col("__y")
            eps = F.lit(1e-12)
            loss = -(
                F.col("__y") * F.log(F.greatest(p, eps))
                + (1 - F.col("__y"))
                * F.log(F.greatest(1 - p, eps))
            )
            aggs = [
                F.sum(
                    F.when(
                        F.array_contains("__tis", F.lit(i)), err
                    ).otherwise(F.lit(0.0))
                ).alias(f"g{i}")
                for i in range(k)
            ] + [
                F.sum(err).alias("gb"),
                F.avg(loss).alias("loss"),
                F.count("*").alias("n"),
            ]
            row = it_mat.agg(*aggs).collect()[0]
            n = float(row["n"])
            grad = [float(row[f"g{i}"]) / n for i in range(k)]
            gb = float(row["gb"]) / n
            out.append({
                "iteration": it,
                "error": float(row["loss"]),
                "weights": list(w),
                "bias": b,
                "terms": list(terms),
            })
            w = [w[i] - learning_rate * grad[i] for i in range(k)]
            b = b - learning_rate * gb
        # the final tuple carries the POST-update model (what Solr's
        # last iteration stores to the model collection)
        out.append({
            "iteration": iterations + 1,
            "error": out[-1]["error"],
            "weights": list(w),
            "bias": b,
            "terms": list(terms),
        })
    finally:
        mat.unpersist()
    return out


def classify_docs(
    docs: DataFrame,
    model: dict,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzer: str = "standard",
) -> DataFrame:
    """Score a doc stream with a trained model (Solr ClassifyStream):
    re-analyze ``text_col`` with the SAME analyzer family the index
    used — ``analyzer="standard"`` (default) extracts ``\\w+`` runs
    like analysis/core's StandardTokenizer, so 'great!' still fires the
    trained 'great' feature (Solr's ClassifyStream re-analyzes with the
    field's own analyzer; a whitespace split here would be train/serve
    skew); ``analyzer="whitespace"`` for pre-tokenized corpora. Emits
    (id, probability, score) where score is the raw logit. Map-only —
    one codegen'd expression per model term, no index, no shuffle."""
    terms, weights = model["terms"], model["weights"]
    bias = float(model.get("bias", 0.0))
    if analyzer == "standard":
        toks = F.expr(
            f"regexp_extract_all(lower(`{text_col}`), "
            r"'\\w+(?:[\'’]\\w+)*', 0)"
        )
    elif analyzer == "whitespace":
        toks = F.split(F.lower(F.col(text_col)), r"\s+")
    else:
        raise ValueError("analyzer must be 'standard' or 'whitespace'")
    z = F.lit(bias)
    for t, wt in zip(terms, weights):
        z = z + F.when(
            F.array_contains(toks, F.lit(t)), F.lit(float(wt))
        ).otherwise(F.lit(0.0))
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return docs.select(
        F.col(id_col),
        prob.alias("probability"),
        z.alias("score"),
    )
