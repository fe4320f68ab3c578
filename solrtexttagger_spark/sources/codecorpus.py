"""Deterministic synthetic source-code corpus — the exact input shape of
the north rule (BASELINE.json input_hint):

  (repo string, path string, commit string, lang string, content string)

Seeded, scale-parameterized, no external data (FIXTURES.md §1). Content is
synthetic source code with a Zipf-skewed keyword mix (stopword-grade terms
like `def`/`return`/`public` dominate — exercising the skew paths) plus
planted dictionary phrases at known places so the tagger and BM25 oracles
have ground truth.

The per-row invariant checked downstream is sha256(content) equality
between the engine's lineage output and this source table.
"""

from __future__ import annotations

import hashlib
import random

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

COLUMNS = ("repo", "path", "commit", "lang", "content")

LANGS = ["python", "java", "scala", "c", "go", "js"]
EXT = {"python": "py", "java": "java", "scala": "scala", "c": "c", "go": "go", "js": "js"}

# Zipf-skewed keyword pool (deliberately stopword-like at the head)
KEYWORDS = (
    ["def", "return", "import", "public", "static", "class", "if", "else"] * 8
    + ["for", "while", "try", "except", "void", "int", "self", "new"] * 4
    + ["lambda", "yield", "async", "await", "struct", "interface", "func"] * 2
    + ["override", "virtual", "template", "typename", "goroutine", "channel"]
)

PLANTED_PHRASES = [
    "sorted posting list",
    "block max wand",
    "term dictionary seek",
    "longest dominant right",
    "inverted index merge",
]


def _row(i: int, seed: int, burstiness: float = 0.0) -> tuple[str, str, str, str, str]:
    rng = random.Random((seed << 20) ^ i)
    repo = f"org{i % 7}/repo{i % 41}"
    lang = LANGS[i % len(LANGS)]
    path = f"src/dir{rng.randint(0, 30)}/file{i}.{EXT[lang]}"
    commit = hashlib.sha1(f"{seed}:{repo}:{path}".encode()).hexdigest()
    n_tokens = rng.randint(30, 220)
    words = []
    for _ in range(n_tokens):
        r = rng.random()
        if r < 0.55:
            words.append(rng.choice(KEYWORDS))
        elif r < 0.9:
            w = f"ident_{rng.randint(0, 500)}"
            words.append(w)
            # term burstiness: real source files reuse a defined identifier
            # many times locally (the property that gives BM25 tf skew and
            # block-max pruning something to prune). Opt-in so the default
            # table stays byte-stable across rounds.
            if burstiness and rng.random() < burstiness:
                words.extend([w] * rng.randint(3, 12))
        else:
            words.append(f"v{rng.randint(0, 9)}")
    # plant a known phrase in ~30% of files at a random word boundary
    if rng.random() < 0.3:
        phrase = PLANTED_PHRASES[i % len(PLANTED_PHRASES)]
        pos = rng.randint(0, len(words))
        words[pos:pos] = phrase.split()
    content = " ".join(words)
    return repo, path, commit, lang, content


def synth_code_corpus(
    spark: SparkSession,
    n_files: int,
    *,
    seed: int = 42,
    partitions: int | None = None,
    burstiness: float = 0.0,
) -> DataFrame:
    """Distributed deterministic generation: the i-th row is a pure function
    of (i, seed, burstiness), so any partitioning yields the identical table.
    burstiness > 0 adds local identifier reuse (tf skew) — see _row. The
    rows are generated on the executors from a range and leave the Python
    workers as Arrow batches."""
    if partitions is None:
        partitions = max(2, spark.sparkContext.defaultParallelism)

    def generate(batches):
        for batch in batches:
            rows = [_row(i, seed, burstiness) for i in batch.column("id").to_pylist()]
            yield pa.RecordBatch.from_arrays(
                [pa.array([r[c] for r in rows], pa.string()) for c in range(len(COLUMNS))],
                names=COLUMNS,
            )

    return spark.range(0, n_files, 1, partitions).mapInArrow(
        generate, ", ".join(f"{c} string" for c in COLUMNS)
    )


def with_content_sha(df: DataFrame, content_col: str = "content") -> DataFrame:
    return df.withColumn("content_sha256", F.sha2(F.col(content_col), 256))
