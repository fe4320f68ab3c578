"""Seeded input generator for the benchmark.

Everything the engine sees comes from here: a synthetic source-code corpus
in the north-rule schema ``(repo, path, commit, lang, content)``, upsert
batches, a query stream and a gazetteer. The same ``(seed, sizes)`` always
gives the same inputs, and the generator also returns the ground truth the
output checks need (planted-phrase offsets, per-term document frequencies).

The identifier vocabulary is Zipf-distributed over ``VOCAB`` distinct
snake_case names (far more than a run queries, so the search layer's
per-term driver caches keep meeting first-time terms); a fixed set of
keywords appears in every file, so those terms have a document frequency
equal to the corpus size (the stopword-grade head).
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

import numpy as np

from solrtexttagger_spark.analysis.core import tokenize

VOCAB = 60_000
ZIPF_S = 1.05
LANGS = ["python", "java", "scala", "c", "go", "js"]
EXT = {"python": "py", "java": "java", "scala": "scala", "c": "c", "go": "go", "js": "js"}

# Head terms: every file's skeleton uses all of them, so each has df = N.
KEYWORDS = [
    "import", "from", "class", "def", "self", "if", "is", "none", "return",
    "else", "while", "not", "and", "pass", "for", "in", "finish", "try",
    "with", "lock", "as", "held", "assert", "or", "done", "break", "elif",
    "false", "continue", "yield", "lambda", "true", "except", "keyerror",
    "raise", "finally", "del",
]

# Closes every file's class; holds the keywords the functions do not.
FINISH = """\
    def finish(self):
        try:
            with self.lock as held:
                assert held or not self.done
                while held:
                    if self.done:
                        break
                    elif held is False:
                        continue
                    yield lambda: True
        except KeyError:
            raise
        finally:
            del self.lock
"""

# Identifier words. A planted phrase is written as "# see <phrase> notes";
# "see" and "notes" are not identifier words, so no gazetteer name can
# overlap a planted phrase without lying inside it.
BASE_WORDS = """
get set parse read write load save open close find scan seek emit flush
merge split join sort filter map reduce group count sum min max avg
build make init reset clear check test run start stop next prev push pop
add remove insert update delete apply visit walk match token term doc
field value key name path file line char byte word text node tree graph
edge root leaf child parent head tail left right first last size len
buffer cache queue stack heap table row col cell page chunk frame slot
header footer body meta info stat state mode type kind flag mask bit
hash code encode decode pack unpack load store fetch commit rollback
batch stream pipe channel socket port host addr user group role auth
config option param arg env var const local global shared thread lock
wait signal event timer clock date time zone unit scale rate limit
""".split()

PLANTED_PHRASES = [
    "sorted posting list",
    "block upper bound wand",
    "term dictionary seek ceiling",
    "longest dominant right",
    "inverted posting merge",
    "delta varint encoding",
    "segment impact bound",
    "phrase slop window",
]


def doc_id_of(repo: str, path: str) -> int:
    """The id ``with_doc_ids(df, ["repo", "path"])`` assigns: the first 60
    bits of sha256 over the unit-separated natural key."""
    key = f"{repo}\x1f{path}".encode()
    return int(hashlib.sha256(key).hexdigest()[:15], 16)


def analyzed_terms(text: str) -> set[str]:
    """Distinct terms of ``text`` under the default index analyzer."""
    return {w.lower() for w, _s, _e in filter(None, tokenize(text))}


@dataclass
class Corpus:
    rows: list[tuple[str, str, str, str, str]]  # repo, path, commit, lang, content
    doc_ids: list[int]
    # (doc_id, start, end, phrase) of every planted phrase occurrence
    planted: list[tuple[int, int, int, str]] = field(default_factory=list)
    # term -> number of documents containing it (default analyzer)
    df: dict[str, int] = field(default_factory=dict)

    @property
    def content_bytes(self) -> int:
        return sum(len(r[4].encode()) for r in self.rows)


class Generator:
    """One seeded source of every input of a run."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = random.Random(seed)
        nrng = np.random.default_rng(seed)
        names: set[str] = set()
        while len(names) < VOCAB:
            n = 2 if self.rng.random() < 0.4 else 3
            names.add("_".join(self.rng.choice(BASE_WORDS) for _ in range(n)))
        self.idents = sorted(names)
        nrng.shuffle(self.idents)  # rank order = popularity order
        ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self._cdf = np.cumsum(p / p.sum())
        self._nrng = nrng

    def zipf_idents(self, n: int) -> list[str]:
        """``n`` identifiers drawn from the Zipf popularity distribution."""
        idx = np.searchsorted(self._cdf, self._nrng.random(n), side="right")
        return [self.idents[min(i, VOCAB - 1)] for i in idx]

    def _function(self, rng: random.Random, ids: list[str]) -> str:
        name, a, b, c, d, e, f = ids
        return (
            f"    # {name.replace('_', ' ')}\n"
            f"    def {name}(self, {a}, {b}=None):\n"
            f"        if {b} is None:\n"
            f"            return {a}\n"
            f"        else:\n"
            f"            while not {b} and {a}:\n"
            f"                pass\n"
            f"        for {c} in {a}.{d}({rng.randint(0, 99)}):\n"
            f"            {e} = {c}[{rng.randint(0, 9)}] + {f}\n"
            f"        return {e}\n"
        )

    def corpus(self, n_files: int, *, tag: str = "base", planted_share: float = 0.25) -> Corpus:
        """``n_files`` code files. ``tag`` namespaces the paths, so corpora
        made with different tags never share a document id."""
        rng = random.Random(f"{self.seed}:{tag}")
        rows, doc_ids, planted = [], [], []
        df: dict[str, int] = {}
        for i in range(n_files):
            lang = LANGS[i % len(LANGS)]
            repo = f"org{i % 7}/repo{i % 41}"
            path = f"{tag}/dir{rng.randint(0, 30)}/file{i}.{EXT[lang]}"
            commit = hashlib.sha1(f"{self.seed}:{repo}:{path}".encode()).hexdigest()
            n_fn = rng.choice((1, 1, 2))
            ids = self.zipf_idents(2 + 7 * n_fn)
            parts = [f"import {ids[0]}\nfrom {ids[1]} import {ids[0]}\n\nclass {ids[1]}:\n"]
            parts += [self._function(rng, ids[2 + 7 * k : 9 + 7 * k]) for k in range(n_fn)]
            parts.append(FINISH)
            doc_id = doc_id_of(repo, path)
            if rng.random() < planted_share:
                phrase = PLANTED_PHRASES[rng.randrange(len(PLANTED_PHRASES))]
                at = rng.randint(1, len(parts) - 1)
                prefix = "".join(parts[:at]) + "    # see "
                planted.append((doc_id, len(prefix), len(prefix) + len(phrase), phrase))
                parts.insert(at, f"    # see {phrase} notes\n")
            content = "".join(parts)
            for t in analyzed_terms(content):
                df[t] = df.get(t, 0) + 1
            rows.append((repo, path, commit, lang, content))
            doc_ids.append(doc_id)
        return Corpus(rows, doc_ids, planted, df)

    def queries(self, n: int, *, heads: int, per: int) -> list[str]:
        """Query texts over Zipf-popular terms. ``heads`` in every ``per``
        (at fixed positions, so every run has the same mix) are head
        queries: the keywords, each with df = N, in random order plus one
        identifier. The others carry two or three identifiers."""
        out = []
        for i in range(n):
            if i % per < heads:
                terms = self.rng.sample(KEYWORDS, len(KEYWORDS))
                terms += self.zipf_idents(1)
            else:
                terms = self.zipf_idents(self.rng.randint(2, 3))
            out.append(" ".join(terms))
        return out

    def requests(self, n: int) -> list[dict]:
        """Solr request parameter dicts: a required planted phrase, an
        optional and a prohibited identifier, fq on lang."""
        out = []
        for _ in range(n):
            should, prohibited = self.zipf_idents(2)
            while prohibited == should:
                prohibited = self.zipf_idents(1)[0]
            phrase = self.rng.choice(PLANTED_PHRASES)
            out.append({
                "q": f'+"{phrase}" {should} -{prohibited}',
                "fq": "lang:java",
                "rows": 10,
            })
        return out

    def gazetteer(self, corpus: Corpus, n_names: int) -> list[tuple[str, str]]:
        """(id, name) rows: multi-word identifier names that occur in the
        corpus's comments, plus every planted phrase."""
        seen: list[str] = []
        for _r, _p, _c, _l, content in corpus.rows:
            for line in content.splitlines():
                line = line.strip()
                if line.startswith("# ") and not line.startswith("# see "):
                    seen.append(line[2:])
        names = sorted(set(seen))
        picks = self.rng.sample(names, min(n_names, len(names)))
        rows = [(f"ident{k:06d}", name) for k, name in enumerate(sorted(picks))]
        rows += [(f"phrase{k:02d}", p) for k, p in enumerate(PLANTED_PHRASES)]
        return rows
