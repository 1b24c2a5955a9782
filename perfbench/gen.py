"""Seeded input generator for the benchmark.

Everything here is a pure function of ``seed`` and the size arguments, so
the same seed gives byte-identical inputs. The corpus follows the shape of
FIXTURES.md F1 (source-code files keyed by ``(repo, path, commit)``):

- about 90% of tokens are Zipf draws from a 5,000-term vocabulary whose top
  ranks are code keywords (the hot terms that force salted postings
  groups); the rest of the vocabulary is pseudo-words, so query terms
  rarely repeat and the reader's decode cache does not hide cold decodes,
- 10% are rare identifiers ``ident_<hash>`` with document frequency 1-3,
  so most of the dictionary is a long tail of one-to-three-doc terms,
- planted marker terms with fixed document frequencies.

The generator is the benchmark's own, independent of the engine's
``lucille_spark.corpus`` module, so a change to that module never changes
the benchmark's inputs.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np

KEYWORDS = (
    "return", "import", "if", "def", "class", "for", "while", "else", "try",
    "except", "self", "none", "true", "false", "lambda", "print", "from",
    "raise", "with", "yield",
)
MARKERS = {"test": 50, "giraffe": 500, "geotrans": 800, "japan": 666}
KOALA_DOC = 37   # the one document holding "koala"
LANGS = ("python", "java", "javascript", "go", "rust", "markdown")
EXT = {"python": "py", "java": "java", "javascript": "js", "go": "go",
       "rust": "rs", "markdown": "md"}
DIRS = ("core", "util", "io", "net", "api", "db", "ui", "cli", "fmt")
NAMES = ("main", "parser", "engine", "index", "query", "codec", "shard",
         "merge", "store", "token", "writer", "reader", "stats", "config")
_ONSETS = ("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
           "t", "v", "z", "br", "st", "tr", "pl")
_VOWELS = ("a", "e", "i", "o", "u")

# query classes and their share of the search mix; fuzzy, prefix and
# range queries are rewritten against the dictionary before scoring
QUERY_MIX = (("term", 0.32), ("or", 0.24), ("and", 0.16), ("not", 0.14),
             ("phrase", 0.07), ("sloppy", 0.04), ("fuzzy", 0.01),
             ("prefix", 0.01), ("range", 0.01))
# vocabulary: code keywords, then pseudo-words up to VOCAB terms; Zipf
# exponent of the corpus and query term draws
VOCAB = 5000
MIN_TOKENS, MAX_TOKENS = 30, 600   # document length
ZIPF_S = 1.0
# share of tokens that are rare identifiers. An identifier belongs to one
# document and is drawn from its owner and the next IDENT_SPAN - 1
# documents, out of IDENT_SLOTS per owner, so its document frequency is
# 1 to IDENT_SPAN
IDENT_RATE = 0.10
IDENT_SPAN = 3
IDENT_SLOTS = 16
# shares of query terms that are code keywords (document frequency ~ N)
# and rare identifiers of the corpus (df 1-3); the rest follow a Zipf
# draw over the pseudo-word vocabulary
HOT_QUERY_TERMS = 0.1
IDENT_QUERY_TERMS = 0.1
# dictionary words spanned by a range query
RANGE_WIDTH = 6


def doc_id(repo: str, path: str, commit: str) -> str:
    """The engine's document identity: sha256 of the NUL-joined key."""
    return hashlib.sha256(
        "\x00".join((repo, path, commit)).encode()).hexdigest()


@dataclass
class Corpus:
    """Generated documents as parallel column lists in the engine's
    corpus schema."""
    repo: list = field(default_factory=list)
    path: list = field(default_factory=list)
    commit: list = field(default_factory=list)
    lang: list = field(default_factory=list)
    content: list = field(default_factory=list)

    def __len__(self) -> int:
        return len(self.content)

    def rows(self):
        return zip(self.repo, self.path, self.commit, self.lang,
                   self.content)

    def ids(self) -> list:
        return [doc_id(r, p, c)
                for r, p, c in zip(self.repo, self.path, self.commit)]

    def content_bytes(self) -> int:
        return sum(len(c.encode()) for c in self.content)

    def to_pandas(self):
        import pandas as pd

        return pd.DataFrame({"repo": self.repo, "path": self.path,
                             "commit": self.commit, "lang": self.lang,
                             "content": self.content})


class Generator:
    """Seeded corpus, query-mix and merge-batch generator."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.words = self._pseudo_words(VOCAB - len(KEYWORDS))
        self.sorted_words = sorted(self.words)
        self.vocab = list(KEYWORDS) + self.words
        self.cdf = self._zipf_cdf(len(self.vocab))
        self.word_cdf = self._zipf_cdf(len(self.words))
        self.next_doc = 0
        # identifiers written so far, in order (query terms draw on them)
        self.idents: list = []
        self._ident_seen: set = set()

    @staticmethod
    def _zipf_cdf(n: int) -> np.ndarray:
        p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** ZIPF_S
        return np.cumsum(p / p.sum())

    def _pseudo_words(self, n: int) -> list:
        taken = set(KEYWORDS) | set(MARKERS) | {"jp", "koala"}
        out = []
        while len(out) < n:
            k = int(self.rng.integers(2, 5))
            w = "".join(_ONSETS[self.rng.integers(len(_ONSETS))]
                        + _VOWELS[self.rng.integers(len(_VOWELS))]
                        for _ in range(k))
            if w not in taken:
                taken.add(w)
                out.append(w)
        return out

    def _zipf(self, size, cdf=None) -> np.ndarray:
        cdf = self.cdf if cdf is None else cdf
        return np.minimum(np.searchsorted(cdf, self.rng.random(size)),
                          cdf.size - 1)

    # ------------------------------------------------------------ corpus
    def _content(self, n_tokens: int, gid: int,
                 ident_rate: float = IDENT_RATE) -> str:
        toks = [self.vocab[i] for i in self._zipf(n_tokens)]
        for j in np.flatnonzero(self.rng.random(n_tokens) < ident_rate):
            owner = gid - int(self.rng.integers(min(IDENT_SPAN, gid + 1)))
            toks[j] = self._ident(owner,
                                  int(self.rng.integers(IDENT_SLOTS)))
        for marker, every in MARKERS.items():
            if gid % every == 7 % every:
                toks.insert(int(self.rng.integers(len(toks) + 1)), marker)
        if gid % 666 == 13:
            toks.extend(["japan", "jp"])
        if gid == KOALA_DOC:
            toks.append("koala")
        return " ".join(toks)

    def _ident(self, owner: int, slot: int) -> str:
        h = hashlib.sha1(f"{self.seed}/{owner}/{slot}".encode())
        name = f"ident_{h.hexdigest()[:10]}"
        if name not in self._ident_seen:
            self._ident_seen.add(name)
            self.idents.append(name)
        return name

    def corpus(self, n_docs: int, ident_rate: float = IDENT_RATE) -> Corpus:
        """``n_docs`` new documents with fresh ``(repo, path, commit)``;
        ``ident_rate`` of their tokens are rare identifiers."""
        c = Corpus()
        lens = self.rng.integers(MIN_TOKENS, MAX_TOKENS + 1, n_docs)
        langs = np.minimum(np.floor(6.0 ** self.rng.random(n_docs)) - 1,
                           5).astype(int)
        for n_tok, lg in zip(lens, langs):
            gid = self.next_doc
            self.next_doc += 1
            lang = LANGS[lg]
            c.repo.append(f"org{gid % 7}/repo{gid % 23}")
            c.path.append(f"src/{DIRS[gid % len(DIRS)]}/"
                          f"{NAMES[gid % len(NAMES)]}_{gid}.{EXT[lang]}")
            c.commit.append(hashlib.sha1(
                f"commit-{self.seed}-{gid // 50}".encode()).hexdigest())
            c.lang.append(lang)
            c.content.append(self._content(int(n_tok), gid, ident_rate))
        return c

    def stats(self, c: Corpus) -> dict:
        """Independent counts for the corpus_stats check and the printout."""
        from lucille_spark.analysis import tokenize_py

        lens, terms = [], set()
        for text in c.content:
            toks = tokenize_py(text)
            lens.append(len(toks))
            terms.update(toks)
        return {"docs": len(c), "content_mb": c.content_bytes() / 1e6,
                "total_terms": int(sum(lens)), "distinct_terms": len(terms)}

    # ------------------------------------------------------- query mix
    def queries(self, corpus: Corpus, n: int) -> list:
        """``n`` (class, query string) pairs in :data:`QUERY_MIX`
        proportions. Every block of 100 holds each class exactly its
        share, in a shuffled order, so runs differ in their terms, not in
        their mix."""
        block = [c for c, share in QUERY_MIX
                 for _ in range(round(share * 100))]
        classes = []
        while len(classes) < n:
            classes += [block[i] for i in self.rng.permutation(len(block))]
        return [(c, self.query(c, corpus)) for c in classes[:n]]

    def _term(self) -> str:
        u = self.rng.random()
        if u < HOT_QUERY_TERMS:
            return KEYWORDS[int(self.rng.integers(len(KEYWORDS)))]
        if u < HOT_QUERY_TERMS + IDENT_QUERY_TERMS and self.idents:
            return self.idents[int(self.rng.integers(len(self.idents)))]
        return self.words[int(self._zipf(1, self.word_cdf)[0])]

    def _doc_window(self, corpus: Corpus, width: int) -> list:
        """``width`` consecutive tokens of a random document, so phrase
        queries match at least one document."""
        toks = corpus.content[int(self.rng.integers(len(corpus)))].split()
        i = int(self.rng.integers(0, len(toks) - width))
        return toks[i:i + width]

    def query(self, cls: str, corpus: Corpus) -> str:
        t = self._term
        if cls == "term":
            return f"content:{t()}"
        if cls == "or":
            return " OR ".join(f"content:{t()}"
                               for _ in range(int(self.rng.integers(2, 5))))
        if cls == "and":
            return f"content:{t()} AND content:{t()}"
        if cls == "not":
            return f"content:{t()} AND NOT content:{t()}"
        if cls == "phrase":
            return 'content:"{}"'.format(" ".join(self._doc_window(corpus,
                                                                   2)))
        if cls == "sloppy":
            w = self._doc_window(corpus, 4)
            while w[0] == w[3]:   # the engine rejects repeated terms here
                w = self._doc_window(corpus, 4)
            return f'content:"{w[0]} {w[3]}"~3'
        word = self.words[int(self.rng.integers(len(self.words)))]
        if cls == "fuzzy":
            i = int(self.rng.integers(len(word)))
            return f"content:{word[:i]}{_VOWELS[self.rng.integers(5)]}" \
                   f"{word[i + 1:]}~1"
        if cls == "prefix":
            return f"content:{word[:3]}*"
        if cls == "range":
            # never across "ident_", which would take in every identifier
            i = int(self.rng.integers(len(self.words) - RANGE_WIDTH))
            while (self.sorted_words[i] < "ident_"
                   < self.sorted_words[i + RANGE_WIDTH]):
                i = int(self.rng.integers(len(self.words) - RANGE_WIDTH))
            return (f"content:[{self.sorted_words[i]} TO "
                    f"{self.sorted_words[i + RANGE_WIDTH]}]")
        raise ValueError(cls)

    # ---------------------------------------------------- merge batches
    def merge_batch(self, live: dict, n_new: int, n_update: int,
                    n_delete: int, marker: str):
        """One micro-batch against the ``live`` map (doc_id -> row tuple).

        Returns ``(upserts, delete_ids)``: ``upserts`` holds new docs, new
        contents for existing ``(repo, path, commit)`` keys and one new doc
        carrying ``marker``; ``delete_ids`` are live ids to remove. Updated
        and deleted ids are distinct, so every id's final state is
        unambiguous."""
        fresh = self.corpus(n_new + 1)
        fresh.content[-1] += f" {marker}"
        ids = sorted(live)
        pick = self.rng.choice(len(ids), size=n_update + n_delete,
                               replace=False)
        for i in pick[:n_update]:
            repo, path, commit, lang, _ = live[ids[i]]
            fresh.repo.append(repo)
            fresh.path.append(path)
            fresh.commit.append(commit)
            fresh.lang.append(lang)
            fresh.content.append(self._content(
                int(self.rng.integers(MIN_TOKENS, MAX_TOKENS + 1)),
                self.next_doc))
            self.next_doc += 1
        return fresh, [ids[i] for i in pick[n_update:]]
