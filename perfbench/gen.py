"""Seeded workload generators: corpus, query stream, percolator registry.

The benchmark owns its token mix, so an edit to the engine's corpus
helper or analyzer cannot change the inputs. The mix follows the shape of
a source-code corpus:

- a Zipf head of four hot keywords, 35% of the tokens;
- a mid vocabulary of common words plus a few stopwords, 25%;
- an identifier tail with 1/rank weights, 40%, so identifier document
  frequencies run from thousands of documents down to a handful.

Every token is a lowercase ASCII word (letters, digits, ``_``), so the
engine's standard analyzer and a whitespace split see the same tokens.
Query classes come from the document frequencies of the generated corpus,
never from the engine's term statistics.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

HOT = ["import", "return", "def", "public"]
MID = [
    "class", "static", "void", "self", "lambda", "struct", "interface",
    "async", "await", "yield", "raise", "except", "finally", "while",
    "break", "continue", "match", "case", "const", "let", "var", "func",
    "package", "module", "export", "extends", "implements", "override",
    "string", "integer", "float", "boolean", "array", "vector", "buffer",
    "stream", "socket", "thread", "mutex", "atomic", "channel", "queue",
    "parse", "format", "encode", "decode", "hash", "digest", "cipher",
    "handler", "listener", "callback", "promise", "future", "task",
    "error", "warning", "debug", "trace", "panic", "assert", "verify",
    "config", "option", "setting", "param", "argument", "value", "result",
]
STOP = ["the", "a", "of", "to", "in"]
HOT_MASS, MID_MASS, TAIL_MASS = 0.35, 0.25, 0.40
MIN_LEN, MAX_LEN = 20, 200


@dataclass(frozen=True)
class Vocab:
    words: np.ndarray  # object array of token strings
    p: np.ndarray  # draw probability per token

    @property
    def n_common(self) -> int:
        return len(HOT) + len(MID) + len(STOP)


def make_vocab(seed: int, n_idents: int) -> Vocab:
    rng = np.random.default_rng([seed, 0])
    a = rng.choice(MID, size=n_idents)
    b = rng.choice(MID, size=n_idents)
    n = rng.integers(0, 100_000, size=n_idents)
    idents = list(dict.fromkeys(f"{x}_{y}_{z}" for x, y, z in zip(a, b, n)))
    words = np.array(HOT + MID + STOP + idents, dtype=object)
    tail_w = 1.0 / np.arange(1, len(idents) + 1)
    p = np.concatenate((
        np.full(len(HOT), HOT_MASS / len(HOT)),
        np.full(len(MID) + len(STOP), MID_MASS / (len(MID) + len(STOP))),
        TAIL_MASS * tail_w / tail_w.sum(),
    ))
    return Vocab(words, p / p.sum())


@dataclass
class Corpus:
    doc_ids: np.ndarray  # int64, ascending
    tokens: list  # per doc: int32 array of vocab indices

    def texts(self, vocab: Vocab) -> list:
        return [" ".join(vocab.words[t]) for t in self.tokens]

    def table(self, vocab: Vocab) -> pa.Table:
        return pa.table({
            "doc_id": pa.array(self.doc_ids, pa.int64()),
            "content": pa.array(self.texts(vocab), pa.string()),
        })

    def doc_freq(self, n_vocab: int) -> np.ndarray:
        """Documents containing each vocab token."""
        if not self.tokens:
            return np.zeros(n_vocab, np.int64)
        uniq = np.concatenate([np.unique(t) for t in self.tokens])
        return np.bincount(uniq, minlength=n_vocab)


def make_corpus(vocab: Vocab, seed: int, stream: int, n_docs: int,
                first_doc_id: int = 0) -> Corpus:
    """``n_docs`` documents; ``stream`` separates independent batches drawn
    from one seed (base corpus, incoming batches)."""
    rng = np.random.default_rng([seed, 1, stream])
    lens = rng.integers(MIN_LEN, MAX_LEN, size=n_docs)
    flat = rng.choice(len(vocab.words), p=vocab.p, size=int(lens.sum())).astype(np.int32)
    toks = np.split(flat, np.cumsum(lens)[:-1]) if n_docs else []
    ids = np.arange(first_doc_id, first_doc_id + n_docs, dtype=np.int64)
    return Corpus(ids, toks)


@dataclass(frozen=True)
class TermClasses:
    """Vocab indices by document frequency in one corpus."""
    rare: np.ndarray  # 1 <= df <= N/500
    mid: np.ndarray  # between rare and hot
    hot: np.ndarray  # the most frequent non-stopword tokens


def term_classes(vocab: Vocab, df: np.ndarray, n_docs: int, n_hot: int = 8) -> TermClasses:
    stop = set(range(len(HOT) + len(MID), vocab.n_common))
    order = [i for i in np.argsort(-df, kind="stable") if i not in stop and df[i] > 0]
    hot = np.array(order[:n_hot], np.int64)
    rare_max = max(1, n_docs // 500)
    rest = order[n_hot:]
    rare = np.array([i for i in rest if df[i] <= rare_max], np.int64)
    mid = np.array([i for i in rest if df[i] > rare_max], np.int64)
    return TermClasses(rare, mid, hot)


def _pick(rng, pool: np.ndarray, n: int, words) -> list:
    return [words[i] for i in rng.choice(pool, size=n, replace=False)]


def rare_query(rng, tc: TermClasses, words) -> str:
    shape = rng.integers(4)
    if shape == 0:
        return _pick(rng, tc.rare, 1, words)[0]
    if shape == 1:
        return " OR ".join(_pick(rng, tc.rare, 3, words))
    if shape == 2:
        return " AND ".join(_pick(rng, tc.rare, 2, words))
    a, b, c = _pick(rng, tc.rare, 3, words)
    return f"{a} OR {b} -{c}"


def hot_query(rng, tc: TermClasses, words) -> str:
    shape = rng.integers(3)
    if shape == 0:
        return " OR ".join(_pick(rng, tc.hot, int(rng.integers(2, 5)), words))
    if shape == 1:
        return " AND ".join(_pick(rng, tc.hot, int(rng.integers(2, 5)), words))
    r = _pick(rng, tc.rare, 1, words)[0]
    h = _pick(rng, tc.hot, 1, words)[0]
    m = _pick(rng, tc.mid, 1, words)[0]
    return f"({r} AND {h}) OR {m}"


def query_stream(seed: int, tc: TermClasses, words, n: int) -> list:
    """``n`` distinct (class, query string) pairs, alternating rare and hot."""
    rng = np.random.default_rng([seed, 2])
    out, seen = [], set()
    while len(out) < n:
        cls = "rare" if len(out) % 2 == 0 else "hot"
        q = (rare_query if cls == "rare" else hot_query)(rng, tc, words)
        if q not in seen:
            seen.add(q)
            out.append((cls, q))
    return out


@dataclass(frozen=True)
class Registry:
    tree: list  # [(qid, "(a OR b) AND c [-d]")]
    tree_terms: list  # [(a, b, c, d or None)] parallel to tree
    flat: list  # [(qid, [a, b, c], 2)]


def registry(seed: int, tc: TermClasses, words, n_tree: int, n_flat: int) -> Registry:
    """Stored queries over mid and rare terms only: hot-term registries
    match most of every batch and turn one op into minutes."""
    rng = np.random.default_rng([seed, 3])
    pool = np.concatenate((tc.mid, tc.rare))
    tree, tree_terms, flat = [], [], []
    for qid in range(n_tree):
        a, b, c, d = _pick(rng, pool, 4, words)
        d = d if rng.random() < 0.3 else None
        tree.append((qid, f"({a} OR {b}) AND {c}" + (f" -{d}" if d else "")))
        tree_terms.append((a, b, c, d))
    for qid in range(n_flat):
        flat.append((qid, _pick(rng, pool, 3, words), 2))
    return Registry(tree, tree_terms, flat)
