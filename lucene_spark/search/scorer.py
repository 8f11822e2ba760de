"""BM25 scoring (Lucene parity, SURVEY.md §4.4).

Replicates BM25Similarity exactly (behavior only):
  idf(df, N)    = ln(1 + (N - df + 0.5)/(df + 0.5))   [BM25Similarity.java:139-141]
  avgdl         = sumTotalTermFreq / (double) docCount [BM25Similarity.java:144-146]
  normInverse_b = 1 / (k1 * ((1-b) + b*LENGTH_TABLE[b]/avgdl))
                                                       [BM25Similarity.java:217-221]
  score         = W - W / (1 + freq * normInverse)     [BM25Similarity.java:257-268]
with W = boost * qtf * idf; all float32 in parity mode. The float64 mode
uses the same expression shapes in double precision with unquantized
doclens (used for the SQL-oracle differential gate, where the oracle is
plain ANSI SQL).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict

import numpy as np

from ..functions.smallfloat import LENGTH_TABLE, int_to_byte4

K1 = 1.2
B = 0.75


@dataclass(frozen=True)
class FieldStats:
    max_doc: int
    doc_count: int
    sum_total_term_freq: int
    sum_doc_freq: int
    # longest doc in the collection (0 = unknown, e.g. an index finalized
    # before the field existed); anchors the free driver-side MAXSCORE
    # theta seed: score(tf=1, dl=max_dl) lower-bounds every posting's
    # contribution (monotonicity), so a term with df >= k proves at least
    # k docs reach that partial score
    max_dl: int = 0

    def avgdl(self) -> float:
        return self.sum_total_term_freq / float(self.doc_count)


def idf(df: int, doc_count: int, dtype=np.float32):
    return dtype(np.log(1.0 + (doc_count - df + 0.5) / (df + 0.5)))


def norm_inverse_cache(avgdl: float, dtype=np.float32) -> np.ndarray:
    """256-entry 1/norm cache over quantized lengths (BM25Similarity.java:217-221)."""
    k1, b, one = dtype(K1), dtype(B), dtype(1)
    table = LENGTH_TABLE.astype(dtype)
    return one / (k1 * ((one - b) + b * table / dtype(avgdl)))


def score_arrays(
    tfs: np.ndarray,
    doclens: np.ndarray,
    weight,
    avgdl: float,
    quantize: bool = True,
    dtype=np.float32,
) -> np.ndarray:
    """Vectorized BulkSimScorer.score analog (BM25Similarity.java:277-297)."""
    tfs = tfs.astype(dtype)
    one = dtype(1)
    if quantize:
        cache = norm_inverse_cache(avgdl, dtype)
        ninv = cache[int_to_byte4(doclens)]
    else:
        k1, b = dtype(K1), dtype(B)
        ninv = one / (k1 * ((one - b) + b * doclens.astype(dtype) / dtype(avgdl)))
    w = dtype(weight)
    return w - w / (one + tfs * ninv)


def term_weights(
    qtf: Dict[str, int],
    term_df: Dict[str, int],
    doc_count: int,
    boost: float = 1.0,
    dtype=np.float32,
) -> Dict[str, float]:
    """weight = boost * qtf * idf per term (qtf linear, k3 disabled:
    BM25Similarity.java:130-136). Terms absent from the index get weight 0
    (df=0 -> no postings; they contribute nothing)."""
    out = {}
    for t, q in qtf.items():
        df = term_df.get(t, 0)
        if df <= 0:
            continue
        out[t] = float(dtype(boost) * dtype(q) * idf(df, doc_count, dtype))
    return out
