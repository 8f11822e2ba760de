"""ANSI-SQL oracle builders (DuckDB dialect-compatible).

Generates, for each engine operator, the equivalent plain-SQL statement the
driver runs against the same parquet tables. The engine's float64
unquantized scoring mode uses the exact same double-precision expression
shapes, so rounded scores agree.

Shared conventions with the Spark side:
  - tokenization: string_split(text, ' ') minus the 33-word stop list
    (exact on this corpus: lowercase [a-z0-9_ ] text);
  - BM25: ln(1 + (N - df + .5)/(df + .5)); score = w - w/(1 + tf*normInv),
    doubles, no norm quantization; docCount = docs with >= 1 token;
  - ordering: score desc, docid asc; scores rounded to 4 decimals.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

from .analysis import ENGLISH_STOP_WORDS

STOPLIST_SQL = ", ".join(f"'{w}'" for w in sorted(ENGLISH_STOP_WORDS))

TOKS_CTE = f"""
toks AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) u
  WHERE t <> '' AND t NOT IN ({STOPLIST_SQL})
)"""

BM25_CTES = (
    TOKS_CTE
    + """,
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS doclen FROM toks GROUP BY 1),
fs AS (SELECT count(*) AS doc_cnt,
              sum(doclen) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl)"""
)


# Token positions BEFORE stop filtering (StopFilter preserves position
# increments, so stopwords consume positions; empty split artifacts do not).
TPOS_CTE = """
tpos AS (
  SELECT doc_id, t AS term,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY p) - 1 AS BIGINT) AS pos
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t,
               generate_subscripts(string_split(text, ' '), 1) AS p
        FROM documents) u
  WHERE t <> ''
)"""


def _phrase_score_tail(terms: Sequence[str], k: int) -> str:
    """Scoring suffix over an ``m(doc_id, freq)`` CTE: weight = Σ idf of the
    phrase terms (BM25Similarity.idfExplain over TermStats[]), BM25 with the
    phrase freq as tf."""
    lst = ", ".join(f"'{t}'" for t in terms)
    ninv = "(1.0 / (1.2 * (0.25 + 0.75 * dl.doclen / fs.avgdl)))"
    score = f"w.w - w.w / (1 + CAST(m.freq AS DOUBLE) * {ninv})"
    return f""",
dfs AS (SELECT term, count(*) AS df FROM tf WHERE term IN ({lst}) GROUP BY 1),
w AS (SELECT sum(ln(1 + (fs.doc_cnt - dfs.df + 0.5) / (dfs.df + 0.5))) AS w
      FROM dfs CROSS JOIN fs)
SELECT m.doc_id AS docid, round({score}, 4) AS score
FROM m JOIN dl ON m.doc_id = dl.doc_id CROSS JOIN w CROSS JOIN fs
ORDER BY ({score}) DESC, docid ASC LIMIT {k}"""


def phrase_exact_sql(terms_off: Sequence, k: int = 10) -> str:
    """Exact PhraseQuery oracle: self-joins on positions with the phrase
    offsets (ExactPhraseMatcher alignment); terms_off = [(term, offset)]
    with offset[0] == 0."""
    terms = [t for t, _ in terms_off]
    joins = "".join(
        f"\n      JOIN tpos t{i} ON t{i}.doc_id = t0.doc_id"
        f" AND t{i}.pos = t0.pos + {off} AND t{i}.term = '{t}'"
        for i, (t, off) in enumerate(terms_off[1:], start=1)
    )
    return (
        "WITH "
        + BM25_CTES
        + ", "
        + TPOS_CTE.strip()
        + f""",
m AS (SELECT t0.doc_id, count(*) AS freq
      FROM tpos t0{joins}
      WHERE t0.term = '{terms_off[0][0]}' GROUP BY 1)"""
        + _phrase_score_tail(terms, k)
    )


def phrase_exact_sim_sql(terms_off: Sequence, kind: str, k: int = 10) -> str:
    """Exact PhraseQuery under a non-BM25 similarity: same alignment CTE as
    phrase_exact_sql, but the score is the MultiSimScorer sum — ONE
    SimScorer per phrase-term occurrence scoring the shared phrase freq
    (SimilarityBase.scorer -> MultiSimilarity.MultiSimScorer,
    MultiSimilarity.java:70-78). Supported kinds: classic (TFIDF — the sum
    folds into one summed idf), lm_dirichlet (non-linear: per-term p_c with
    the per-occurrence zero floor)."""
    terms = [t for t, _ in terms_off]
    from collections import Counter

    qt_vals = ", ".join(
        f"('{t}', {c})" for t, c in sorted(Counter(terms).items())
    )
    joins = "".join(
        f"\n      JOIN tpos t{i} ON t{i}.doc_id = t0.doc_id"
        f" AND t{i}.pos = t0.pos + {off} AND t{i}.term = '{t}'"
        for i, (t, off) in enumerate(terms_off[1:], start=1)
    )
    m_cte = f""",
m AS (SELECT t0.doc_id, count(*) AS freq
      FROM tpos t0{joins}
      WHERE t0.term = '{terms_off[0][0]}' GROUP BY 1),
pw AS (SELECT q.term, q.qtf, s.df, s.ttf
       FROM (VALUES {qt_vals}) q(term, qtf)
       JOIN (SELECT term, count(*) AS df, sum(tf) AS ttf
             FROM tf GROUP BY 1) s USING (term)),
ftok AS (SELECT sum(tf) AS total FROM tf)"""
    if kind == "classic":
        score = (
            "sqrt(CAST(m.freq AS DOUBLE)) * w.w / sqrt(CAST(dl.doclen AS DOUBLE))"
        )
        tail = f""",
w AS (SELECT sum(pw.qtf * (ln((fs.doc_cnt + 1) / CAST(pw.df + 1 AS DOUBLE)) + 1))
             AS w FROM pw CROSS JOIN fs)
SELECT m.doc_id AS docid, round({score}, 4) AS score
FROM m JOIN dl ON m.doc_id = dl.doc_id CROSS JOIN w
ORDER BY ({score}) DESC, docid ASC LIMIT {k}"""
    elif kind == "lm_dirichlet":
        sub = (
            "greatest(0.0, pw.qtf * ("
            "ln(1 + CAST(m.freq AS DOUBLE) / "
            "(2000.0 * ((pw.ttf + 1.0) / (ftok.total + 1.0)))) "
            "+ ln(2000.0 / (dl.doclen + 2000.0))))"
        )
        tail = f"""
SELECT m.doc_id AS docid, round(sum({sub}), 4) AS score
FROM m JOIN dl ON m.doc_id = dl.doc_id CROSS JOIN pw CROSS JOIN ftok
GROUP BY m.doc_id, m.freq, dl.doclen
ORDER BY sum({sub}) DESC, docid ASC LIMIT {k}"""
    else:
        raise ValueError(kind)
    return "WITH " + BM25_CTES + ", " + TPOS_CTE.strip() + m_cte + tail


def phrase_sloppy_sql(term_a: str, term_b: str, slop: int, k: int = 10) -> str:
    """Sloppy 2-term PhraseQuery oracle. Simulates SloppyPhraseMatcher's
    greedy pq traversal exactly via its crossing-walk reduction (one
    recursive-CTE step per side swap): mover = the lesser current position
    (ties: lower phrase offset); each step takes the last mover position <=
    the stationary one, emits distance d (a match when d <= slop,
    sloppyWeight 1/(1+d) [SloppyPhraseMatcher.java:200-236]), then swaps.
    Validated step-for-step against the reference matcher on randomized
    position lists (tests/test_phrase.py)."""
    return (
        "WITH RECURSIVE "
        + BM25_CTES
        + ", "
        + TPOS_CTE.strip()
        + f""",
pl AS (SELECT a.doc_id, a.av, b.bv FROM
   (SELECT doc_id, list_sort(list(pos)) AS av FROM tpos WHERE term = '{term_a}' GROUP BY 1) a
   JOIN
   (SELECT doc_id, list_sort(list(pos - 1)) AS bv FROM tpos WHERE term = '{term_b}' GROUP BY 1) b
   USING (doc_id)),
walk(doc_id, av, bv, mover, s, ia, ib, d, done) AS (
  SELECT doc_id, av, bv,
         CASE WHEN av[1] <= bv[1] THEN 0 ELSE 1 END,
         CASE WHEN av[1] <= bv[1] THEN bv[1] ELSE av[1] END,
         1, 1, CAST(NULL AS BIGINT), FALSE
  FROM pl
  UNION ALL
  SELECT doc_id, av, bv, 1 - mover,
         CASE WHEN mover = 0 THEN av[j+1] ELSE bv[j+1] END,
         CASE WHEN mover = 0 THEN j+1 ELSE ia END,
         CASE WHEN mover = 1 THEN j+1 ELSE ib END,
         CASE WHEN mover = 0 THEN s - av[j] ELSE s - bv[j] END,
         CASE WHEN mover = 0 THEN j >= length(av) ELSE j >= length(bv) END
  FROM (SELECT doc_id, av, bv, mover, s, ia, ib,
               CASE WHEN mover = 0
                    THEN ia - 1 + length(list_filter(list_slice(av, ia, length(av)), x -> x <= s))
                    ELSE ib - 1 + length(list_filter(list_slice(bv, ib, length(bv)), x -> x <= s)) END AS j
        FROM walk WHERE NOT done) q
),
m AS (SELECT doc_id, sum(1.0 / (1.0 + d)) AS freq
      FROM walk WHERE d IS NOT NULL AND d <= {slop} GROUP BY 1)"""
        + _phrase_score_tail([term_a, term_b], k)
    )


def phrase_sloppy_rpt_sql(term: str, slop: int, k: int = 10) -> str:
    """Repeating-term sloppy phrase oracle: "t t"~slop. With both pps
    iterating ONE positions list, the rptGroups walk (init stagger,
    SloppyPhraseMatcher.java:486-494; collide/lesser advancement, :317-374)
    visits exactly the consecutive occurrence pairs of the term, emitting
    matchLength = gap = p[i+1] - p[i] - 1 whenever gap <= slop — validated
    against the matcher on randomized position lists
    (tests/test_phrase.py::test_sloppy_rpt_same_term_pair_model_randomized).
    sloppyWeight 1/(1+gap) = 1/(p[i+1]-p[i]); weight = 2*idf because the
    phrase termStats array includes duplicates (PhraseQuery.java:472-486)."""
    ninv = "(1.0 / (1.2 * (0.25 + 0.75 * dl.doclen / fs.avgdl)))"
    score = f"w.w - w.w / (1 + m.freq * {ninv})"
    return (
        "WITH "
        + BM25_CTES
        + ", "
        + TPOS_CTE.strip()
        + f""",
occ AS (SELECT doc_id, pos,
               lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        FROM tpos WHERE term = '{term}'),
m AS (SELECT doc_id, sum(1.0 / (nxt - pos)) AS freq
      FROM occ WHERE nxt IS NOT NULL AND nxt - pos - 1 <= {slop} GROUP BY 1),
w AS (SELECT 2 * ln(1 + (fs.doc_cnt - dfs.df + 0.5) / (dfs.df + 0.5)) AS w
      FROM (SELECT count(*) AS df FROM tf WHERE term = '{term}') dfs
      CROSS JOIN fs)
SELECT m.doc_id AS docid, round({score}, 4) AS score
FROM m JOIN dl ON m.doc_id = dl.doc_id CROSS JOIN w CROSS JOIN fs
ORDER BY ({score}) DESC, docid ASC LIMIT {k}"""
    )


def phrase_sloppy_aba_sql(term_a: str, term_b: str, slop: int, k: int = 10) -> str:
    """Sloppy "a b a"~slop oracle — the FULL rptGroups walk simulated as a
    per-doc scalar state machine in a recursive CTE.

    Key reduction (verified against SloppyPhraseMatcher.java:301-374): for
    two same-term pps at offsets 0 and 2 sharing ONE positions list, a
    collision means equal occurrence INDEX, and the 'lesser' colliding pp
    is always the offset-2 one (its adjusted position is 2 smaller), so
    collision resolution degenerates to "if ia == ic then ic += 1". The
    rest of the walk (advance held pp, track end, stale `next`, re-pop by
    (position, offset), emit matchLength on swap/exhaustion) is encoded in
    scalar columns. Validated step-for-step against the engine's rpt
    matcher on 4000 randomized docs, zero mismatches (dev harness in
    tests/test_phrase.py::test_engine_sloppy_rpt_matches_pyref covers the
    engine side).  Weight = 2*idf(a) + idf(b) (duplicate termStats,
    PhraseQuery.java:472-486)."""
    ninv = "(1.0 / (1.2 * (0.25 + 0.75 * dl.doclen / fs.avgdl)))"
    score = f"w.w - w.w / (1 + m.freq * {ninv})"
    return (
        "WITH RECURSIVE "
        + BM25_CTES
        + ", "
        + TPOS_CTE.strip()
        + f""",
pl AS (SELECT a.doc_id, a.av, b.bv FROM
   (SELECT doc_id, list_sort(list(pos)) AS av FROM tpos WHERE term = '{term_a}' GROUP BY 1) a
   JOIN
   (SELECT doc_id, list_sort(list(pos)) AS bv FROM tpos WHERE term = '{term_b}' GROUP BY 1) b
   USING (doc_id)
   WHERE len(a.av) >= 2 AND len(b.bv) >= 1),
init AS (
  SELECT doc_id, av, bv, 1 AS ia, 1 AS ib, 2 AS ic,
         greatest(av[1], bv[1]-1, av[2]-2) AS e,
         CASE WHEN av[1] <= bv[1]-1 AND av[1] <= av[2]-2 THEN 0
              WHEN bv[1]-1 <= av[2]-2 THEN 1 ELSE 2 END AS held
  FROM pl
),
seed AS (
  SELECT doc_id, av, bv, ia, ib, ic, e, held,
         e - (CASE held WHEN 0 THEN av[ia] WHEN 1 THEN bv[ib]-1 ELSE av[ic]-2 END) AS ml,
         CASE held
           WHEN 0 THEN least(bv[ib]-1, av[ic]-2)
           WHEN 1 THEN least(av[ia], av[ic]-2)
           ELSE least(av[ia], bv[ib]-1) END AS nxt,
         CAST(NULL AS BIGINT) AS d, FALSE AS done
  FROM init
),
walk(doc_id, av, bv, ia, ib, ic, e, held, ml, nxt, d, done) AS (
  SELECT * FROM seed
  UNION ALL
  SELECT doc_id, av, bv,
         ia2, ib2, ic3,
         CASE WHEN exh THEN e ELSE e2 END,
         CASE WHEN exh THEN held WHEN repop THEN held2 ELSE held END,
         CASE WHEN exh THEN ml WHEN repop THEN e2 - (CASE held2 WHEN 0 THEN av[ia2] WHEN 1 THEN bv[ib2]-1 ELSE av[ic3]-2 END)
              ELSE least(ml, e2 - p) END,
         CASE WHEN exh THEN nxt WHEN repop THEN
              (CASE held2 WHEN 0 THEN least(bv[ib2]-1, av[ic3]-2)
                          WHEN 1 THEN least(av[ia2], av[ic3]-2)
                          ELSE least(av[ia2], bv[ib2]-1) END)
              ELSE nxt END,
         CASE WHEN exh THEN (CASE WHEN ml <= {slop} THEN ml ELSE NULL END)
              WHEN repop AND ml <= {slop} THEN ml ELSE NULL END,
         exh
  FROM (
    SELECT *,
           CASE WHEN NOT exh AND NOT exh1 THEN
                (CASE held WHEN 0 THEN av[ia2] WHEN 1 THEN bv[ib2]-1 ELSE av[ic3]-2 END)
                ELSE NULL END AS p,
           CASE WHEN NOT exh AND NOT exh1 THEN
                (CASE held WHEN 0 THEN av[ia2] WHEN 1 THEN bv[ib2]-1 ELSE av[ic3]-2 END) > nxt
                ELSE FALSE END AS repop,
           CASE WHEN NOT exh AND NOT exh1 THEN
             (CASE WHEN (CASE held WHEN 0 THEN av[ia2] WHEN 1 THEN bv[ib2]-1 ELSE av[ic3]-2 END) > nxt
               THEN (CASE WHEN av[ia2] <= bv[ib2]-1 AND av[ia2] <= av[ic3]-2 THEN 0
                          WHEN bv[ib2]-1 <= av[ic3]-2 THEN 1 ELSE 2 END)
               ELSE held END)
             ELSE held END AS held2
    FROM (
      SELECT *,
             CASE WHEN NOT exh1 AND held <> 1 AND ia2 = ic2 THEN ic2 + 1 ELSE ic2 END AS ic3,
             (exh1 OR (held <> 1 AND ia2 = ic2 AND ic2 + 1 > len(av))) AS exh,
             CASE WHEN exh1 THEN e
                  WHEN held <> 1 AND ia2 = ic2 AND ic2 + 1 <= len(av)
                  THEN greatest(e1, av[ic2 + 1] - 2) ELSE e1 END AS e2
      FROM (
        SELECT doc_id, av, bv, e, held, ml, nxt,
               ia + (CASE WHEN held = 0 THEN 1 ELSE 0 END) AS ia2,
               ib + (CASE WHEN held = 1 THEN 1 ELSE 0 END) AS ib2,
               ic + (CASE WHEN held = 2 THEN 1 ELSE 0 END) AS ic2,
               ((held = 0 AND ia + 1 > len(av)) OR (held = 1 AND ib + 1 > len(bv))
                OR (held = 2 AND ic + 1 > len(av))) AS exh1,
               CASE WHEN (held = 0 AND ia + 1 > len(av)) OR (held = 1 AND ib + 1 > len(bv))
                         OR (held = 2 AND ic + 1 > len(av)) THEN e
                    ELSE greatest(e, CASE held WHEN 0 THEN av[ia+1]
                                               WHEN 1 THEN bv[ib+1]-1
                                               ELSE av[ic+1]-2 END) END AS e1
        FROM walk WHERE NOT done
      ) s1
    ) s2
  ) s3
),
m AS (SELECT doc_id, sum(1.0 / (1.0 + d)) AS freq FROM walk
      WHERE d IS NOT NULL GROUP BY 1),
w AS (SELECT 2 * ln(1 + (fs.doc_cnt - dfa.df + 0.5) / (dfa.df + 0.5))
           + ln(1 + (fs.doc_cnt - dfb.df + 0.5) / (dfb.df + 0.5)) AS w
      FROM (SELECT count(*) AS df FROM tf WHERE term = '{term_a}') dfa
      CROSS JOIN (SELECT count(*) AS df FROM tf WHERE term = '{term_b}') dfb
      CROSS JOIN fs)
SELECT m.doc_id AS docid, round({score}, 4) AS score
FROM m JOIN dl ON m.doc_id = dl.doc_id CROSS JOIN w CROSS JOIN fs
ORDER BY ({score}) DESC, docid ASC LIMIT {k}"""
    )


def bm25_scored_cte(
    qtf: Dict[str, int], opt_counts: Optional[Dict[str, int]] = None
) -> str:
    """CTEs ending in ``agg(doc_id, score, nt, n_should)`` over the query
    terms; ``opt_counts`` maps each SHOULD term to the clause instances it
    credits toward minimumNumberShouldMatch (0/absent for MUST-only
    terms)."""
    oc = opt_counts or {}
    qt_vals = ", ".join(
        (
            f"('{t}', {float(w)!r}, {int(oc.get(t, 0))})"
            if isinstance(w, float)
            else f"('{t}', {int(w)}, {int(oc.get(t, 0))})"
        )
        for t, w in sorted(qtf.items())
    )
    return (
        "WITH "
        + BM25_CTES
        + f""",
qt(term, qtf, oc) AS (VALUES {qt_vals}),
dfreq AS (SELECT term, count(*) AS df FROM tf
          WHERE term IN (SELECT term FROM qt) GROUP BY 1),
w AS (SELECT q.term, q.oc,
             q.qtf * ln(1 + (fs.doc_cnt - dfreq.df + 0.5) / (dfreq.df + 0.5)) AS w
      FROM qt q JOIN dfreq ON q.term = dfreq.term CROSS JOIN fs),
scored AS (
  SELECT tf.doc_id, w.term, w.oc,
         w.w - w.w / (1 + CAST(tf.tf AS DOUBLE)
                          * (1.0 / (1.2 * (0.25 + 0.75 * dl.doclen / fs.avgdl)))) AS s
  FROM tf JOIN w ON tf.term = w.term
          JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN fs),
agg AS (SELECT doc_id, sum(s) AS score, count(*) AS nt,
               sum(oc) AS n_should FROM scored GROUP BY 1)"""
    )


def dismax_sql(
    clauses: Sequence[Tuple[Dict[str, int], Sequence[str]]],
    tie: float = 0.0,
    k: int = 10,
) -> str:
    """DisjunctionMaxQuery oracle: per-clause BM25 score (required terms
    filtered per clause), then max + tie * (sum - max) per doc
    (DisjunctionMaxScorer combine)."""
    clause_sqls = []
    for ci, (qtf, required) in enumerate(clauses):
        qt_vals = ", ".join(f"('{t}', {int(w)})" for t, w in sorted(qtf.items()))
        req = sorted(set(required))
        req_f = ""
        if req:
            lst = ", ".join(f"'{t}'" for t in req)
            req_f = (
                f" HAVING count(DISTINCT CASE WHEN s.term IN ({lst}) "
                f"THEN s.term END) = {len(req)}"
            )
        clause_sqls.append(
            f"""
qt{ci}(term, qtf) AS (VALUES {qt_vals}),
dfreq{ci} AS (SELECT term, count(*) AS df FROM tf
              WHERE term IN (SELECT term FROM qt{ci}) GROUP BY 1),
w{ci} AS (SELECT q.term,
               q.qtf * ln(1 + (fs.doc_cnt - dfreq{ci}.df + 0.5) / (dfreq{ci}.df + 0.5)) AS w
        FROM qt{ci} q JOIN dfreq{ci} ON q.term = dfreq{ci}.term CROSS JOIN fs),
cl{ci} AS (
  SELECT s.doc_id, sum(s.s) AS score FROM (
    SELECT tf.doc_id, w.term,
           w.w - w.w / (1 + CAST(tf.tf AS DOUBLE)
                            * (1.0 / (1.2 * (0.25 + 0.75 * dl.doclen / fs.avgdl)))) AS s
    FROM tf JOIN w{ci} w ON tf.term = w.term
            JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN fs) s
  GROUP BY 1{req_f})"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT doc_id, score FROM cl{ci}" for ci in range(len(clauses))
    )
    return (
        "WITH "
        + BM25_CTES
        + ","
        + ",".join(clause_sqls)
        + f""",
u AS ({union})
SELECT doc_id AS docid,
       round(max(score) + {float(tie)!r} * (sum(score) - max(score)), 4) AS score
FROM u GROUP BY 1
ORDER BY max(score) + {float(tie)!r} * (sum(score) - max(score)) DESC, docid ASC
LIMIT {k}"""
    )


def synonym_index_bm25_sql(
    groups: Sequence[Sequence[str]], qtf: Dict[str, int], k: int = 10
) -> str:
    """BM25 top-k over an index built with index-time synonym stacking
    (functions/synonyms.py): tf counts the stacked tokens (UNION ALL of
    the expansion), doc length / field stats stay on the ORIGINAL token
    stream (discountOverlaps — stacked posIncrement-0 tokens don't count
    toward norms)."""
    pairs = []
    for g in groups:
        for src in g:
            for dst in g:
                if src != dst:
                    pairs.append((src, dst))
    syn_vals = ", ".join(f"('{s}', '{d}')" for s, d in sorted(pairs))
    qt_vals = ", ".join(f"('{t}', {int(w)})" for t, w in sorted(qtf.items()))
    return (
        "WITH "
        + TOKS_CTE
        + f""",
syn(src, dst) AS (VALUES {syn_vals}),
etoks AS (SELECT doc_id, term FROM toks
          UNION ALL
          SELECT t.doc_id, s.dst AS term FROM toks t JOIN syn s ON t.term = s.src),
tf AS (SELECT doc_id, term, count(*) AS tf FROM etoks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS doclen FROM toks GROUP BY 1),
fs AS (SELECT count(*) AS doc_cnt,
              sum(doclen) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
qt(term, qtf) AS (VALUES {qt_vals}),
dfreq AS (SELECT term, count(*) AS df FROM tf
          WHERE term IN (SELECT term FROM qt) GROUP BY 1),
w AS (SELECT q.term,
             q.qtf * ln(1 + (fs.doc_cnt - dfreq.df + 0.5) / (dfreq.df + 0.5)) AS w
      FROM qt q JOIN dfreq ON q.term = dfreq.term CROSS JOIN fs),
scored AS (
  SELECT tf.doc_id,
         w.w - w.w / (1 + CAST(tf.tf AS DOUBLE)
                          * (1.0 / (1.2 * (0.25 + 0.75 * dl.doclen / fs.avgdl)))) AS s
  FROM tf JOIN w ON tf.term = w.term
          JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN fs)
SELECT doc_id AS docid, round(sum(s), 4) AS score
FROM scored GROUP BY 1
ORDER BY sum(s) DESC, docid ASC LIMIT {k}"""
    )


def synonym_multiword_bm25_sql(
    rules: Dict[str, Sequence[str]], qtf: Dict[str, int], k: int = 10
) -> str:
    """BM25 top-k over an index built with MULTI-WORD index-time synonym
    rules (functions/synonyms.py multiword_expansion): an n-token source is
    matched on position adjacency in the analyzed stream (tpos self-joins
    on pos+j), each matched anchor emits every token of every output
    sequence once; tf counts originals + emissions, doc length stays on
    the ORIGINAL token stream (discountOverlaps). ``rules`` is the one-way
    dict spec ({'hash join': ['hashjoin'], 'spark': ['big data']});
    source tokens must be non-stop analyzed terms."""
    em_sqls = []
    for ri, (src, outs) in enumerate(sorted(rules.items())):
        src_toks = src.split()
        joins = "".join(
            f"\n      JOIN tpos s{ri}_{j} ON s{ri}_{j}.doc_id = s{ri}_0.doc_id"
            f" AND s{ri}_{j}.pos = s{ri}_0.pos + {j} AND s{ri}_{j}.term = '{t}'"
            for j, t in enumerate(src_toks[1:], start=1)
        )
        for out in outs:
            for t in out.split():
                em_sqls.append(
                    f"SELECT s{ri}_0.doc_id, '{t}' AS term FROM tpos s{ri}_0"
                    f"{joins}\n      WHERE s{ri}_0.term = '{src_toks[0]}'"
                )
    emissions = "\nUNION ALL\n".join(em_sqls)
    qt_vals = ", ".join(f"('{t}', {int(w)})" for t, w in sorted(qtf.items()))
    return (
        "WITH "
        + TOKS_CTE
        + ","
        + TPOS_CTE.lstrip()
        + f""",
etoks AS (SELECT doc_id, term FROM toks
          UNION ALL
          {emissions}),
tf AS (SELECT doc_id, term, count(*) AS tf FROM etoks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS doclen FROM toks GROUP BY 1),
fs AS (SELECT count(*) AS doc_cnt,
              sum(doclen) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
qt(term, qtf) AS (VALUES {qt_vals}),
dfreq AS (SELECT term, count(*) AS df FROM tf
          WHERE term IN (SELECT term FROM qt) GROUP BY 1),
w AS (SELECT q.term,
             q.qtf * ln(1 + (fs.doc_cnt - dfreq.df + 0.5) / (dfreq.df + 0.5)) AS w
      FROM qt q JOIN dfreq ON q.term = dfreq.term CROSS JOIN fs),
scored AS (
  SELECT tf.doc_id,
         w.w - w.w / (1 + CAST(tf.tf AS DOUBLE)
                          * (1.0 / (1.2 * (0.25 + 0.75 * dl.doclen / fs.avgdl)))) AS s
  FROM tf JOIN w ON tf.term = w.term
          JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN fs)
SELECT doc_id AS docid, round(sum(s), 4) AS score
FROM scored GROUP BY 1
ORDER BY sum(s) DESC, docid ASC LIMIT {k}"""
    )


# Deterministic CJK corpus derivation for the cjk_bigram entry: every
# [a-z0-9_] char of documents.text maps to a distinct Han char (translate
# is identical in Spark, DuckDB and Python — verified), so each doc
# becomes runs of Han chars the cjk_bigram analyzer fuses into
# overlapping bigrams. No external data.
CJK_LAT = "abcdefghijklmnopqrstuvwxyz0123456789_"
CJK_HAN = "一二三四五六七八九十百千万丁人入八力刀又口土士夕大女子寸小山川工已干弓才久"


def cjk_bigram_bm25_sql(qtf: Dict[str, int], k: int = 10) -> str:
    """BM25 top-k over the cjk_bigram index of the translated documents
    corpus. The engine's position-adjacency pairing makes bigrams cross
    word boundaries (exactly like CJKBigramFilter's char buffer crossing
    token boundaries), so the oracle stream is the space-stripped char
    sequence: token i = substr(s, i, 2) for i in 1..len-1 (the lone-char
    doc emits its unigram); doclen = emitted token count."""
    qt_vals = ", ".join(f"('{t}', {int(w)})" for t, w in sorted(qtf.items()))
    return f"""WITH chars AS (
  SELECT doc_id, replace(translate(text, '{CJK_LAT}', '{CJK_HAN}'), ' ', '') AS s
  FROM documents),
grams AS (
  SELECT doc_id,
         CASE WHEN length(s) = 1 THEN s
              ELSE substr(s, CAST(i AS INT), 2) END AS term
  FROM chars,
       unnest(generate_series(1, CASE WHEN length(s) <= 1 THEN 1
                                      ELSE length(s) - 1 END)) AS t(i)
  WHERE length(s) >= 1),
tf AS (SELECT doc_id, term, count(*) AS tf FROM grams GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS doclen FROM grams GROUP BY 1),
fs AS (SELECT count(*) AS doc_cnt,
              sum(doclen) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
qt(term, qtf) AS (VALUES {qt_vals}),
dfreq AS (SELECT term, count(*) AS df FROM tf
          WHERE term IN (SELECT term FROM qt) GROUP BY 1),
w AS (SELECT q.term,
             q.qtf * ln(1 + (fs.doc_cnt - dfreq.df + 0.5) / (dfreq.df + 0.5)) AS w
      FROM qt q JOIN dfreq ON q.term = dfreq.term CROSS JOIN fs),
scored AS (
  SELECT tf.doc_id,
         w.w - w.w / (1 + CAST(tf.tf AS DOUBLE)
                          * (1.0 / (1.2 * (0.25 + 0.75 * dl.doclen / fs.avgdl)))) AS s
  FROM tf JOIN w ON tf.term = w.term
          JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN fs)
SELECT doc_id AS docid, round(sum(s), 4) AS score
FROM scored GROUP BY 1
ORDER BY sum(s) DESC, docid ASC LIMIT {k}"""


_LANG_STEM_CASE = {
    # SpanishLightStemmer.java — exact on this ascii corpus (the accent
    # translate step is a no-op over [a-z0-9_] text)
    "spanish": """CASE
      WHEN length(t) < 5 THEN t
      WHEN right(t, 1) IN ('o','a','e') THEN left(t, length(t)-1)
      WHEN right(t, 1) = 's' AND right(t, 4) = 'eses' THEN left(t, length(t)-2)
      WHEN right(t, 1) = 's' AND right(t, 3) = 'ces' THEN left(t, length(t)-3) || 'z'
      WHEN right(t, 1) = 's' AND substr(t, -2, 1) IN ('o','a','e') THEN left(t, length(t)-2)
      ELSE t END""",
    # ItalianLightStemmer.java — same ascii-corpus caveat
    "italian": """CASE
      WHEN length(t) < 6 THEN t
      WHEN right(t, 1) = 'e' AND substr(t, -2, 1) IN ('i','h') THEN left(t, length(t)-2)
      WHEN right(t, 1) = 'e' THEN left(t, length(t)-1)
      WHEN right(t, 1) = 'i' AND substr(t, -2, 1) IN ('h','i') THEN left(t, length(t)-2)
      WHEN right(t, 1) = 'i' THEN left(t, length(t)-1)
      WHEN right(t, 1) IN ('a','o') AND substr(t, -2, 1) = 'i' THEN left(t, length(t)-2)
      WHEN right(t, 1) IN ('a','o') THEN left(t, length(t)-1)
      ELSE t END""",
}


def lang_pack_bm25_sql(lang: str, qtf: Dict[str, int], k: int = 10) -> str:
    """BM25 top-k over a language-pack index (analyzer='spanish'/'italian'):
    the ORACLE regenerates the whole chain in SQL — tokenize, the pack's
    snowball stop set, and the light stemmer as a CASE cascade
    (SpanishLightStemmer.java / ItalianLightStemmer.java re-stated in SQL) —
    then scores the caller's pre-stemmed query terms. Exercises stop-set
    substitution (doclen shifts: 'the' survives a Spanish chain) and the
    vocab-level stem remap end to end."""
    from .analysis import ENGLISH_STOP_WORDS  # noqa: F401  (doc parity)
    from .functions.lang import LANG_PACKS

    stops = ", ".join(f"'{w}'" for w in sorted(LANG_PACKS[lang].stop_words))
    stem_case = _LANG_STEM_CASE[lang]
    qt_vals = ", ".join(f"('{t}', {int(w)})" for t, w in sorted(qtf.items()))
    return f"""WITH rawt AS (
  SELECT doc_id, t FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) u
  WHERE t <> '' AND t NOT IN ({stops})),
toks AS (SELECT doc_id, {stem_case} AS term FROM rawt),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS doclen FROM toks GROUP BY 1),
fs AS (SELECT count(*) AS doc_cnt,
              sum(doclen) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
qt(term, qtf) AS (VALUES {qt_vals}),
dfreq AS (SELECT term, count(*) AS df FROM tf
          WHERE term IN (SELECT term FROM qt) GROUP BY 1),
w AS (SELECT q.term,
             q.qtf * ln(1 + (fs.doc_cnt - dfreq.df + 0.5) / (dfreq.df + 0.5)) AS w
      FROM qt q JOIN dfreq ON q.term = dfreq.term CROSS JOIN fs),
scored AS (
  SELECT tf.doc_id,
         w.w - w.w / (1 + CAST(tf.tf AS DOUBLE)
                          * (1.0 / (1.2 * (0.25 + 0.75 * dl.doclen / fs.avgdl)))) AS s
  FROM tf JOIN w ON tf.term = w.term
          JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN fs)
SELECT doc_id AS docid, round(sum(s), 4) AS score
FROM scored GROUP BY 1
ORDER BY sum(s) DESC, docid ASC LIMIT {k}"""


def similarity_topk_sql(kind: str, qtf: Dict[str, int], k: int = 10) -> str:
    """Top-k OR query under an alternative similarity (Similarity seam,
    lucene/core/src/java/org/apache/lucene/search/similarities/): same
    tokenize/tf/dl/fs CTEs as BM25, different per-clause score expression —
    mirrors the engine's float64 unquantized mode expression shapes.

      classic           sqrt(tf) * (qtf*(ln((N+1)/(df+1))+1)) / sqrt(doclen)
      boolean           qtf (constant per matched clause)
      lm_dirichlet      qtf * max(0, ln(1+tf/(mu*pc)) + ln(mu/(dl+mu))), mu=2000
      lm_jelinek_mercer qtf * ln(1 + (0.9*tf/dl)/(0.1*pc))
    with pc = (ttf+1)/(total_tokens+1) (LMSimilarity.java:144-158)."""
    qt_vals = ", ".join(f"('{t}', {int(w)})" for t, w in sorted(qtf.items()))
    if kind == "classic":
        w_expr = "q.qtf * (ln((fs.doc_cnt + 1) / CAST(dfreq.df + 1 AS DOUBLE)) + 1)"
        s_expr = "sqrt(CAST(tf.tf AS DOUBLE)) * w.w / sqrt(CAST(dl.doclen AS DOUBLE))"
    elif kind == "boolean":
        w_expr = "CAST(q.qtf AS DOUBLE)"
        s_expr = "w.w"
    elif kind == "lm_dirichlet":
        w_expr = "CAST(q.qtf AS DOUBLE)"
        s_expr = ("greatest(0.0, w.w * (ln(1 + tf.tf / (2000.0 * w.pc)) "
                  "+ ln(2000.0 / (dl.doclen + 2000.0))))")
    elif kind == "lm_jelinek_mercer":
        w_expr = "CAST(q.qtf AS DOUBLE)"
        s_expr = "w.w * ln(1 + (0.9 * tf.tf / dl.doclen) / (0.1 * w.pc))"
    elif kind == "dfr_ine_l_h2":
        # W = qtf * log2((N+1)/(ne+0.5)), ne = N*(1-((N-1)/N)^ttf);
        # score = W * (1 - 1/(1 + tf*log2(1 + avgdl/dl)))
        w_expr = (
            "q.qtf * ln((fs.doc_cnt + 1) / "
            "(fs.doc_cnt * (1 - pow((fs.doc_cnt - 1) / CAST(fs.doc_cnt AS DOUBLE), "
            "CAST(dfreq.ttf AS DOUBLE))) + 0.5)) / ln(2)"
        )
        s_expr = (
            "w.w * (1 - 1 / (1 + tf.tf * ln(1 + fs.avgdl / dl.doclen) / ln(2)))"
        )
    elif kind == "ib_ll_df_h2":
        # lambda = (df+1)/(N+1) rides in the pc column; score =
        # W * -ln(lambda/(tfn+lambda)), tfn = tf*log2(1 + avgdl/dl)
        w_expr = "CAST(q.qtf AS DOUBLE)"
        s_expr = (
            "w.w * -ln(w.pc / "
            "(tf.tf * ln(1 + fs.avgdl / dl.doclen) / ln(2) + w.pc))"
        )
    elif kind == "dfi_standardized":
        # expected = pc * doclen, pc = (ttf+1)/(total_tokens+1); score 0 when
        # freq <= expected else log2((freq-expected)/sqrt(expected) + 1)
        # (DFISimilarity.java:69-81, IndependenceStandardized.java:33-35)
        w_expr = "CAST(q.qtf AS DOUBLE)"
        s_expr = (
            "CASE WHEN tf.tf <= w.pc * dl.doclen THEN 0.0 ELSE "
            "w.w * ln((tf.tf - w.pc * dl.doclen) / sqrt(w.pc * dl.doclen) + 1)"
            " / ln(2) END"
        )
    elif kind == "axiomatic_f2exp":
        # score = qtf * ((N+1)/df)^0.35 * f/(f + 0.25 + 0.25*dl/avgdl)
        # (Axiomatic.java:106-117, AxiomaticF2EXP.java:57-85)
        w_expr = "q.qtf * pow((fs.doc_cnt + 1.0) / dfreq.df, 0.35)"
        s_expr = (
            "w.w * tf.tf / (tf.tf + 0.25 + 0.25 * dl.doclen / fs.avgdl)"
        )
    else:
        raise ValueError(kind)
    pc_expr = (
        "(dfreq.df + 1.0) / (fs.doc_cnt + 1.0)"
        if kind == "ib_ll_df_h2"
        else "(dfreq.ttf + 1.0) / (ftok.total + 1.0)"
    )
    return (
        "WITH "
        + BM25_CTES
        + f""",
qt(term, qtf) AS (VALUES {qt_vals}),
dfreq AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf
          WHERE term IN (SELECT term FROM qt) GROUP BY 1),
ftok AS (SELECT sum(doclen) AS total FROM dl),
w AS (SELECT q.term, {w_expr} AS w,
             {pc_expr} AS pc
      FROM qt q JOIN dfreq ON q.term = dfreq.term
      CROSS JOIN fs CROSS JOIN ftok),
scored AS (
  SELECT tf.doc_id, {s_expr} AS s
  FROM tf JOIN w ON tf.term = w.term
          JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN fs)
SELECT doc_id AS docid, round(sum(s), 4) AS score
FROM scored GROUP BY 1
ORDER BY sum(s) DESC, docid ASC LIMIT {k}"""
    )


def _not_clause(excluded: Sequence[str]) -> str:
    if not excluded:
        return ""
    lst = ", ".join(f"'{t}'" for t in sorted(excluded))
    return (
        f" AND doc_id NOT IN (SELECT DISTINCT doc_id FROM toks WHERE term IN ({lst}))"
    )


def bm25_topk_sql(
    qtf: Dict[str, int],
    k: int = 10,
    required: Sequence[str] = (),
    excluded: Sequence[str] = (),
    min_should_match: int = 0,
    opt_counts: Optional[Dict[str, int]] = None,
) -> str:
    """Top-k BM25: OR over qt terms; AND when `required` lists all terms
    that must match; NOT via excluded; ``min_should_match`` demands that
    many matched SHOULD clause instances (counts from ``opt_counts``,
    defaulting to 1 per non-required qt term)."""
    if required:
        req = ", ".join(f"'{t}'" for t in sorted(set(required)))
        and_f = (
            f" AND (SELECT count(DISTINCT term) FROM scored s2 "
            f"WHERE s2.doc_id = agg.doc_id AND s2.term IN ({req})) = {len(set(required))}"
        )
    else:
        and_f = ""
    oc = opt_counts
    if min_should_match > 0 and oc is None:
        oc = {t: 1 for t in qtf if t not in set(required)}
    msm_f = f" AND n_should >= {int(min_should_match)}" if min_should_match > 0 else ""
    return (
        bm25_scored_cte(qtf, opt_counts=oc)
        + f"""
SELECT doc_id AS docid, round(score, 4) AS score
FROM agg WHERE 1=1{and_f}{_not_clause(excluded)}{msm_f}
ORDER BY agg.score DESC, docid ASC LIMIT {k}"""
    )


def bm25_matches_cte(qtf: Dict[str, int], required: Sequence[str] = (),
                     excluded: Sequence[str] = ()) -> str:
    """CTE prefix ending in ``hits(doc_id, score)`` (no limit) for facet /
    stats / grouping oracles."""
    if required:
        req = ", ".join(f"'{t}'" for t in sorted(set(required)))
        and_f = (
            f" AND (SELECT count(DISTINCT term) FROM scored s2 "
            f"WHERE s2.doc_id = agg.doc_id AND s2.term IN ({req})) = {len(set(required))}"
        )
    else:
        and_f = ""
    return (
        bm25_scored_cte(qtf)
        + f""",
hits AS (SELECT doc_id, score FROM agg WHERE 1=1{and_f}{_not_clause(excluded)})"""
    )
