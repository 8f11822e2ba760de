"""Streaming analogs of Lucene's incremental machinery (SURVEY.md §2.9).

  Monitor (percolator)  [lucene/monitor/src/java/org/apache/lucene/monitor/Monitor.java:42]
      reverse search: stored queries matched against each incoming batch
      of documents. Flat min-match term sets (percolate_prefiltered), full
      shapes with NOT terms and a phrase (percolate_full) and arbitrary
      query strings decomposed to DNF clauses (percolate_tree) all lower to
      DISTINCT clause shapes matched by one core (_tree_match_core): a
      per-doc presence bitmask over every stored term and constraint,
      tested against the broadcast shape table's banked (word, mask)
      pairs. percolate_batch / percolate_stream stay the append-mode
      stream-static form (no aggregation, so no watermark needed).

  NRT refresh / SearcherManager  [index/DirectoryReader.java:241-278]
      -> index.builder.append_to_index from foreachBatch: each micro-batch
         builds new segments into the same index dir (manifest grows;
         readers see the new snapshot on next open).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F

from .pipeline.textstats import tokens
from .session import spread_small

_MASK_INLINE_TERMS = 62     # term bits set by one inline expression, no shuffle
_MASK_MAX_EXISTS = 32       # distinct patterns / ranges / phrases checked inline
# stored-query table small enough to dedup on the driver (one collect
# replaces the 3-shuffle Spark-side dedup; ~100 B/row of driver memory)
_DRIVER_DEDUP_QUERIES = 100_000


def _doc_masks(docs: DataFrame, text_col: str, iv, n_words: int,
               flags, expand) -> DataFrame:
    """(doc_id, __mask__ array<long>) — per-doc presence bitmask of
    ``n_words`` words. Bit j < |iv| is the stored term iv[j]; ``flags`` are
    (bit, per-doc boolean Column) inline constraints; ``expand`` are
    (term, bit) DataFrames of constraints expanded against the batch
    vocabulary. |iv| <= 62 with nothing to expand: one inline expression,
    no shuffle; otherwise explode + broadcast-join + one (doc_id) group,
    its shuffle sized to the session's parallelism (an explicit count AQE
    leaves alone, so the crossJoin downstream keeps every core busy).
    Project early: the text column never leaves this function."""
    toks_d = F.array_distinct(tokens(text_col))
    flag_bits = F.array_compact(
        F.array(*[F.when(c, F.lit(b)) for b, c in flags]).cast("array<int>")
    )
    if len(iv) <= _MASK_INLINE_TERMS and not expand:
        def bitof(t):
            c = F.when(t == iv[0], F.lit(0))
            for j, w in enumerate(iv[1:], 1):
                c = c.when(t == w, F.lit(j))
            return c

        bits = F.array().cast("array<int>")
        if iv:
            bits = F.transform(F.array_intersect(toks_d, F.array(*map(F.lit, iv))), bitof)
        return spread_small(docs).select(
            "doc_id", _fold_words(F.concat(bits, flag_bits), n_words).alias("__mask__")
        )

    spark = docs.sparkSession
    term_bits = _local_df(
        spark, list(zip(iv, range(len(iv)))), "term string, bit int"
    )
    for e in expand:
        term_bits = term_bits.unionByName(e)
    bits = F.array_union(F.collect_set("bit"), F.first("__fl__"))
    return (
        docs.select("doc_id", F.explode_outer(toks_d).alias("term"),
                    flag_bits.alias("__fl__"))
        .join(F.broadcast(term_bits), "term", "left")
        .select("doc_id", "bit", "__fl__")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .groupBy("doc_id")
        .agg(_fold_words(bits, n_words).alias("__mask__"))
    )


def _fold_words(bits, n_words: int):
    """Dense int64 word array with every bit index in ``bits`` set."""
    one = F.lit(1).cast("long")
    zero = F.array_repeat(F.lit(0).cast("long"), n_words)
    return F.aggregate(
        bits, zero,
        lambda acc, b: F.transform(
            acc,
            lambda x, i: F.when(
                i == F.shiftright(b, 6),
                x.bitwiseOR(F.call_function("shiftleft", one, b.bitwiseAND(63))),
            ).otherwise(x),
        ),
    )


def _banks(bit_sets):
    """Per shape, the (word index, word mask) pairs of the doc-mask words
    its bits touch, padded with (0, 0) to the largest count K. Returns
    (K, [(words, masks)]) with masks wrapped to signed int64."""
    per = []
    for bits in bit_sets:
        words: dict = {}
        for b in bits:
            words[b // 64] = words.get(b // 64, 0) | (1 << (b % 64))
        per.append(sorted(words.items()))
    k = max((len(p) for p in per), default=0)
    out = []
    for p in per:
        p = p + [(0, 0)] * (k - len(p))
        out.append(([w for w, _ in p],
                    [m - (1 << 64) if m >= (1 << 63) else m for _, m in p]))
    return k, out


def _bank_count(words: str, masks: str, k: int):
    """Σₖ bit_count(doc[words[k]] & masks[k]): how many of a shape's bits
    the doc mask holds. Unrolled over the K banks — Spark runs
    higher-order functions interpreted, this stays in generated code."""
    dm = F.col("__mask__")
    s = F.lit(0)
    for i in range(k):
        s = s + F.bit_count(
            F.get(dm, F.col(words)[i]).bitwiseAND(F.col(masks)[i])
        )
    return s


def percolate_batch(docs: DataFrame, queries: DataFrame, text_col: str = "text") -> DataFrame:
    """Match stored queries against a batch/stream of documents.

    ``queries``: (qid int, terms array<string>, min_match int) — a doc
    matches when >= min_match of the query's distinct terms occur in it.
    Per-doc matching against the broadcast query table (MemoryIndex-style,
    MemoryIndex.java:201): no shuffle, no stateful aggregation, so the plan
    is a pure stream-static join that runs in append mode without
    watermarks. For LARGE stored-query sets use percolate_prefiltered —
    this broadcast form evaluates every query against every doc.

    r7: duplicate (terms, min_match) shapes cross-evaluate once and fan
    back out (the same Monitor QueryIndex dedup the prefiltered form
    already did) — the crossJoin side shrinks by the duplication factor
    while results stay identical. The dedup runs on the driver when the
    (static) query table is small, else through the Spark-side
    _dedup_stored."""
    spark = queries.sparkSession
    got = _driver_dedup(queries, ["terms", "min_match"])
    if got is not None:
        uniq_rows, mapping = got
        uniq = F.broadcast(spark.createDataFrame(
            [(q, sorted(t), m) for q, (t, m) in uniq_rows],
            "qid int, terms array<string>, min_match int",
        ))
    else:
        u, mapping = _dedup_stored(
            queries.select("qid", "terms", "min_match"), ["terms", "min_match"]
        )
        uniq = F.broadcast(u)
    toked = spread_small(docs).withColumn("__toks__", F.array_distinct(tokens(text_col)))
    j = toked.crossJoin(uniq)
    matches = (
        j.withColumn("n_matched", F.size(F.array_intersect("__toks__", "terms")).cast("long"))
        .filter(F.col("n_matched") >= F.col("min_match"))
        .select("qid", "doc_id", "n_matched")
    )
    return _fan_out(matches, mapping, extra=("n_matched",))


def _driver_dedup(queries: DataFrame, shape_cols):
    """Driver-side analog of _dedup_stored for SMALL query tables: one
    collect instead of three shuffles. Returns (uniq_rows, mapping_df)
    where uniq_rows = [(rep_qid, shape_key)] — shape keys canonicalize
    arrays of terms to frozensets (semantically safe: every consumer is
    order/duplicate-insensitive) except phrases, which stay exact
    sequences. None when the table exceeds _DRIVER_DEDUP_QUERIES."""
    rows = _collect_small(queries.select("qid", *shape_cols), _DRIVER_DEDUP_QUERIES)
    if rows is None:
        return None

    def keyof(r):
        # NULL arrays group with [] — matching treats both as "no
        # constraint", so the merged group's results are identical
        parts = []
        for c in shape_cols:
            v = r[c]
            if c == "phrase":
                parts.append(tuple(v or []))
            elif v is None or isinstance(v, list):
                parts.append(frozenset(v or []))
            else:
                parts.append(v)
        return tuple(parts)

    groups: dict = {}
    for r in rows:
        groups.setdefault(keyof(r), []).append(int(r["qid"]))
    uniq_rows = [(min(qids), k) for k, qids in groups.items()]
    mapping_df = _local_df(
        queries.sparkSession,
        [(min(qids), q) for qids in groups.values() for q in qids],
        "__rep__ int, qid int",
    )
    return uniq_rows, mapping_df


def _dedup_stored(queries: DataFrame, shape_cols):
    """Collapse duplicate stored-query SHAPES to one representative qid
    (Monitor QueryIndex analog — the reference indexes each distinct query
    once and fans matches back out): alerting workloads repeat shapes
    massively, and the broadcast shape table scales in distinct shapes.
    Returns (uniq, mapping): uniq holds one row per distinct shape under
    its min-qid representative; mapping (__rep__, qid) restores per-qid
    results — identical shapes match identical docs."""
    skey = F.sha2(F.to_json(F.struct(*[F.col(c) for c in shape_cols])), 256)
    qk = queries.withColumn("__skey__", skey)
    rep = qk.groupBy("__skey__").agg(F.min("qid").alias("__rep__"))
    qk = qk.join(rep, "__skey__")
    uniq = qk.filter(F.col("qid") == F.col("__rep__")).drop("__skey__", "__rep__")
    mapping = qk.select("__rep__", "qid")
    return uniq, mapping


def _fan_out(matches: DataFrame, mapping: DataFrame, extra=()) -> DataFrame:
    # mapping is stored-query-sized (never doc-scaled): force the broadcast
    # so the match side is NOT shuffled for the fan-out (guide §3.1)
    return (
        matches.withColumnRenamed("qid", "__rep__")
        .join(F.broadcast(mapping), "__rep__")
        .select("qid", "doc_id", *extra)
    )


def _collect_small(df: DataFrame, cap: int):
    """Collect up to ``cap`` rows; None when the frame is larger (the
    caller falls back to the fully distributed plan)."""
    rows = df.limit(cap + 1).collect()
    return None if len(rows) > cap else rows


def _local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A driver-built table (shapes, term bits, qid mappings) as a local
    relation through Arrow: the plan carries the rows, so the jobs that
    broadcast it start no Python worker, where a list-of-tuples
    createDataFrame re-reads pickled rows through Python tasks."""
    if not rows:
        return spark.createDataFrame([], schema)
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows), schema)


def _percolate_flat(docs: DataFrame, queries: DataFrame, text_col: str,
                    shape_cols) -> DataFrame:
    """Shared body of percolate_prefiltered / percolate_full: dedup the
    stored rows to distinct shapes (on the driver for small tables, else
    _dedup_stored plus one collect of the distinct shapes), match each as
    a one-clause shape through _tree_match_core, fan back out per qid.
    min_match is clamped to >= 1: a pair sharing no term never matches
    (the Monitor pre-filter's candidate contract)."""
    queries = queries.select("qid", *shape_cols)
    got = _driver_dedup(queries, shape_cols)
    if got is not None:
        uniq_rows, mapping = got
        uniq = [(q, dict(zip(shape_cols, key))) for q, key in uniq_rows]
    else:
        u, mapping = _dedup_stored(queries, shape_cols)
        uniq = [(r["qid"], r.asDict()) for r in u.collect()]
    sets = [
        {"sid": int(q), "terms": set(v["terms"] or ()),
         "nots": set(v.get("not_terms") or ()),
         "phrases": [list(v["phrase"])] if v.get("phrase") else [],
         "patterns": [], "sloppy": [], "fuzzies": [], "ranges": [],
         "min_match": max(int(v["min_match"]), 1)}
        for q, v in uniq
    ]
    matches = _tree_match_core(docs, text_col, sets)
    return _fan_out(matches.withColumnRenamed("sid", "qid"), mapping,
                    extra=("n_matched",))


def percolate_prefiltered(docs: DataFrame, queries: DataFrame, text_col: str = "text") -> DataFrame:
    """Percolation for large stored-query sets — the Monitor's query-index
    pre-filter (monitor/Monitor.java:42, CandidateMatcher.java): a (doc,
    query) pair matches when they share >= max(min_match, 1) terms.
    Results are identical to percolate_batch (differential-tested), with
    ``n_matched`` the number of the query's distinct terms in the doc.

    Duplicate (terms, min_match) shapes run once and fan back out (Monitor
    QueryIndex analog). Matching is the percolator core: per-doc presence
    bitmasks against the broadcast table of distinct shapes, n_matched a
    popcount over each shape's banked mask words. Every join is a
    broadcast; nothing doc-scaled is shuffled beyond the one (doc_id)
    group that builds masks over a vocabulary of more than 62 terms."""
    return _percolate_flat(docs, queries, text_col, ["terms", "min_match"])


def percolate_full(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Percolation with the full stored-query shape the Monitor supports
    for boolean queries (monitor/Monitor.java:42, QueryDecomposer):

    ``queries``: (qid int, terms array<string>, min_match int,
                  not_terms array<string>, phrase array<string>)
    — a doc matches when >= min_match of ``terms`` occur, NONE of
    ``not_terms`` occur (empty/null = no exclusion), and ``phrase`` (an
    exact consecutive-token run; empty/null = no phrase) occurs.

    Each distinct shape is one clause of the percolator core: terms and
    NOT terms are banked mask tests, the phrase a per-doc substring flag
    (<= 32 distinct phrases) or the position-anchor join leg. Streaming
    note: the core aggregates per doc, so in Structured Streaming run this
    from ``foreachBatch`` (micro-batch = static frame); ``percolate_batch``
    remains the append-mode stream-static form."""
    return _percolate_flat(
        docs, queries, text_col, ["terms", "min_match", "not_terms", "phrase"]
    )


def decompose_query(node, max_clauses: int = 64):
    """QueryDecomposer analog (monitor/QueryDecomposer.java:33): lower a
    parsed query tree to a disjunction of conjunctive clauses the join
    machinery can evaluate. Each clause is
    ``{terms, nots, phrases, patterns, sloppy, fuzzies, ranges}``: the doc
    must contain EVERY term, NONE of the nots, every exact phrase
    (consecutive), at least one token matching every LIKE pattern, every
    sloppy 2-term phrase within its slop, at least one token within every
    fuzzy constraint's edit distance, and at least one token inside every
    term range. A doc matches the query when any clause matches.

    Matching semantics (scores are irrelevant to percolation):
    MUST clauses AND-merge (clause cross-product); SHOULD clauses form the
    disjunction — and are IGNORED when MUSTs exist (optional clauses never
    gate a match, BooleanQuery matching semantics); MUST_NOT must lower to
    pure terms (a term, or a boolean of SHOULD terms — De Morgan turns
    NOT(a OR b) into nots {a, b}).

    r6 (the Monitor's CandidateMatcher verify analog,
    monitor/CandidateMatcher.java — VERDICT r5 missing#5): sloppy TWO-term
    phrases ("a b"~2; the pair's terms also join the clause's required
    terms as the prefilter), fuzzy terms (term~1, Damerau), and term
    ranges ([lo TO hi]) now lower to verify legs instead of refusing.
    Still refused loudly: >2-term sloppy phrases, non-transposition fuzzy,
    field ranges, NOT over phrase/prefix, pure-negative booleans."""
    from .search.plan import (
        MUST,
        MUST_NOT,
        QBool,
        QFuzzy,
        QPhrase,
        QPrefix,
        QRange,
        QTerm,
        QWildcard,
        SHOULD,
    )

    def like_pattern(raw: str, star_suffix: bool = False) -> str:
        esc = raw.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
        esc = esc.replace("*", "%").replace("?", "_")
        return esc + "%" if star_suffix else esc

    def pure_terms(n) -> set:
        if isinstance(n, QTerm):
            return {n.term}
        if isinstance(n, QBool) and all(
            occ == SHOULD and isinstance(c, QTerm) for occ, c in n.clauses
        ):
            return {c.term for _, c in n.clauses}
        raise NotImplementedError(
            f"MUST_NOT over {type(n).__name__} is not percolatable (only a "
            "term or a disjunction of terms lowers via De Morgan)"
        )

    def empty_clause():
        return {"terms": set(), "nots": set(), "phrases": [], "patterns": [],
                "sloppy": [], "fuzzies": [], "ranges": []}

    def merge(a, b):
        return {
            "terms": a["terms"] | b["terms"],
            "nots": a["nots"] | b["nots"],
            "phrases": a["phrases"] + b["phrases"],
            "patterns": a["patterns"] + b["patterns"],
            "sloppy": a["sloppy"] + b["sloppy"],
            "fuzzies": a["fuzzies"] + b["fuzzies"],
            "ranges": a["ranges"] + b["ranges"],
        }

    def one(**kw):
        c = empty_clause()
        c.update(kw)
        return [c]

    def dnf(n):
        if isinstance(n, QTerm):
            return one(terms={n.term})
        if isinstance(n, QPhrase):
            if n.slop != 0:
                if len(n.terms_off) != 2:
                    raise NotImplementedError(
                        "sloppy percolation supports 2-term phrases only"
                    )
                (ta, oa), (tb, ob) = n.terms_off
                # the pair's terms are ALSO required terms: the cheap
                # equi-join leg prefilters, the positions band-join
                # verifies (CandidateMatcher.java two-phase shape)
                return one(terms={ta, tb},
                           sloppy=[(ta, tb, int(ob - oa), int(n.slop))])
            terms = []
            for i, (t, off) in enumerate(n.terms_off):
                if off != i:
                    raise NotImplementedError(
                        "phrase with position holes is not percolatable "
                        "(parse stored queries with stop_words=frozenset())"
                    )
                terms.append(t)
            return one(phrases=[terms])
        if isinstance(n, QPrefix):
            return one(patterns=[like_pattern(n.prefix, star_suffix=True)])
        if isinstance(n, QWildcard):
            return one(patterns=[like_pattern(n.pattern)])
        if isinstance(n, QFuzzy):
            if not n.transpositions:
                raise NotImplementedError(
                    "fuzzy percolation supports Damerau (transpositions) only"
                )
            return one(fuzzies=[(n.term, int(n.max_edits))])
        if isinstance(n, QRange):
            if n.field is not None:
                raise NotImplementedError(
                    "field-range percolation unsupported (term ranges only)"
                )
            return one(ranges=[(n.lo, n.hi)])
        if isinstance(n, QBool):
            musts = [c for occ, c in n.clauses if occ == MUST]
            shoulds = [c for occ, c in n.clauses if occ == SHOULD]
            nots = [c for occ, c in n.clauses if occ == MUST_NOT]
            if musts:
                acc = [empty_clause()]
                for m in musts:
                    acc = [merge(a, b) for a in acc for b in dnf(m)]
                    if len(acc) > max_clauses:
                        raise ValueError(
                            f"query decomposes to >{max_clauses} clauses"
                        )
            elif shoulds:
                acc = [c for s in shoulds for c in dnf(s)]
                if len(acc) > max_clauses:
                    raise ValueError(f"query decomposes to >{max_clauses} clauses")
            else:
                raise NotImplementedError(
                    "pure-negative boolean is not percolatable (no positive leg)"
                )
            for nn in nots:
                nt = pure_terms(nn)
                for c in acc:
                    c["nots"] = c["nots"] | nt
            return acc
        raise NotImplementedError(
            f"{type(n).__name__} percolation unsupported (term/phrase/prefix/"
            "wildcard/boolean only)"
        )

    clauses = dnf(node)
    for c in clauses:
        if not (c["terms"] or c["phrases"] or c["patterns"]
                or c["fuzzies"] or c["ranges"]):
            raise NotImplementedError("clause with no positive constraint")
    return clauses


_CLAUSE_SCHEMA = (
    "qid int, cid int, terms array<string>, not_terms array<string>, "
    "phrases array<array<string>>, patterns array<string>, "
    "sloppy array<struct<ta:string,tb:string,gap:int,slop:int>>, "
    "fuzzies array<struct<fterm:string,fedits:int>>, "
    "ranges array<struct<rlo:string,rhi:string>>"
)


def _crow(qid, ci, c):
    return {
        "qid": int(qid), "cid": int(ci),
        "terms": sorted(c["terms"]), "not_terms": sorted(c["nots"]),
        "phrases": c["phrases"], "patterns": c["patterns"],
        "sloppy": [
            {"ta": a, "tb": b, "gap": int(g), "slop": int(s)}
            for a, b, g, s in c["sloppy"]
        ],
        "fuzzies": [
            {"fterm": t, "fedits": int(e)} for t, e in c["fuzzies"]
        ],
        "ranges": [{"rlo": lo, "rhi": hi} for lo, hi in c["ranges"]],
    }


def _set_dict(row) -> dict:
    """Canonical clause-shape dict from a _crow-shaped row/dict."""
    return {
        "terms": set(row["terms"] or []),
        "nots": set(row["not_terms"] or []),
        "phrases": [list(p) for p in (row["phrases"] or [])],
        "patterns": list(row["patterns"] or []),
        "sloppy": [
            (d["ta"], d["tb"], int(d["gap"]), int(d["slop"]))
            if isinstance(d, dict) else (d[0], d[1], int(d[2]), int(d[3]))
            for d in (row["sloppy"] or [])
        ],
        "fuzzies": [
            (d["fterm"], int(d["fedits"])) if isinstance(d, dict)
            else (d[0], int(d[1]))
            for d in (row["fuzzies"] or [])
        ],
        "ranges": [
            (d["rlo"], d["rhi"]) if isinstance(d, dict) else (d[0], d[1])
            for d in (row["ranges"] or [])
        ],
    }


def _set_key(s: dict) -> str:
    """Stable canonical key of a clause shape (identical key ⇒ identical
    match semantics: every constraint family is order-insensitive)."""
    return json.dumps([
        sorted(s["terms"]), sorted(s["nots"]),
        sorted(map(tuple, s["phrases"])), sorted(s["patterns"]),
        sorted(s["sloppy"]), sorted(s["fuzzies"]), sorted(s["ranges"]),
    ], default=list)


def _tree_match_core(docs: DataFrame, text_col: str, sets) -> DataFrame:
    """(sid, doc_id, n_matched) for every distinct clause shape in
    ``sets`` (_set_dict-shaped dicts plus ``sid`` and, for flat shapes,
    ``min_match``) — the one percolator matching core.

    Every constraint that is a per-doc fact is a bit of the doc mask: the
    stored terms (NOT terms included), <= 32 distinct patterns / ranges /
    exact phrases as inline exists() or substring flags, and fuzzies plus
    patterns / ranges beyond 32 expanded against the batch vocabulary into
    (term, bit) rows. Each shape keeps three banked bit groups — counted
    terms, all-required constraints, NOT terms — so a (doc, shape) pair is
    K popcounts against the broadcast shape table (HERO-style banked set
    containment): n_matched = counted terms present >= min_match (a tree
    clause needs all |terms|), every required bit present, no NOT bit.
    Only phrases beyond the inline limit and sloppy phrases keep their
    position join legs, restricted to the shapes that carry them."""
    spark = docs.sparkSession
    iv = sorted(
        {t for s in sets for t in s["terms"]}
        | {t for s in sets for t in s["nots"]}
    )
    pats = sorted({p for s in sets for p in s["patterns"]})
    rngs = sorted({r for s in sets for r in s["ranges"]})
    fzs = sorted({f for s in sets for f in s["fuzzies"]})
    # exact phrases lower to inline substring flags when few are distinct
    # (a phrase is a consecutive run of whitespace tokens, so it occurs
    # iff ' p1 p2 .. ' substrings the space-normalized token string — no
    # positions explode, no anchor join); many distinct phrases keep the
    # join leg below
    phs = sorted({tuple(p) for s in sets for p in s["phrases"]})
    inline_ph = len(phs) <= _MASK_MAX_EXISTS
    bit = {("t", t): j for j, t in enumerate(iv)}
    for key in ([("p", p) for p in pats] + [("r", r) for r in rngs]
                + [("f", f) for f in fzs]
                + ([("h", p) for p in phs] if inline_ph else [])):
        bit[key] = len(bit)
    n_words = max(1, (len(bit) + 63) // 64)

    cnt, req, nots = [], [], []
    for s in sets:
        cnt.append({bit["t", t] for t in s["terms"]})
        nots.append({bit["t", t] for t in s["nots"]})
        req.append(
            {bit["p", p] for p in s["patterns"]}
            | {bit["r", r] for r in s["ranges"]}
            | {bit["f", f] for f in s["fuzzies"]}
            | ({bit["h", tuple(p)] for p in s["phrases"]} if inline_ph else set())
        )
    kc, bc = _banks(cnt)
    kr, br = _banks(req)
    kn, bn = _banks(nots)
    sets_df = _local_df(
        spark,
        [
            (int(s["sid"]), int(s.get("min_match", len(c))), len(r), *wc, *wr, *wn)
            for s, c, r, wc, wr, wn in zip(sets, cnt, req, bc, br, bn)
        ],
        "sid int, min_match int, n_req int, cw array<int>, cm array<bigint>, "
        "rw array<int>, rm array<bigint>, nw array<int>, nm array<bigint>",
    )
    toks_d = F.array_distinct(tokens(text_col))

    # single-arg closures: pyspark derives the lambda-variable count from
    # the signature, so extra default args would bind the (element, index)
    # pair instead of the captured constant
    def _like_fn(p):
        return lambda t: t.like(p)

    def _range_fn(lo, hi):
        return lambda t: (t >= lo) & (t <= hi)

    flags, expand = [], []
    vocab = docs.select(F.explode(toks_d).alias("term")).distinct()
    if len(pats) <= _MASK_MAX_EXISTS:
        flags += [(bit["p", p], F.exists(toks_d, _like_fn(p))) for p in pats]
    else:
        pat_df = _local_df(
            spark, [(p, bit["p", p]) for p in pats], "pat string, bit int"
        )
        expand.append(vocab.join(F.broadcast(pat_df), F.expr("term LIKE pat"))
                      .select("term", "bit"))
    if len(rngs) <= _MASK_MAX_EXISTS:
        flags += [(bit["r", r], F.exists(toks_d, _range_fn(*r))) for r in rngs]
    else:
        rng_df = _local_df(
            spark, [(lo, hi, bit["r", (lo, hi)]) for lo, hi in rngs],
            "rlo string, rhi string, bit int",
        )
        in_range = F.col("term").between(F.col("rlo"), F.col("rhi"))
        expand.append(
            vocab.join(F.broadcast(rng_df), in_range).select("term", "bit")
        )
    if fzs:
        from .functions.fuzzy import damerau_pair_predicate

        fz_df = _local_df(
            spark, [(t, int(e), bit["f", (t, e)]) for t, e in fzs],
            "fterm string, fedits int, bit int",
        )
        expand.append(
            vocab.crossJoin(F.broadcast(fz_df))
            .filter(damerau_pair_predicate(
                F.col("term"), F.col("fterm"), F.col("fedits")))
            .select("term", "bit")
        )
    if inline_ph and phs:
        joined = F.concat(
            F.lit(" "), F.array_join(tokens(text_col), " "), F.lit(" ")
        )
        flags += [(bit["h", p], joined.contains(" " + " ".join(p) + " "))
                  for p in phs]
    docm = _doc_masks(docs, text_col, iv, n_words, flags, expand)

    cond = F.col("n_matched") >= F.col("min_match")
    if kr:
        cond &= _bank_count("rw", "rm", kr) == F.col("n_req")
    if kn:
        cond &= _bank_count("nw", "nm", kn) == 0
    matches = (
        docm.crossJoin(F.broadcast(sets_df))
        .withColumn("n_matched", _bank_count("cw", "cm", kc).cast("long"))
        .filter(cond)
        .select("sid", "doc_id", "n_matched")
    )

    ph_sets = [] if inline_ph else [s for s in sets if s["phrases"]]
    sl_sets = [s for s in sets if s["sloppy"]]
    dpos = None
    if ph_sets or sl_sets:
        dpos = docs.select(
            "doc_id", F.posexplode(tokens(text_col)).alias("pos", "term")
        )
    if ph_sets:
        slot_rows = [
            (int(s["sid"]), len(s["phrases"]), pid, len(phr), slot, term)
            for s in ph_sets
            for pid, phr in enumerate(s["phrases"])
            for slot, term in enumerate(phr)
        ]
        slots = _local_df(
            spark, slot_rows,
            "sid int, n_ph int, pid int, n_slots int, slot int, term string",
        )
        anchored = (
            dpos.join(F.broadcast(slots), "term")
            .select("sid", "n_ph", "pid", "doc_id", "n_slots", "slot",
                    (F.col("pos") - F.col("slot")).alias("anchor"))
            .groupBy("sid", "n_ph", "pid", "doc_id", "anchor", "n_slots")
            .agg(F.count_distinct("slot").alias("hit_slots"))
            .filter(F.col("hit_slots") == F.col("n_slots"))
            .select("sid", "n_ph", "pid", "doc_id")
            .distinct()
        )
        ok_p = (
            anchored.groupBy("sid", "n_ph", "doc_id")
            .agg(F.count_distinct("pid").alias("nm"))
            .filter(F.col("nm") == F.col("n_ph"))
            .select("sid", "doc_id")
        )
        ph_ids = [int(s["sid"]) for s in ph_sets]
        matches = matches.filter(~F.col("sid").isin(ph_ids)).unionByName(
            matches.filter(F.col("sid").isin(ph_ids))
            .join(ok_p, ["sid", "doc_id"], "left_semi")
        )
    if sl_sets:
        # 2-term sloppy phrases match when SOME position pair sits within
        # the slop band — |pa + gap - pb| <= slop is exactly Lucene's
        # 2-term matchLength (SloppyPhraseMatcher.java:200-236) — as an
        # equi-join on (doc, term) with a position band predicate; the
        # pair's terms are already counted terms, so the mask pre-filters
        sl_rows = [
            (int(s["sid"]), len(s["sloppy"]), slid, ta, tb, int(gap), int(slop))
            for s in sl_sets
            for slid, (ta, tb, gap, slop) in enumerate(s["sloppy"])
        ]
        srow = _local_df(
            spark, sl_rows,
            "sid int, n_sl int, slid int, ta string, tb string, "
            "gap int, slop int",
        )
        pa = srow.join(dpos, srow.ta == dpos.term).select(
            "sid", "n_sl", "slid", "tb", "gap", "slop", "doc_id",
            F.col("pos").alias("pos_a"),
        )
        pb = dpos.select(
            F.col("doc_id").alias("doc_id_b"), F.col("term").alias("term_b"),
            F.col("pos").alias("pos_b"),
        )
        hit = pa.join(
            pb,
            (F.col("doc_id") == F.col("doc_id_b"))
            & (F.col("term_b") == F.col("tb"))
            & (F.col("pos_b") != F.col("pos_a"))
            & (F.col("pos_b") >= F.col("pos_a") + F.col("gap") - F.col("slop"))
            & (F.col("pos_b") <= F.col("pos_a") + F.col("gap") + F.col("slop")),
        )
        ok_s = (
            hit.select("sid", "n_sl", "slid", "doc_id").distinct()
            .groupBy("sid", "n_sl", "doc_id")
            .agg(F.count_distinct("slid").alias("nm"))
            .filter(F.col("nm") == F.col("n_sl"))
            .select("sid", "doc_id")
        )
        sl_ids = [int(s["sid"]) for s in sl_sets]
        matches = matches.filter(~F.col("sid").isin(sl_ids)).unionByName(
            matches.filter(F.col("sid").isin(sl_ids))
            .join(ok_s, ["sid", "doc_id"], "left_semi")
        )
    return matches


def _match_query_shapes(docs, text_col, sets, member_df, qid_of_shape) -> DataFrame:
    """(qid, doc_id) distinct from the core's clause matches: member_df
    (shape_id, sid) lists each distinct QUERY shape's clause sids and
    qid_of_shape (shape_id, qid) its queries, so every query shape matches
    once and the (qid, doc_id) fan-out is the last operator."""
    shape_match = (
        _tree_match_core(docs, text_col, sets)
        .join(F.broadcast(member_df), "sid")
        .select("shape_id", "doc_id")
        .distinct()
    )
    return shape_match.join(F.broadcast(qid_of_shape), "shape_id").select(
        "qid", "doc_id"
    )


def percolate_tree(
    docs: DataFrame,
    stored,
    text_col: str = "text",
) -> DataFrame:
    """Arbitrary-query percolation: stored queries are STRINGS in the
    engine's query syntax (nested booleans, +must / -not, "phrases",
    prefix* and wild?card*, "a b"~n, term~n, [lo TO hi]), decomposed per
    QueryDecomposer.
    ``stored``: list of (qid, query_string) for small registration sets,
    OR a DataFrame(qid, query) — then parsing + decomposition run
    DISTRIBUTED inside mapInPandas (the registration path scales with the
    stored-query count) and only the distinct clause shapes are collected.

    Stored queries are parsed with an empty stop set — the percolator's
    tokenizer is a plain whitespace split, so stopwords are ordinary
    terms here.

    Matching runs once per DISTINCT clause shape (Monitor QueryIndex
    analog) through the percolator core (_tree_match_core), for any
    registry size, and maps back through distinct QUERY shapes (the set of
    clause shapes a query decomposes to). Returns (qid, doc_id) distinct."""
    from .search.plan import parse_tree

    spark = docs.sparkSession

    if isinstance(stored, DataFrame):
        # small registration tables take the driver path outright (each
        # DISTINCT string parses once; one collect replaces the whole
        # distributed decomposition round-trip)
        qrows = _collect_small(stored.select("qid", "query"), 20_000)
        if qrows is not None:
            stored = [(r["qid"], r["query"]) for r in qrows]

    if isinstance(stored, DataFrame):
        import pandas as pd

        def decomp(pdf_iter):
            cache = {}
            for pdf in pdf_iter:
                rows = []
                for qid, qstr in zip(pdf["qid"], pdf["query"]):
                    qs = str(qstr)
                    if qs not in cache:
                        tree = parse_tree(qs, stop_words=frozenset())
                        cache[qs] = decompose_query(tree)
                    for ci, c in enumerate(cache[qs]):
                        rows.append(_crow(qid, ci, c))
                yield pd.DataFrame(
                    rows, columns=["qid", "cid", "terms", "not_terms",
                                   "phrases", "patterns", "sloppy",
                                   "fuzzies", "ranges"]
                )

        clauses = stored.mapInPandas(decomp, _CLAUSE_SCHEMA)
        skey = F.sha2(
            F.to_json(F.struct("terms", "not_terms", "phrases", "patterns",
                               "sloppy", "fuzzies", "ranges")), 256,
        )
        keyed = clauses.withColumn("skey", skey)
        set_rows = keyed.drop("qid", "cid").dropDuplicates(["skey"]).collect()
        sets = []
        sid_rows = []
        for r in sorted(set_rows, key=lambda r: r["skey"]):
            d = _set_dict(r)
            d["sid"] = len(sets)
            sid_rows.append((r["skey"], d["sid"]))
            sets.append(d)
        sid_df = _local_df(spark, sid_rows, "skey string, sid int")
        qshape = (
            keyed.select("qid", "skey").distinct()
            .join(F.broadcast(sid_df), "skey")
            .groupBy("qid")
            .agg(F.sort_array(F.collect_set("sid")).alias("sig"))
        )
        shapes_w = qshape.groupBy("sig").agg(F.min("qid").alias("shape_id"))
        member_df = shapes_w.select("shape_id", F.explode("sig").alias("sid"))
        qid_of_shape = qshape.join(shapes_w, "sig").select("shape_id", "qid")
        return _match_query_shapes(docs, text_col, sets, member_df, qid_of_shape)

    # --- list registration: parse + dedup entirely on the driver (each
    # DISTINCT query string parses once; alerting sets repeat massively)
    parse_cache: dict = {}
    sets_by_key: dict = {}
    shape_of: dict = {}
    member_rows = []
    q_rows = []
    for qid, qstr in stored:
        qs = str(qstr)
        if qs not in parse_cache:
            parse_cache[qs] = decompose_query(
                parse_tree(qs, stop_words=frozenset())
            )
        keys = set()
        for ci, c in enumerate(parse_cache[qs]):
            d = _set_dict(_crow(qid, ci, c))
            k = _set_key(d)
            if k not in sets_by_key:
                d["sid"] = len(sets_by_key)
                sets_by_key[k] = d
            keys.add(sets_by_key[k]["sid"])
        sig = tuple(sorted(keys))
        if sig not in shape_of:
            shape_of[sig] = int(qid)
            member_rows.extend((int(qid), sid) for sid in sig)
        q_rows.append((shape_of[sig], int(qid)))
    sets = list(sets_by_key.values())
    member_df = _local_df(spark, member_rows, "shape_id int, sid int")
    qid_of_shape = _local_df(spark, q_rows, "shape_id int, qid int")
    return _match_query_shapes(docs, text_col, sets, member_df, qid_of_shape)


def percolate_stream(spark: SparkSession, stream_df: DataFrame, queries: DataFrame,
                     text_col: str = "text", query_name: str = "percolator"):
    """Run the percolator as a Structured Streaming query into a memory
    sink. Returns the StreamingQuery; results at ``SELECT * FROM {name}``."""
    hits = percolate_batch(stream_df, queries, text_col)
    return (
        hits.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
