"""The two workloads: closed loop, one client, every timed result checked.

Each workload gets a ``Run`` (Spark session, tracer, scratch dir, sizes)
and returns the samples the report is built from. Timed ops call the
engine through module attributes so the tracer's wrappers see them.
Correctness gates run after the timed window.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

import numpy as np
import pyarrow.parquet as pq

import gen

import lucene_spark.index.builder as builder
import lucene_spark.index.check as check
import lucene_spark.search.executor as executor
import lucene_spark.search.plan as plan
import lucene_spark.streaming as streaming
from lucene_spark import pyref
from lucene_spark.analysis import analyze


@dataclass(frozen=True)
class Sizes:
    search_docs: int
    search_segments: int
    ingest_base_docs: int
    ingest_segments: int
    batch_docs: int
    deletes_per_batch: int
    n_tree: int
    n_flat: int
    n_idents: int


FULL = Sizes(search_docs=10_000, search_segments=4, ingest_base_docs=2_000,
             ingest_segments=2, batch_docs=500, deletes_per_batch=50,
             n_tree=2_000, n_flat=2_000, n_idents=12_000)
TINY = Sizes(search_docs=600, search_segments=2, ingest_base_docs=300,
             ingest_segments=2, batch_docs=50, deletes_per_batch=5,
             n_tree=40, n_flat=40, n_idents=3_000)
TOP_K = 10
# the timed window closes at the first op boundary after --seconds, and
# never before this many ops completed
MIN_OPS = 2


@dataclass
class Run:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    sizes: Sizes
    t_start: float  # process start, perf_counter clock
    end_window: Callable[[], None]  # called once the timed window closes


@dataclass(frozen=True)
class Base:
    """The index a workload builds in set-up, and what it cost."""
    dir: str
    cfg: builder.IndexConfig
    docs: int
    build_s: float  # the full build_index call
    index_bytes: Dict[str, int]  # by part, right after the build
    input_bytes: int  # UTF-8 bytes of the content column


@dataclass
class Outcome:
    base: Base
    setup_s: float
    op_ms: List[float] = field(default_factory=list)
    op_class: List[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: List[str] = field(default_factory=list)
    extra: Dict[str, List[float]] = field(default_factory=dict)
    window_s: float = 0.0  # the timed window, including the last op's overrun

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def add(self, key: str, value: float) -> None:
        self.extra.setdefault(key, []).append(value)


def index_config(n_docs: int, n_segments: int) -> builder.IndexConfig:
    # hot terms are salted at merge: the threshold scales with the corpus
    # so the salted path runs at this size too
    return builder.IndexConfig(
        docid_col="doc_id", order_cols=("doc_id",), content_col="content",
        num_segments=n_segments, hot_df_threshold=max(2, n_docs // 4),
        merge_bucket_segments=2,
    )


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def committed_bytes(idx) -> Dict[str, int]:
    """Bytes of the live commit, by part (staging files excluded)."""
    p = idx.paths
    parts = {
        "postings": p.postings, "merged": idx._merged_dir, "docs": p.docs,
        "norms": p.norms, "term_stats": idx._term_stats_dir,
    }
    return {k: dir_bytes(v) for k, v in parts.items()}


def write_batch(run: Run, table, name: str) -> str:
    path = os.path.join(run.work, name)
    pq.write_table(table, path)
    return path


def build_base(run: Run, corpus: gen.Corpus, vocab: gen.Vocab, n_segments: int):
    """Write the corpus as parquet, build an index from it and open it."""
    table = corpus.table(vocab)
    src = write_batch(run, table, "base.parquet")
    index_dir = os.path.join(run.work, "index")
    cfg = index_config(len(corpus.doc_ids), n_segments)
    t0 = time.perf_counter()
    builder.build_index(run.spark, run.spark.read.parquet(src), index_dir, cfg)
    build_s = time.perf_counter() - t0
    idx = executor.Index.open(run.spark, index_dir)
    content = sum(len(t.encode()) for t in table.column("content").to_pylist())
    base = Base(index_dir, cfg, len(corpus.doc_ids), build_s, committed_bytes(idx), content)
    return base, idx


def gate_index(out: Outcome, idx, expect_docs: int, what: str, full: bool) -> None:
    """max_doc equals the rows indexed; with ``full``, check_index is clean
    too (it decodes the whole index: the traced pass runs it)."""
    out.attempted += 1
    if int(idx.field_stats.max_doc) != expect_docs:
        out.fail(f"{what}: max_doc {idx.field_stats.max_doc} != {expect_docs}")
    elif full and not check.check_index(idx).get("clean"):
        out.fail(f"{what}: check_index not clean")


# ---------------------------------------------------------------------------
# search: a seeded rare/hot query stream against one index
# ---------------------------------------------------------------------------

def tree_scores(ref, node) -> Dict[int, float]:
    """Matching docs -> score for a boolean tree of terms: clause scores
    add up, MUST clauses intersect, SHOULD clauses union unless a MUST
    exists, MUST_NOT clauses subtract."""
    if isinstance(node, plan.QTerm):
        return {d: float(s) * node.boost
                for d, s in pyref.score_term(ref, node.term, quantize=False).items()}
    if not isinstance(node, plan.QBool):
        raise ValueError(f"no reference for {type(node).__name__}")
    parts = {occ: [tree_scores(ref, n) for o, n in node.clauses if o == occ]
             for occ in (plan.MUST, plan.SHOULD, plan.MUST_NOT)}
    musts, shoulds = parts[plan.MUST], parts[plan.SHOULD]
    if musts:
        docs = set.intersection(*(set(m) for m in musts))
    else:
        docs = {d for sh in shoulds for d in sh}
    if node.msm:
        docs = {d for d in docs if sum(d in sh for sh in shoulds) >= node.msm}
    for no in parts[plan.MUST_NOT]:
        docs -= set(no)
    return {d: node.boost * sum(p[d] for p in musts + shoulds if d in p) for d in docs}


def reference_topk(ref, q, k: int):
    """Top-k of the engine's pure-Python oracle ``pyref`` with the scoring
    search_query uses: flat queries quantized float32 (bit-exact), trees
    float64 unquantized (compared within float32 rounding)."""
    if isinstance(q, plan.NormalizedQuery):
        if q.min_should_match or (q.required and q.optional):
            raise ValueError(f"no pyref form for {q}")
        terms = [t for t, n in q.required or q.optional for _ in range(n)]
        return pyref.search(ref, terms, k, mode="and" if q.required else "or",
                            must_not=q.excluded)
    scored = tree_scores(ref, plan.rewrite(q))
    return sorted(scored.items(), key=lambda x: (-x[1], x[0]))[:k]


def same_topk(got, ref, rel: float = 1e-5) -> bool:
    """Same scores, and the same docids except inside a tie at the k-th
    score, where summation order may pick different members."""
    def close(a, b):
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)

    if len(got) != len(ref):
        return False
    g = sorted(got, key=lambda r: (-r[1], r[0]))
    r = sorted(ref, key=lambda r: (-r[1], r[0]))
    if not all(close(a[1], b[1]) for a, b in zip(g, r)):
        return False
    if not r:
        return True
    kth = r[-1][1]
    return ({d for d, s in g if not close(s, kth)}
            == {d for d, s in r if not close(s, kth)})


def skip_metrics(idx, q) -> Optional[dict]:
    """Exact decode counters for the pruned plan, or None when the query
    takes the exhaustive path."""
    if isinstance(q, plan.NormalizedQuery):
        return executor.block_skip_metrics(idx, q, k=TOP_K)
    tree = plan.rewrite(q)
    flat = plan.flatten(tree)
    if flat is not None:
        return executor.block_skip_metrics(idx, flat, k=TOP_K, quantize=False, dtype=np.float64)
    m = executor.tree_skip_metrics(idx, tree, k=TOP_K)
    return m if m["blocks_total"] else None


def run_search(run: Run) -> Outcome:
    sz, tr = run.sizes, run.tracer
    vocab = gen.make_vocab(run.seed, sz.n_idents)
    corpus = gen.make_corpus(vocab, run.seed, 0, sz.search_docs)
    tc = gen.term_classes(vocab, corpus.doc_freq(len(vocab.words)), sz.search_docs)
    stream = gen.query_stream(run.seed, tc, vocab.words, 2000)
    base, idx = build_base(run, corpus, vocab, sz.search_segments)
    # warm-up: one query per class, untimed
    for _cls, qs in stream[:2]:
        executor.search_query(idx, plan.parse(qs), k=TOP_K).collect()
    out = Outcome(base, setup_s=time.perf_counter() - run.t_start)

    timed = []  # (class, query string, parsed, rows)
    deadline = time.perf_counter() + run.seconds
    for i, (cls, qs) in enumerate(stream[2:]):
        if time.perf_counter() >= deadline and out.attempted >= MIN_OPS:
            break
        tr.op = i
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("bench.op"):
                q = plan.parse(qs)
                df = executor.search_query(idx, q, k=TOP_K)
                with tr.span("executor.collect"):
                    rows = [(r["docid"], r["score"]) for r in df.collect()]
        except Exception as e:  # a failed op is counted, never dropped
            out.fail(f"query {qs!r}: {type(e).__name__}: {str(e)[:200]}")
            continue
        finally:
            tr.op = None
        out.op_ms.append((time.perf_counter() - t0) * 1000)
        out.op_class.append(cls)
        timed.append((cls, qs, q, rows))
        if tr.enabled:
            m = skip_metrics(idx, q)
            if m is not None:
                out.add(f"blocks_decoded.{cls}", m["blocks_decoded"])
                out.add(f"blocks_ratio.{cls}", m["ratio"] or 0.0)

    # --- gates, outside the timed window
    run.end_window()
    out.window_s = time.perf_counter() - deadline + run.seconds
    t_gate = time.perf_counter()
    ref = pyref.build_ref_index(list(zip(corpus.doc_ids.tolist(), corpus.texts(vocab))))
    for _cls, qs, q, rows in timed:
        try:
            if not same_topk(rows, reference_topk(ref, q, TOP_K)):
                out.fail(f"query {qs!r}: top-{TOP_K} differs from pyref")
        except Exception as e:  # a gate that cannot run counts as failed
            out.fail(f"query {qs!r}: reference failed: {type(e).__name__}: {e}")
    out.add("gate_queries_s", time.perf_counter() - t_gate)
    t_gate = time.perf_counter()
    gate_index(out, idx, sz.search_docs, "search index", full=tr.enabled)
    out.add("gate_index_s", time.perf_counter() - t_gate)
    return out


# ---------------------------------------------------------------------------
# ingest: each op takes one incoming batch through the write path
# ---------------------------------------------------------------------------

def percolate_reference(texts, doc_ids, reg: gen.Registry):
    """Plain-Python evaluation of both registries over analyzer tokens
    (empty stop set: stored queries are parsed without one)."""
    docs_with: Dict[str, set] = {}
    for did, text in zip(doc_ids, texts):
        for t in set(analyze(text, stop_words=frozenset())):
            docs_with.setdefault(t, set()).add(int(did))
    empty: set = set()
    tree = set()
    for (qid, _s), (a, b, c, d) in zip(reg.tree, reg.tree_terms):
        hit = (docs_with.get(a, empty) | docs_with.get(b, empty)) & docs_with.get(c, empty)
        if d is not None:
            hit = hit - docs_with.get(d, empty)
        tree.update((qid, did) for did in hit)
    flat = set()
    for qid, terms, min_match in reg.flat:
        seen: Dict[int, int] = {}
        for t in set(terms):
            for did in docs_with.get(t, empty):
                seen[did] = seen.get(did, 0) + 1
        flat.update((qid, did, n) for did, n in seen.items() if n >= min_match)
    return tree, flat


def run_ingest(run: Run) -> Outcome:
    sz, tr, spark = run.sizes, run.tracer, run.spark
    vocab = gen.make_vocab(run.seed, sz.n_idents)
    corpus = gen.make_corpus(vocab, run.seed, 0, sz.ingest_base_docs)
    tc = gen.term_classes(vocab, corpus.doc_freq(len(vocab.words)), sz.ingest_base_docs)
    reg = gen.registry(run.seed, tc, vocab.words, sz.n_tree, sz.n_flat)
    base, _idx = build_base(run, corpus, vocab, sz.ingest_segments)
    flat_df = spark.createDataFrame(reg.flat, "qid int, terms array<string>, min_match int")
    rng = np.random.default_rng([run.seed, 4])
    next_id = sz.ingest_base_docs

    def batch(stream: int):
        nonlocal next_id
        b = gen.make_corpus(vocab, run.seed, stream, sz.batch_docs, first_doc_id=next_id)
        next_id += sz.batch_docs
        path = write_batch(run, b.table(vocab), f"batch-{stream}.parquet")
        return b, spark.read.parquet(path)

    def percolate(docs):
        text = docs.withColumnRenamed("content", "text")
        with tr.span("streaming.percolate_tree.run"):
            got_tree = streaming.percolate_tree(text, reg.tree)
            with tr.span("streaming.collect"):
                tree = {(r["qid"], r["doc_id"]) for r in got_tree.collect()}
        with tr.span("streaming.percolate_prefiltered.run"):
            got_flat = streaming.percolate_prefiltered(text, flat_df)
            with tr.span("streaming.collect"):
                flat = {(r["qid"], r["doc_id"], r["n_matched"]) for r in got_flat.collect()}
        return tree, flat

    live = list(range(sz.ingest_base_docs))
    deleted: List[int] = []
    matched = []  # (batch corpus, tree matches, flat matches)

    def one_batch(stream: int, out: Optional[Outcome]) -> None:
        """Percolate, append, reopen, delete: one op. Without ``out`` it
        is the untimed warm-up and records nothing but its writes."""
        nonlocal live
        b, docs = batch(stream)
        kill = sorted(int(x) for x in rng.choice(live, size=sz.deletes_per_batch, replace=False))
        t0 = time.perf_counter()
        with tr.span("bench.op"):
            tree, flat = percolate(docs)
            t1 = time.perf_counter()
            builder.append_to_index(spark, docs, base.dir, base.cfg)
            idx = executor.Index.open(spark, base.dir)
            t2 = time.perf_counter()
            idx.delete_docs(kill)
            t3 = time.perf_counter()
        matched.append((b, tree, flat))
        gone = set(kill)
        live = [d for d in live if d not in gone] + [int(x) for x in b.doc_ids]
        deleted.extend(kill)
        if out is not None:
            out.op_ms.append((t3 - t0) * 1000)
            out.op_class.append("batch")
            out.add("percolate_s", t1 - t0)
            out.add("append_visible_s", t2 - t1)
            out.add("delete_s", t3 - t2)

    one_batch(1, None)
    out = Outcome(base, setup_s=time.perf_counter() - run.t_start)
    deadline = time.perf_counter() + run.seconds
    stream = 2
    while time.perf_counter() < deadline or len(out.op_ms) < MIN_OPS:
        tr.op = stream
        out.attempted += 1
        try:
            one_batch(stream, out)
        except Exception as e:  # a failed op is counted, never dropped
            out.fail(f"batch {stream}: {type(e).__name__}: {str(e)[:200]}")
            break
        finally:
            tr.op = None
        stream += 1

    # --- gates, outside the timed window
    run.end_window()
    out.window_s = time.perf_counter() - deadline + run.seconds
    t_gate = time.perf_counter()
    for b, tree, flat in matched:
        out.attempted += 1
        want_tree, want_flat = percolate_reference(b.texts(vocab), b.doc_ids, reg)
        if tree != want_tree or flat != want_flat:
            out.fail(f"percolate: tree {len(tree)} vs {len(want_tree)} rows, "
                     f"flat {len(flat)} vs {len(want_flat)} rows")
        out.add("match_rows", len(tree) + len(flat))
    out.attempted += 1
    idx = executor.Index.open(spark, base.dir)
    if sorted(int(d) for d in idx.deleted) != sorted(deleted):
        out.fail("tombstones differ from the docids deleted")
    out.add("gate_percolate_s", time.perf_counter() - t_gate)
    t_gate = time.perf_counter()
    expect_docs = sz.ingest_base_docs + sz.batch_docs * len(matched)
    gate_index(out, idx, expect_docs, "ingest index", full=tr.enabled)
    out.add("gate_index_s", time.perf_counter() - t_gate)
    return out


WORKLOADS = {"search": run_search, "ingest": run_ingest}
