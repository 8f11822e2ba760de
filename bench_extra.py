#!/usr/bin/env python
"""Round-7 optimization harness (bench.py is FROZEN for measurement; this
file holds the extra instrumentation the optimization round needs):

  python bench_extra.py explains <outdir> [sf_dir]   # .explain("formatted") dumps
  python bench_extra.py percolate [sf_dir]           # isolated percolate timings
  python bench_extra.py micro [sf_dir]               # per-query noop-sink timings
  python bench_extra.py percolate-plans <outdir> <tag> # ingest-shaped percolate plans

Timings here isolate single operators (guide §1.4: noop sink / count forced
outside the sink cost) and label jobs (guide §1.5) so the Spark UI maps
stages to operators. Env mirrors bench.py: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np


def _spark():
    from lucene_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return get_spark("bench_extra", master=f"local[{cpus}]", shuffle_partitions=cpus)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _t(fn, reps: int = 2) -> float:
    best = None
    for _ in range(max(1, reps)):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 4)


def _percolate_inputs(spark, sf_dir, nq=10000):
    words = ["spark", "join", "window", "table", "hash", "scan", "merge",
             "filter", "sort", "group", "stream", "batch", "query", "value",
             "order", "column", "line", "key", "agg", "part"]
    V = len(words)
    qrows = [
        (i, [words[i % V], words[(i * 7 + 1) % V], words[(i * 13 + 2) % V]], 2)
        for i in range(nq)
    ]
    full_rows = [
        (i, terms, mm,
         [words[(i * 3 + 5) % V]] if i % 5 == 0 else [],
         [words[i % V], words[(i * 7 + 1) % V]] if i % 7 == 0 else [])
        for (i, terms, mm) in qrows
    ]
    tree_q = [
        (i, f"({words[i % V]} OR {words[(i * 7 + 1) % V]}) "
            f"AND {words[(i * 13 + 2) % V]}"
            + (f" -{words[(i * 3 + 5) % V]}" if i % 5 == 0 else "")
            + (f" AND {words[(i * 11 + 3) % V][:4]}*" if i % 9 == 0 else ""))
        for i in range(nq)
    ]
    doc_df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return qrows, full_rows, tree_q, doc_df


def cmd_percolate(sf_dir: str) -> None:
    from lucene_spark.streaming import (
        percolate_batch, percolate_full, percolate_prefiltered, percolate_tree,
    )

    spark = _spark()
    sc = spark.sparkContext
    qrows, full_rows, tree_q, doc_df = _percolate_inputs(spark, sf_dir)
    qdf = spark.createDataFrame(qrows, "qid int, terms array<string>, min_match int")
    qdf_full = spark.createDataFrame(
        full_rows,
        "qid int, terms array<string>, min_match int, "
        "not_terms array<string>, phrase array<string>",
    )
    # warmup: one tiny job
    doc_df.limit(1).count()

    sc.setJobDescription("percolate: prefiltered 10k")
    t = _t(lambda: percolate_prefiltered(doc_df, qdf).count(), reps=2)
    n = percolate_prefiltered(doc_df, qdf).count()
    print(f"percolate_10k_prefiltered  {t:8.3f}s  rows={n}")

    sc.setJobDescription("percolate: full 10k")
    t = _t(lambda: percolate_full(doc_df, qdf_full).count(), reps=2)
    n = percolate_full(doc_df, qdf_full).count()
    print(f"percolate_10k_full         {t:8.3f}s  rows={n}")

    sc.setJobDescription("percolate: tree 10k")
    t0 = time.perf_counter()
    n = percolate_tree(doc_df, tree_q).count()
    t = time.perf_counter() - t0
    print(f"percolate_10k_tree         {t:8.3f}s  rows={n}")

    sc.setJobDescription("percolate: broadcast 200")
    qdf_bc = spark.createDataFrame(qrows[:200], "qid int, terms array<string>, min_match int")
    t = _t(lambda: percolate_batch(doc_df, qdf_bc).count(), reps=2)
    n = percolate_batch(doc_df, qdf_bc).count()
    print(f"percolate_200q_broadcast   {t:8.3f}s  rows={n}")
    t = _t(lambda: percolate_prefiltered(doc_df, qdf_bc).count(), reps=2)
    print(f"percolate_200q_prefiltered {t:8.3f}s")
    spark.stop()


def cmd_micro(sf_dir: str) -> None:
    """Isolated per-operator timings for the non-percolate heavy rows."""
    import __spark_entry__ as entry
    from lucene_spark.search.executor import search_topk, search_tree
    from lucene_spark.search.highlight import highlight_topk, passage_highlight_topk
    from lucene_spark.search.plan import QRange, normalize

    spark = _spark()
    sc = spark.sparkContext
    idx = entry._index(spark, sf_dir)
    search_topk(idx, normalize(should=["vector"]), k=10).collect()  # warm

    for name, q in {
        "q_term_hot": normalize(should=["spark"]),
        "q_and3": normalize(must=["window", "stream", "hash"]),
        "q_free_text": normalize(should=["spark", "join", "window", "table"]),
    }.items():
        sc.setJobDescription(f"micro: {name}")
        t = _t(lambda q=q: search_topk(idx, q, k=10).collect())
        print(f"{name:28s} {t:8.3f}s")

    sc.setJobDescription("micro: highlight_top10")
    t = _t(lambda: highlight_topk(idx, normalize(should=["spark", "join"]),
                                  k=10, width=15).collect())
    print(f"{'highlight_top10':28s} {t:8.3f}s")

    offs_idx = entry._offs_index(spark, sf_dir)
    sc.setJobDescription("micro: passage_highlight_top10")
    t = _t(lambda: passage_highlight_topk(
        offs_idx, normalize(should=["spark", "join"]), k=10, source="postings"
    ).collect())
    print(f"{'passage_highlight_top10':28s} {t:8.3f}s")

    sc.setJobDescription("micro: filter_range_x3")
    node = QRange(field=None, lo="sp", hi="st")
    t0 = time.perf_counter()
    for _ in range(3):
        search_tree(idx, node, k=10).collect()
    print(f"{'filter_range_uncached_x3':28s} {time.perf_counter() - t0:8.3f}s")

    from lucene_spark.pipeline.hnsw import hnsw_build

    _hv = np.random.default_rng(7).standard_normal((20000, 64)).astype(np.float32)
    t0 = time.perf_counter()
    hnsw_build(_hv, M=12, ef_construction=80, seed=1)
    print(f"{'hnsw_build_20k_1shard':28s} {time.perf_counter() - t0:8.3f}s")
    spark.stop()


def cmd_explains(outdir: str, sf_dir: str) -> None:
    """Dump .explain('formatted') for the touched query surfaces."""
    import contextlib
    import io

    import __spark_entry__ as entry
    from lucene_spark.search.executor import search_topk, search_tree
    from lucene_spark.search.highlight import highlight_topk, passage_highlight_topk
    from lucene_spark.search.plan import QRange, normalize
    from lucene_spark.streaming import (
        percolate_batch, percolate_full, percolate_prefiltered, percolate_tree,
    )

    spark = _spark()
    os.makedirs(outdir, exist_ok=True)

    def dump(name, df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(outdir, name + ".txt"), "w") as f:
            f.write(buf.getvalue())
        print("wrote", name)

    idx = entry._index(spark, sf_dir)
    dump("q_term_hot", search_topk(idx, normalize(should=["spark"]), k=10))
    dump("q_and3", search_topk(idx, normalize(must=["window", "stream", "hash"]), k=10))
    dump("filter_range", search_tree(idx, QRange(field=None, lo="sp", hi="st"), k=10))
    dump("highlight_top10",
         highlight_topk(idx, normalize(should=["spark", "join"]), k=10, width=15))
    offs_idx = entry._offs_index(spark, sf_dir)
    dump("passage_highlight_top10",
         passage_highlight_topk(offs_idx, normalize(should=["spark", "join"]),
                                k=10, source="postings"))

    qrows, full_rows, tree_q, doc_df = _percolate_inputs(spark, sf_dir, nq=1000)
    qdf = spark.createDataFrame(qrows, "qid int, terms array<string>, min_match int")
    qdf_full = spark.createDataFrame(
        full_rows,
        "qid int, terms array<string>, min_match int, "
        "not_terms array<string>, phrase array<string>",
    )
    dump("percolate_prefiltered", percolate_prefiltered(doc_df, qdf))
    dump("percolate_full", percolate_full(doc_df, qdf_full))
    dump("percolate_tree", percolate_tree(doc_df, tree_q[:1000]))
    dump("percolate_broadcast", percolate_batch(doc_df, qdf.limit(200)))
    spark.stop()


def cmd_percolate_plans(outdir: str, tag: str) -> None:
    """Executed plans of percolate_tree / percolate_prefiltered /
    percolate_full on one registry shaped like perfbench's ``ingest``
    workload (perfbench/gen.py, seed 1: 2000 tree + 2000 flat stored
    queries over more than 4096 distinct terms, one 500-doc batch). Each
    entry runs twice and the second (warm) run is dumped after it
    executes, so the dump is AQE's final plan; the header records that
    run's Spark jobs and wall time. Writes percolate_<entry>_<tag>.txt
    under ``outdir``."""
    import contextlib
    import io
    import tempfile

    import pyarrow.parquet as pq

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "perfbench"))
    import gen
    from lucene_spark import streaming

    spark = _spark()
    sc = spark.sparkContext
    vocab = gen.make_vocab(1, 12_000)
    corpus = gen.make_corpus(vocab, 1, 0, 2_000)
    tc = gen.term_classes(vocab, corpus.doc_freq(len(vocab.words)), 2_000)
    reg = gen.registry(1, tc, vocab.words, 2_000, 2_000)
    batch = gen.make_corpus(vocab, 1, 2, 500, first_doc_id=2_000)
    path = os.path.join(tempfile.mkdtemp(prefix="percolate_plans_"), "batch.parquet")
    pq.write_table(batch.table(vocab), path)
    docs = spark.read.parquet(path).withColumnRenamed("content", "text")
    flat_df = spark.createDataFrame(reg.flat, "qid int, terms array<string>, min_match int")
    full_df = spark.createDataFrame(
        [(q, terms, m, [d] if d else [], [])
         for (q, terms, m), (_a, _b, _c, d) in zip(reg.flat, reg.tree_terms)],
        "qid int, terms array<string>, min_match int, "
        "not_terms array<string>, phrase array<string>",
    )
    n_terms = len({t for _q, ts, _m in reg.flat for t in ts}
                  | {t for ts in reg.tree_terms for t in ts if t})
    os.makedirs(outdir, exist_ok=True)
    for name, run in (
        ("tree", lambda: streaming.percolate_tree(docs, reg.tree)),
        ("prefiltered", lambda: streaming.percolate_prefiltered(docs, flat_df)),
        ("full", lambda: streaming.percolate_full(docs, full_df)),
    ):
        for rep in range(2):
            group = f"percolate-plans-{name}-{rep}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            df = run()
            n = len(df.collect())
            wall = time.perf_counter() - t0
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(outdir, f"percolate_{name}_{tag}.txt"), "w") as f:
            f.write(f"# percolate_{name} ({tag}): ingest-shaped registry, "
                    f"{n_terms} distinct terms, 500 docs\n"
                    f"# rows={n} spark_jobs={jobs} wall_s={wall:.2f} (second run)\n\n")
            f.write(buf.getvalue())
        print(f"percolate_{name}_{tag}: rows={n} jobs={jobs} wall={wall:.2f}s")
    spark.stop()


def cmd_ratio10m() -> None:
    """Decode-ratio rows at a 10M-doc skip index (VERDICT r6 next-round
    #9): same deterministic term-pick recipe as bench.py's 1M section,
    one decade up — shows whether theta-seeding and the tree path hold
    their ratios at the next scale. Writes nothing; prints one line per
    shape."""
    from pyspark.sql import functions as F

    from lucene_spark.corpus import corpus_spark_df_dist
    from lucene_spark.index.builder import IndexConfig, build_index
    from lucene_spark.search.executor import (
        Index, block_skip_metrics, search_topk, tree_skip_metrics,
    )
    from lucene_spark.search.plan import MUST, QBool, QTerm, SHOULD, normalize

    spark = _spark()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    scratch = os.environ.get("BENCH_SCRATCH", "/dev/shm/lucene_spark_bench")
    n = int(os.environ.get("BENCH_RATIO_DOCS", "10000000"))
    corpus = f"{scratch}/corpus_{n}"
    idx_dir = f"{scratch}/build_{cpus}_{n}"
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        t0 = time.perf_counter()
        corpus_spark_df_dist(spark, n, seed=42, num_partitions=max(cpus, 8)).write.mode(
            "overwrite").parquet(corpus)
        print(f"corpus {n}: {time.perf_counter() - t0:.1f}s")
    cfg = IndexConfig(num_segments=max(cpus, n // 25000),
                      hot_df_threshold=max(200, n // 20),
                      merge_bucket_segments=max(2, cpus // 8))
    if not os.path.exists(os.path.join(idx_dir, "_merged", "_SUCCESS")):
        t0 = time.perf_counter()
        build_index(spark, spark.read.parquet(corpus), idx_dir, cfg)
        print(f"build {n}: {time.perf_counter() - t0:.1f}s")
    idx = Index.open(spark, idx_dir)
    n_seg, K = int(cfg.num_segments), 10

    def pick(df_lo, df_hi):
        r = (idx.term_stats.filter(f"df BETWEEN {df_lo} AND {df_hi}")
             .orderBy(F.desc("df"), "term").limit(1).collect())
        return r[0]["term"] if r else None

    ultrarare = pick(20, 200)
    rare = pick(2 * K * n_seg, 6 * K * n_seg)
    med = pick(n // 1000, n // 250)
    print("picks:", ultrarare, rare, med)

    def row(name, q, fn=block_skip_metrics, query=None):
        t0 = time.perf_counter()
        if query is not None:
            query()
        wall = time.perf_counter() - t0
        m = fn(idx, q, k=K)
        print(f"q10m_{name:24s} ratio={m['ratio']:.4f} wall={wall:.3f}s")

    if ultrarare:
        q = normalize(must=[ultrarare, "import"])
        row("and_rare_hot", q, query=lambda: search_topk(idx, q, k=K).collect())
        q = normalize(should=[ultrarare, "import"])
        row("or_ultrarare_hot", q, query=lambda: search_topk(idx, q, k=K).collect())
    if rare:
        q = normalize(should=[rare, "import"])
        row("or_rare_hot", q, query=lambda: search_topk(idx, q, k=K).collect())
    if med:
        q = normalize(should=[med, "import"])
        row("or_med_hot", q, query=lambda: search_topk(idx, q, k=K).collect())
    if rare and med:
        tree = QBool((
            (SHOULD, QBool(((MUST, QTerm(rare)), (MUST, QTerm("import"))))),
            (SHOULD, QTerm(med)),
        ))
        from lucene_spark.search.executor import search_query

        t0 = time.perf_counter()
        search_query(idx, tree, k=K).collect()
        wall = time.perf_counter() - t0
        m = tree_skip_metrics(idx, tree, k=K)
        print(f"q10m_{'tree_mixed':24s} ratio={m['ratio']:.4f} wall={wall:.3f}s")
        tree2 = QBool((
            (SHOULD, QBool(((MUST, QTerm(rare)), (MUST, QTerm("import"))))),
            (SHOULD, QBool(((MUST, QTerm(med)), (MUST, QTerm("import"))))),
        ))
        from lucene_spark.search.executor import search_tree_topk

        t0 = time.perf_counter()
        search_tree_topk(idx, tree2, k=K).collect()
        wall = time.perf_counter() - t0
        m = tree_skip_metrics(idx, tree2, k=K)
        print(f"q10m_{'tree_conjconj':24s} ratio={m['ratio']:.4f} wall={wall:.3f}s")
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "micro"
    sf = sys.argv[-1] if (len(sys.argv) > 2 and os.path.isdir(sys.argv[-1])) else \
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if cmd == "percolate":
        cmd_percolate(sf)
    elif cmd == "micro":
        cmd_micro(sf)
    elif cmd == "ratio10m":
        cmd_ratio10m()
    elif cmd == "percolate-plans":
        cmd_percolate_plans(sys.argv[2], sys.argv[3])
    elif cmd == "explains":
        outdir = sys.argv[2] if len(sys.argv) > 2 else "plans/r07"
        cmd_explains(outdir, sf)
    else:
        raise SystemExit(f"unknown command {cmd}")
