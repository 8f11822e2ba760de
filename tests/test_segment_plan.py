"""Per-segment search execution (executor.apply_per_segment): a
single-query search is one Spark job with one shuffle-free Python stage,
with and without deletes, and every segment read honors a retained
commit's snapshot."""

import numpy as np
import pytest

from lucene_spark.index.builder import IndexConfig, append_to_index, build_index
from lucene_spark.search.executor import Index, search_exhaustive, search_query, search_topk
from lucene_spark.search.plan import MUST, SHOULD, QBool, QTerm, normalize, parse

WORDS = ["alpha", "beta", "gamma", "delta", "omega"]


def _docs(n=60):
    # every doc holds "omega"; the others rotate so AND / OR / tree
    # queries all match in several segments
    return [
        (i, " ".join(["omega"] + [w for j, w in enumerate(WORDS[:4]) if (i >> j) & 1]))
        for i in range(n)
    ]


QUERIES = {
    "term": parse("alpha"),
    "and3": parse("alpha AND beta AND gamma"),
    "tree": QBool((
        (SHOULD, QBool(((MUST, QTerm("alpha")), (MUST, QTerm("beta"))))),
        (SHOULD, QTerm("delta")),
    )),
}


def _node_names(plan):
    out = [plan.nodeName()]
    kids = plan.children()
    for i in range(kids.size()):
        out += _node_names(kids.apply(i))
    return out


@pytest.fixture(scope="module")
def idx_pair(spark, tmp_path_factory):
    out = {}
    for deletes in (False, True):
        d = str(tmp_path_factory.mktemp("plan") / "index")
        df = spark.createDataFrame(_docs(), "doc_id long, content string")
        cfg = IndexConfig(docid_col="doc_id", content_col="content",
                          num_segments=3, order_cols=("doc_id",))
        idx = Index(spark, build_index(spark, df, d, cfg))
        if deletes:
            idx.delete_docs([3, 7, 15, 31, 40])
        out[deletes] = idx
    return out


@pytest.mark.parametrize("deletes", [False, True], ids=["live", "tombstones"])
@pytest.mark.parametrize("name", sorted(QUERIES))
def test_one_job_no_exchange(spark, idx_pair, name, deletes):
    idx = idx_pair[deletes]
    sc = spark.sparkContext
    group = f"plan-shape-{name}-{deletes}"
    sc.setJobGroup(group, f"search_query {name}")
    try:
        df = search_query(idx, QUERIES[name], k=5)
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows, name
    if deletes:
        assert not {r["docid"] for r in rows} & {3, 7, 15, 31, 40}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    names = _node_names(df._jdf.queryExecution().executedPlan())
    assert "MapInArrow" in names, names
    bad = [n for n in names if "Exchange" in n or "Sort" in n or "CoGroup" in n]
    assert not bad, names


def test_old_commit_sees_only_its_segments(spark, tmp_path):
    """The driver-side seed and the segment tasks both skip segments
    appended after the opened commit: short, alpha-dense later docs would
    otherwise raise the pruning threshold above the snapshot's k-th score."""
    d = str(tmp_path / "index")
    cfg = IndexConfig(docid_col="doc_id", content_col="content",
                      num_segments=2, order_cols=("doc_id",))
    first = [(i, f"alpha filler words here doc{i}" + (" beta" if i % 2 else ""))
             for i in range(24)]
    build_index(spark, spark.createDataFrame(first, "doc_id long, content string"), d, cfg)
    later = [(100 + i, "alpha alpha alpha alpha beta") for i in range(20)]
    append_to_index(spark, spark.createDataFrame(later, "doc_id long, content string"),
                    d, cfg, keep_commits=True)
    old = Index(spark, Index.open(spark, d).paths, generation=0)
    q = normalize(should=["alpha", "beta"])
    got = search_topk(old, q, k=10, quantize=False, dtype=np.float64).collect()
    want = search_exhaustive(old, q, k=10).collect()
    assert [r["docid"] for r in got] == [r["docid"] for r in want]
    assert all(r["docid"] < 100 for r in got)
