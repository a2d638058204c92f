"""Reference test scenarios re-expressed (FIXTURES §F2/F3, queries 7-10)."""

import pytest

from byzer_retrieval_spark.plans.query import SearchQuery
from tests.conftest import F2_ROWS, f3_rows


# ---- F2: the reference's own end-to-end cases ---------------------------
def test_f4_q9_test_document_ranking(f2_engine):
    """test_retrieval.py:262-289 re-expressed: keyword='test document'."""
    got = f2_engine.search(
        SearchQuery(keyword="test document", fields=["content"], limit=10)
    ).collect()
    # docs 2,3,4 contain both terms; doc 1 contains neither
    ids = [r["_id"] for r in got]
    assert set(ids) == {"2", "3", "4"}
    # doc 2 is longer (5 tokens vs 3) → lower tfnorm → ranks last
    assert ids[-1] == "2"
    assert got[0]["_score"] >= got[-1]["_score"]


def test_f4_q10_lucene_knn_test_filter_case(f2_engine):
    """LuceneKNNTest.java:22-110, BM25 variant: keyword + name filter →
    exactly 1 hit."""
    got = f2_engine.search(
        SearchQuery(
            keyword="hello",
            fields=["content"],
            filters={"and": [{"field": "name", "value": "a"}]},
            limit=10,
        )
    ).collect()
    assert len(got) == 1 and got[0]["_id"] == "1"
    # filter that excludes the only matching doc → 0 hits
    got = f2_engine.search(
        SearchQuery(
            keyword="hello",
            fields=["content"],
            filters={"and": [{"field": "name", "value": "b"}]},
            limit=10,
        )
    ).collect()
    assert got == []


def test_analyzed_field_not_stored(f2_engine):
    """Store.NO parity (SchemaUtils.java:35): analyzed field is absent
    from results; raw_content (stored) is returned."""
    got = f2_engine.search(
        SearchQuery(keyword="hello", fields=["content"], limit=1)
    ).collect()[0]
    assert "content" not in got.asDict()
    assert got["raw_content"] == "hello world"


# ---- F3: rag_files filters/sorts (queries 7-8) ---------------------------
def test_f4_q7_range_filter_inclusive(f3_engine):
    filt = {"and": [{"field": "mtime", "min": 1_600_000_005.0, "max": 1_600_000_015.0}]}
    got = f3_engine.filter(SearchQuery(filters=filt, limit=100)).collect()
    ids = sorted(r["_id"] for r in got)
    assert ids == [f"file{i:02d}" for i in range(5, 16)]  # inclusive ends


def test_f4_q7_one_sided_range_quirk(f3_engine):
    # reference quirk (SchemaUtils.java:177-181): {"min": x} ⇒ exact == x
    filt = {"and": [{"field": "mtime", "min": 1_600_000_007.0}]}
    got = f3_engine.filter(SearchQuery(filters=filt, limit=100)).collect()
    assert [r["_id"] for r in got] == ["file07"]
    filt = {"and": [{"field": "mtime", "max": 1_600_000_003.0}]}
    got = f3_engine.filter(SearchQuery(filters=filt, limit=100)).collect()
    assert [r["_id"] for r in got] == ["file03"]


def test_f4_q8_filter_mode_multi_sort_limit(f3_engine):
    """byzer_storage_direct_query_example.py:229-295 shape: filter on
    is_active, sorts [{mtime desc},{_id asc}], limit 5."""
    got = f3_engine.filter(
        SearchQuery(
            filters={"and": [{"field": "is_active", "value": 1}]},
            sorts=[{"mtime": "desc"}, {"_id": "asc"}],
            limit=5,
        )
    ).collect()
    exp = [r for r in f3_rows() if r["is_active"] == 1]
    exp.sort(key=lambda r: (-r["mtime"], r["_id"]))
    assert [r["_id"] for r in got] == [e["_id"] for e in exp[:5]]


def test_multi_field_search(f3_engine):
    """fields=[content,title] sums per-field scores (uniform weight 1.0,
    RetrievalWorker.java:341)."""
    both = f3_engine.search(
        SearchQuery(keyword="file", fields=["content", "title"], limit=20)
    ).collect()
    title_only = f3_engine.search(
        SearchQuery(keyword="file", fields=["title"], limit=20)
    ).collect()
    # 'file' appears in every title, in no content → same hits, same scores
    assert len(both) == len(title_only) == 20
    sb = {r["_id"]: r["_score"] for r in both}
    st = {r["_id"]: r["_score"] for r in title_only}
    for k in sb:
        assert sb[k] == pytest.approx(st[k], rel=1e-12)


def test_get_by_ids(f3_engine):
    got = f3_engine.get_by_ids(["file03", "file04"]).collect()
    assert [r["_id"] for r in got] == ["file03", "file04"]
    assert got[0]["raw_content"] == "raw 3"


def test_l4_per_shard_limit_strict_compat(corpus_engine):
    """per_shard_limit=True reproduces the reference's L4 behavior:
    up to shards x limit rows (limit applied per shard, no global
    re-limit), a superset of the global-limit result."""
    from byzer_retrieval_spark.plans.query import SearchQuery

    q = SearchQuery(
        filters={"and": [{"field": "lang", "value": "python"}]},
        sorts=[{"path": "asc"}],
        limit=3,
    )
    strict = corpus_engine.filter(q, per_shard_limit=True).collect()
    glob = corpus_engine.filter(q).collect()
    num_shards = corpus_engine.ctx().meta["num_shards"]
    assert len(glob) == 3
    assert 3 <= len(strict) <= 3 * num_shards
    # the global top-3 is contained in the per-shard union
    strict_ids = {r["_id"] for r in strict}
    assert {r["_id"] for r in glob} <= strict_ids
    # sorted by the sort spec then _id
    paths = [(r["path"], r["_id"]) for r in strict]
    assert paths == sorted(paths)


def test_batch_filter_matches_per_query(corpus_engine):
    """api.batch_filter (reference filter() LIST surface): every
    query's tagged slice must equal its individual eng.filter result,
    in the query's own sort order (via __rank)."""
    from byzer_retrieval_spark.plans.query import SearchQuery

    qs = [
        SearchQuery(
            filters={"and": [{"field": "lang", "value": "python"}]},
            sorts=[{"path": "desc"}],
            limit=7,
        ),
        SearchQuery(
            filters={"or": [{"field": "lang", "value": "go"},
                            {"field": "lang", "value": "java"}]},
            limit=9,
        ),
    ]
    rows = corpus_engine.batch_filter(qs).collect()
    by_qid = {}
    for r in rows:
        by_qid.setdefault(r["query_id"], []).append(r)
    for qid, q in enumerate(qs):
        got = sorted(by_qid.get(qid, []), key=lambda r: r["__rank"])
        single = corpus_engine.filter(q).collect()
        assert [g["_id"] for g in got] == [s["_id"] for s in single], qid


def test_batch_filter_batched_and_legacy_paths_agree(corpus_engine):
    """Round 4: filter trees ride ONE docs scan per distinct sort spec
    (query-id explode + partitioned rank windows); round 5: analyzed-
    field leaves ride the SAME tagged scan via one batch-wide postings-
    membership join (matched-leaf-id sets); falsy limits stay on the
    per-query branch. Every query's tagged slice must still equal its
    individual eng.filter result — across both paths in one mixed
    batch."""
    from byzer_retrieval_spark.plans.query import SearchQuery

    qs = [
        # batched: same sort spec, different trees
        SearchQuery(
            filters={"and": [{"field": "lang", "value": "python"}]},
            sorts=[{"path": "desc"}],
            limit=5,
        ),
        SearchQuery(
            filters={"and": [{"field": "lang", "value": "go"}]},
            sorts=[{"path": "desc"}],
            limit=4,
        ),
        # batched: second sort-spec group
        SearchQuery(
            filters={"or": [{"field": "lang", "value": "java"},
                            {"field": "lang", "value": "python"}]},
            sorts=[{"repo": "asc"}, {"path": "asc"}],
            limit=6,
        ),
        # legacy: analyzed-field leaf (postings membership)
        SearchQuery(
            filters={"and": [{"field": "content", "value": "import"},
                             {"field": "lang", "value": "python"}]},
            limit=5,
        ),
        # batched: no filters (match-all browse), no sorts
        SearchQuery(filters={}, limit=3),
    ]
    rows = corpus_engine.batch_filter(qs).collect()
    by_qid = {}
    for r in rows:
        by_qid.setdefault(r["query_id"], []).append(r)
    for qid, q in enumerate(qs):
        got = sorted(by_qid.get(qid, []), key=lambda r: r["__rank"])
        single = corpus_engine.filter(q).collect()
        assert [g["_id"] for g in got] == [s["_id"] for s in single], qid
        assert [g["__rank"] for g in got] == list(range(1, len(single) + 1)), qid


def test_batch_filter_analyzed_leaves_share_one_scan(corpus_engine):
    """Round 5: analyzed-field leaves ride the batched tagged scan — a
    batch of analyzed-leaf queries costs the same number of driver jobs
    as a stored-column-only batch of the same shape (ONE batch-wide
    postings-membership join, not one filter_query branch per query),
    and each query's slice still equals its individual eng.filter."""
    from byzer_retrieval_spark.plans.query import SearchQuery

    qs = [
        SearchQuery(
            filters={"and": [{"field": "content", "value": "import"},
                             {"field": "lang", "value": "python"}]},
            limit=5,
        ),
        SearchQuery(
            filters={"or": [{"field": "content", "value": "return"},
                            {"field": "content", "value": "class"}]},
            limit=6,
        ),
        SearchQuery(
            filters={"and": [{"field": "lang", "value": "go"}]},
            limit=4,
        ),
    ]
    rows = corpus_engine.batch_filter(qs).collect()
    by_qid = {}
    for r in rows:
        by_qid.setdefault(r["query_id"], []).append(r)
    for qid, q in enumerate(qs):
        got = sorted(by_qid.get(qid, []), key=lambda r: r["__rank"])
        single = corpus_engine.filter(q).collect()
        assert [g["_id"] for g in got] == [s["_id"] for s in single], qid

    sc = corpus_engine.spark.sparkContext
    tracker = sc.statusTracker()

    def run(queries, tag):
        sc.setJobGroup(tag, tag)
        try:
            corpus_engine.batch_filter(queries).collect()
        finally:
            sc.setJobGroup(None, None)
        return len(tracker.getJobIdsForGroup(tag) or [])

    stored_only = [
        SearchQuery(filters={"and": [{"field": "lang", "value": "python"}]},
                    limit=5),
        SearchQuery(filters={"and": [{"field": "lang", "value": "java"}]},
                    limit=6),
        SearchQuery(filters={"and": [{"field": "lang", "value": "go"}]},
                    limit=4),
    ]
    j_stored = run(stored_only, "bfa-stored")
    j_mixed = run(qs, "bfa-mixed")
    assert j_mixed <= j_stored + 1, (j_stored, j_mixed)
