"""Read-path task sizing and the per-context query session.

Every opened context runs on a Spark session of its own whose SQLConf is
set once, when the context opens (``api._size_query_session``): no
postings file may split across scan tasks — the zero-exchange stream
scorer is only correct under that guarantee — and the Python stages run
one task per ``PY_TASK_BYTES`` of postings rather than one per core."""

import glob
import hashlib
import os
import random
import re
import struct
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql.conf import RuntimeConfig

from byzer_retrieval_spark import api as api_mod
from byzer_retrieval_spark.api import RetrievalEngine
from byzer_retrieval_spark.operators.batch import _batch_per_shard
from byzer_retrieval_spark.operators.context import IndexContext, local_frame
from byzer_retrieval_spark.operators.indexer import IndexConfig
from byzer_retrieval_spark.operators.wand import search_wand
from byzer_retrieval_spark.oracle import BM25Oracle
from byzer_retrieval_spark.plans.query import SearchQuery
from byzer_retrieval_spark.sources.corpus import gen_rows

VOCAB = 20000
FILTER = {"and": [{"field": "lang", "value": "python"}]}


def _long_rows(n, seed):
    """Docs of ~2,000 tokens over a 20k vocabulary: two shards of these
    give postings files of a few MB, larger than Spark's split size on
    a 4- or 8-core session."""
    rnd = random.Random(seed)
    rows = []
    for i in range(n):
        toks = [f"w{rnd.randrange(VOCAB):05d}" for _ in range(rnd.randint(1500, 2500))]
        rows.append(
            {"repo": f"r{i % 7}", "path": f"src/f{i}.py", "commit": f"c{i}",
             "lang": "python", "content": " ".join(toks)}
        )
    return rows


def _with_ids(rows):
    return [
        {**r, "_id": hashlib.sha256(
            f"{r['repo']}|{r['path']}|{r['commit']}".encode()).hexdigest()}
        for r in rows
    ]


def _postings_files(eng, table="default"):
    return sorted(
        glob.glob(os.path.join(eng.store(table=table).postings_path, "**", "*.parquet"),
                  recursive=True)
    )


@pytest.fixture(scope="module")
def split_engine(spark, tmp_path_factory):
    """Table ``default``: two shards of multi-MB postings files written
    with 64 KB row groups. Table ``small``: the 200-file corpus in four
    shards of a few KB each."""
    rows = _long_rows(500, seed=11)
    eng = RetrievalEngine(spark, str(tmp_path_factory.mktemp("split")))
    spark.conf.set("parquet.block.size", str(64 << 10))
    try:
        eng.build(
            spark.createDataFrame(rows),
            cfg=IndexConfig(num_shards=2, hot_term_split_threshold=1 << 17),
            resume=False,
        )
    finally:
        spark.conf.unset("parquet.block.size")
    small = gen_rows(200)
    eng.build(
        spark.createDataFrame(small),
        table="small",
        cfg=IndexConfig(num_shards=4, hot_term_split_threshold=64),
        resume=False,
    )
    return eng, _with_ids(rows), _with_ids(small)


# term pairs from both ends of the term-sorted postings files, so a
# doc's evidence for one query lies in row groups far apart
SPLIT_QUERIES = [
    "w00017 w19971",
    "w00042 w10007 w19930",
    "+w00101 w19888",
    "w00250 w05000 w10000 w15000 w19750",
]


def _ranked(rows):
    return [(r["_id"], r["_score"]) for r in rows]


def _assert_oracle(got, oracle, kw, limit=10):
    exp = oracle.search(kw, limit=limit)
    assert [g[0] for g in got] == [e[0] for e in exp], kw
    np.testing.assert_allclose([g[1] for g in got], [e[1] for e in exp], rtol=1e-9)


def test_many_row_group_files_stream_matches_oracle(split_engine):
    """Postings files larger than Spark's per-core split size, with
    many row groups: a split file puts one doc's postings for different
    query terms into different scan tasks, so the stream scorer would
    emit partial scores and duplicate rows. Per-context sizing keeps
    every file in one task."""
    eng, rows, _ = split_engine
    files = _postings_files(eng)
    assert max(os.path.getsize(f) for f in files) > (2 << 20)
    assert max(pq.ParquetFile(f).metadata.num_row_groups for f in files) >= 10
    ctx = eng.query_ctx()
    assert ctx._stream_safe
    oracle = BM25Oracle(rows)
    for kw in SPLIT_QUERIES:
        q = SearchQuery(keyword=kw, fields=["content"], limit=10)
        _assert_oracle(_ranked(eng.search(q).collect()), oracle, kw)
    batch = eng.batch_search(
        [SearchQuery(keyword=kw, fields=["content"], limit=10) for kw in SPLIT_QUERIES]
    ).collect()
    for qid, kw in enumerate(SPLIT_QUERIES):
        got = [r for r in batch if r["query_id"] == qid]
        _assert_oracle(_ranked(got), oracle, kw)


def test_two_tables_concurrently_match_serial_without_conf_writes(
    split_engine, monkeypatch
):
    """A table of large postings files and one of small files, queried
    from threads at once, give the serial results; once the contexts
    are open the read path sets no conf on any session."""
    eng, _, _ = split_engine
    work = [
        (table, SearchQuery(keyword=kw, fields=["content"], limit=10))
        for table, kws in (
            ("default", SPLIT_QUERIES),
            ("small", ["def return", "import", "+def -import", '"def return"', "cls*"]),
        )
        for kw in kws
    ] * 3

    def run(item):
        table, q = item
        return _ranked(eng.search(q, table=table).collect())

    serial = [run(w) for w in work]

    def no_conf_writes(self, key, value):
        raise AssertionError(f"conf.set({key!r}) after the context opened")

    monkeypatch.setattr(RuntimeConfig, "set", no_conf_writes)
    with ThreadPoolExecutor(max_workers=6) as ex:
        parallel = list(ex.map(run, work))
    assert parallel == serial
    assert eng.query_ctx().spark is not eng.query_ctx(table="small").spark


def _spark_df_column(df):
    """Whether a frame's scorer input carries a df column — from the
    broadcast stats join or the window df, the Spark work the driver-read
    df map replaces."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.search(r"\bdf#\d+", plan) is not None


def test_out_of_vocabulary_terms_keep_the_driver_df_read(corpus_engine, corpus_rows):
    """A term missing from the dictionary has no postings, so the
    driver-read df map leaves it out and no scorer looks it up: a query
    with such a term, and a batch with one such member, keep the
    zero-job dictionary read (no df column in the plan) and still
    match the oracle."""
    ctx = corpus_engine.query_ctx()
    assert ctx._stream_safe and ctx.tombstones_df() is None
    assert set(ctx.term_dfs(["content"], ["def", "zzqx"])) == {("content", "def")}
    oracle = BM25Oracle(corpus_rows)
    kws = ["def zzqx", "zzqx return self", "import class"]
    qs = [SearchQuery(keyword=kw, fields=["content"], limit=10) for kw in kws]
    for kw, q in zip(kws, qs):
        assert not _spark_df_column(search_wand(ctx, q))
        _assert_oracle(_ranked(corpus_engine.search(q).collect()), oracle, kw)
    gated = SearchQuery(keyword="def zzqx", fields=["content"], filters=FILTER, limit=10)
    assert not _spark_df_column(search_wand(ctx, gated))
    got = _ranked(corpus_engine.search(gated).collect())
    assert [g[0] for g in got] == [e[0] for e in oracle.search("def zzqx", FILTER, 10)]
    per_shard, _ = _batch_per_shard(ctx, qs)
    assert not _spark_df_column(per_shard)
    batch = corpus_engine.batch_search(qs).collect()
    for qid, kw in enumerate(kws):
        _assert_oracle(_ranked([r for r in batch if r["query_id"] == qid]), oracle, kw)


def test_scanned_pair_missing_from_stats_is_reported(corpus_engine, monkeypatch):
    """Stats and postings that disagree — a scanned (field, term) with no
    dictionary entry — fail the query with an error that says so, not a
    bare KeyError inside an executor."""
    real = IndexContext.term_dfs

    def drop_def(self, fields, terms):
        got = real(self, fields, terms)
        got.pop(("content", "def"), None)
        return got

    monkeypatch.setattr(IndexContext, "term_dfs", drop_def)
    msg = r"stats table has no df for \('content', 'def'\)"
    q = SearchQuery(keyword="def return", fields=["content"], limit=10)
    with pytest.raises(Exception, match=msg):
        corpus_engine.search(q).collect()
    with pytest.raises(Exception, match=msg):
        corpus_engine.batch_search([q]).collect()


def test_local_frame_keeps_query_vectors_bit_for_bit(spark):
    rows = [
        (0, [0.1, 1 / 3, 2.0**-1074, -0.0, 1e308, float("nan")], 5),
        (1, [], 1),
    ]
    df = local_frame(spark, rows, "query_id int, __qvec array<double>, __klim int")
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    bits = lambda v: [struct.pack("<d", x) for x in v]  # noqa: E731
    got = df.collect()
    assert [(r["query_id"], bits(r["__qvec"]), r["__klim"]) for r in got] == [
        (q, bits(v), k) for q, v, k in rows
    ]
    assert local_frame(spark, [], "query_id int, __klim int").count() == 0


# ---- task budget ----------------------------------------------------------

def _partitions(df):
    """Partitions of a frame's final stage, from its physical plan (no job
    runs)."""
    return df._jdf.queryExecution().toRdd().getNumPartitions()


# SQL operators whose tasks run Python, as named in a stage's RDD
# operation graph; the scorers are the first three
_SCORER_SCOPES = ("MapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")
_PYTHON_SCOPES = _SCORER_SCOPES + ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")


def _python_stage_tasks(sc, run):
    """Runs ``run()`` and returns [(tasks, is_scorer)] for every stage it
    ran that executes Python: a SQL Python operator, or a ``PythonRDD``
    (a frame built with ``createDataFrame(list)``)."""
    jsc = sc._jsc.sc()
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("task-budget", "task-budget")
    try:
        run()
    finally:
        sc.setJobGroup(None, None)
    jsc.listenerBus().waitUntilEmpty()
    jobs = set(tracker.getJobIdsForGroup("task-budget"))
    jobs |= set(tracker.getJobIdsForGroup(None)) - before
    store = jsc.statusStore()
    out = []
    for j in jobs:
        for sid in tracker.getJobInfo(j).stageIds:
            try:
                tasks = store.lastStageAttempt(sid).numCompleteTasks()
            except Exception:  # skipped stage
                continue
            names = []
            todo = [store.operationGraphForStage(sid).rootCluster()]
            while todo:
                c = todo.pop()
                names.append(str(c.name()))
                it = c.childNodes().iterator()
                while it.hasNext():
                    names.append(str(it.next().name()))
                it = c.childClusters().iterator()
                while it.hasNext():
                    todo.append(it.next())
            if "PythonRDD" in names or any(n in _PYTHON_SCOPES for n in names):
                out.append((tasks, any(n in _SCORER_SCOPES for n in names)))
    return out



def test_scoring_stages_run_in_one_partition(corpus_engine):
    ctx = corpus_engine.query_ctx()
    assert _partitions(ctx.postings()) == 1
    plain = SearchQuery(keyword="def return", fields=["content"], limit=10)
    gated = SearchQuery(keyword="def return", fields=["content"], filters=FILTER, limit=10)
    assert _partitions(search_wand(ctx, plain)) == 1
    assert _partitions(search_wand(ctx, gated)) == 1
    for member in (plain, gated):
        per_shard, _ = _batch_per_shard(ctx, [member])
        assert _partitions(per_shard) == 1


def test_mixed_batch_runs_python_only_in_scoring(corpus_engine):
    """A batch of streamed, gated and match-all members: its only Python
    tasks are its two scoring tasks — driver-built frames (limits, id
    remaps) cross through Arrow."""
    qs = [
        SearchQuery(keyword="def return", fields=["content"], limit=5),
        SearchQuery(keyword="import class", fields=["content"], limit=5),
        SearchQuery(keyword="self if", fields=["content"], filters=FILTER, limit=5),
        SearchQuery(keyword="*", filters=FILTER, limit=3),
    ]
    corpus_engine.batch_search(qs).collect()  # warm: context open, df reads
    sc = corpus_engine.spark.sparkContext
    stages = _python_stage_tasks(sc, lambda: corpus_engine.batch_search(qs).collect())
    assert stages and all(scorer for _, scorer in stages), stages
    # one task for the streamed members, one for the gated cogroup
    assert sum(t for t, _ in stages) == 2, stages


def test_files_of_task_size_keep_one_file_per_task(corpus_engine, monkeypatch):
    monkeypatch.setattr(api_mod, "PY_TASK_BYTES", 1)
    eng = RetrievalEngine(corpus_engine.spark, corpus_engine.root)
    ctx = eng.query_ctx()
    n_files = len(_postings_files(eng))
    assert n_files >= 4
    assert _partitions(ctx.postings()) == n_files
    q = SearchQuery(keyword="def return", fields=["content"], limit=10)
    assert _partitions(search_wand(ctx, q)) == n_files
    ranked = _ranked(eng.search(q).collect())
    assert ranked == _ranked(corpus_engine.search(q).collect())
