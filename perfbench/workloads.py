"""The benchmark's two workloads, their seeded inputs and their result
checks.

Both drive the engine from one closed-loop client: each call waits for
its result before the next is sent, as a notebook or an agent calling
the engine would. A workload repeats a fixed *round* of calls until the
run's seconds are used (always at least one round). Inputs come only
from the seed; the engine receives the generated rows and queries.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from typing import Any, Dict, List, Optional

import numpy as np

from byzer_retrieval_spark.api import RetrievalEngine
from byzer_retrieval_spark.operators.indexer import IndexConfig
from byzer_retrieval_spark.oracle import BM25Oracle
from byzer_retrieval_spark.plans.query import SearchQuery, parse_keyword
from byzer_retrieval_spark.sources.corpus import gen_batch, gen_embedding_batch

from tracing import Tracer, tree_cpu_s

NUM_SHARDS = 8
LIMIT = 10
EMBED_DIM = 64
HOT = ["import", "return", "def", "class", "self"]
WORDS = HOT + ["if", "for", "public", "void", "else", "while", "int", "str",
               "none", "true", "false", "try", "except", "raise", "lambda"]
LANGS = ["python", "java", "scala", "go", "rust", "markdown"]
QUERY_KINDS = ("search", "filtered_search", "fresh_search", "batch",
               "filtered_vector", "hybrid")
KEYWORD_SINGLE = ("search", "filtered_search", "fresh_search")
VECTOR_KINDS = ("filtered_vector", "hybrid", "batch")


def doc_key(repo: str, path: str, commit: str) -> str:
    """The engine's ``_id``: sha256 of the id columns joined by ``|``."""
    return hashlib.sha256(f"{repo}|{path}|{commit}".encode()).hexdigest()


def row_bytes(row: Dict[str, Any], dim: int) -> int:
    n = sum(len(str(row[c]).encode()) for c in ("repo", "path", "commit", "lang", "content"))
    return n + 4 * dim


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return total


def file_set(path: str) -> Dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


class Corpus:
    """Rows for doc ids ``[base, base + n)`` from ``sources.corpus``."""

    def __init__(self, base: int, n: int, dim: int):
        self.base, self.n, self.dim = base, n, dim
        ids = np.arange(base, base + n)
        self.pdf = gen_batch(ids)
        if dim:
            self.emb = gen_embedding_batch(ids, dim)
            self.pdf["embedding"] = list(self.emb)
        self.rows = self.pdf.drop(columns=["embedding"], errors="ignore").to_dict("records")
        self.keys = [doc_key(r["repo"], r["path"], r["commit"]) for r in self.rows]
        self.key_pos = {k: i for i, k in enumerate(self.keys)}
        self.input_bytes = sum(row_bytes(r, dim) for r in self.rows)

    def key(self, doc: int) -> str:
        return self.keys[doc - self.base]

    def lang(self, doc: int) -> str:
        return self.rows[doc - self.base]["lang"]


class Workload:
    name = ""
    files = 0
    dim = 0
    ROUND_S = 10.0  # nominal wall time of one round on a 4-core host

    def __init__(self, spark, workdir: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.workdir = workdir
        self.tr = tracer
        self.rnd = random.Random(seed)
        self.nrng = np.random.default_rng(seed)
        # the seed picks the corpus id range handed to gen_batch
        self.base = 10_000 * (seed % 100_000)
        self.rounds: List[float] = []
        self.round_cpu: List[float] = []
        self.eng: Optional[RetrievalEngine] = None
        self._last_ctx = None

    def setup(self) -> None:
        """Corpus -> build (-> ANN build) -> read path opened and warmed.
        Timed as a whole into ``setup_s``; the build and ANN ops keep
        their own records."""
        t0 = time.perf_counter()
        self.corpus = Corpus(self.base, self.files, self.dim)
        src = self.spark.createDataFrame(self.corpus.pdf)
        self.eng = RetrievalEngine(self.spark, self.workdir)
        cfg = IndexConfig(num_shards=NUM_SHARDS, hot_term_split_threshold=1 << 17)
        with self.tr.op("build", phase="setup") as self.build_op:
            out = self.eng.build(src, cfg=cfg, resume=False)
            self.build_op["phase_timings"] = out.get("phase_timings", {})
        self.ann_op = None
        if self.dim and not self.build_op["error"]:
            with self.tr.op("build_vector_ann", phase="setup") as self.ann_op:
                self.eng.build_vector_ann("embedding", kind="ivf")
        for rec in (self.build_op, self.ann_op):
            if rec is not None and rec["error"]:
                raise RuntimeError(f"set-up {rec['kind']} failed: {rec['error']}")
        self.warm_up()
        self.setup_s = time.perf_counter() - t0
        base = self.eng.store().base
        self.postings_bytes = dir_bytes(os.path.join(base, "postings"))
        self.docs_bytes = dir_bytes(os.path.join(base, "docs"))
        self.live_bytes = {i: row_bytes(r, self.dim) for i, r in
                           zip(range(self.base, self.base + self.files), self.corpus.rows)}

    def warm_up(self) -> None:
        """Take the first-use costs (Python worker start, first plans)
        out of the timed rounds: one search on the stream route and one
        on the cogroup route."""
        for filters in ({}, {"and": [{"field": "lang", "value": "java"}]}):
            self.eng.search(SearchQuery(keyword="def return", fields=["content"],
                                        filters=filters, limit=LIMIT)).collect()

    def index_bytes(self) -> int:
        base = self.eng.store().base
        return sum(dir_bytes(os.path.join(base, d))
                   for d in ("docs", "postings", "stats", "tombstones"))

    # -- one timed query call: query_ctx -> search -> collect -------------
    def query(self, kind: str, plan, keywords: List[str], **attrs) -> Dict[str, Any]:
        parse_ms = None
        if self.tr.enabled:
            t = time.perf_counter()
            for kw in keywords:
                parse_keyword(kw)
            parse_ms = (time.perf_counter() - t) * 1e3
        ctx = rows = None
        with self.tr.op(kind, phase="window", **attrs) as rec:
            with self.tr.span("context"):
                ctx = self.eng.query_ctx()
            with self.tr.span("plan"):
                df = plan()
            with self.tr.span("exec"):
                rows = df.collect()
            rec["df"] = df
        rec["parse_ms"] = parse_ms
        rec["miss"] = ctx is not None and ctx is not self._last_ctx
        self._last_ctx = ctx
        keep = ("query_id", "_id", "_score", "lang")
        rec["rows"] = [{k: v for k, v in r.asDict().items() if k in keep}
                       for r in (rows or [])]
        rec["failures"] = []
        return rec

    def search(self, kind: str, q: SearchQuery, **attrs) -> Dict[str, Any]:
        return self.query(kind, lambda: self.eng.search(q),
                          [q.keyword] if q.keyword else [], q=q, **attrs)

    def mutation(self, kind: str, fn) -> Dict[str, Any]:
        with self.tr.op(kind, phase="window") as rec:
            rec["result"] = fn()
        rec["failures"] = []
        return rec

    # -- shared seeded query shapes (bench.py's grammar) ------------------
    def doc(self) -> int:
        return self.base + self.rnd.randrange(self.files)

    def shape(self, name: str) -> str:
        r, d = self.rnd, self.doc()
        a, b, c = r.sample(WORDS, 3)
        return {
            "rare": f"sym_{d}_0",
            "hot": r.choice(HOT),
            "or": f"{a} {b}",
            "triple_or": f"{a} {b} {c}",
            "hot_pair": " ".join(r.sample(HOT, 2)),
            "must_not": f"+{r.choice(HOT)} -sym_{d}_0",
            "bool_group": f"+({a} {b}) sym_{d}_1",
            "phrase": f'"{a} {b}"',
            "slop": f'"{a} {b}"~2 {c}',
            "prefix": f"sym_{d // 10}* {r.choice(HOT)}",
            "fuzzy": f"{r.choice(HOT)[:-1]}~1 sym_{d}_0",
        }[name]

    def lang_filter(self) -> Dict[str, Any]:
        return {"and": [{"field": "lang", "value": self.rnd.choice(LANGS)}]}

    def kw_query(self, shape: str, filtered: bool) -> SearchQuery:
        return SearchQuery(keyword=self.shape(shape), fields=["content"],
                           filters=self.lang_filter() if filtered else {}, limit=LIMIT)

    def unit_vector(self) -> List[float]:
        v = self.nrng.standard_normal(EMBED_DIM)
        return [float(x) for x in v / np.linalg.norm(v)]

    # -- the closed loop ---------------------------------------------------
    def run(self, seconds: float) -> None:
        """Runs ``seconds / ROUND_S`` rounds (at least one). The count
        follows from ``seconds`` alone, not from how fast the host is,
        so every run of a workload does the same work."""
        for _ in range(max(1, round(seconds / self.ROUND_S))):
            book0 = self.tr.bookkeeping_s
            cpu0 = tree_cpu_s(os.getpid())
            t = time.perf_counter()
            self.round()
            # a round's wall time excludes the traced run's bookkeeping
            self.rounds.append(time.perf_counter() - t - (self.tr.bookkeeping_s - book0))
            self.round_cpu.append(tree_cpu_s(os.getpid()) - cpu0)

    def round(self) -> None:
        raise NotImplementedError

    # -- checks (outside the timed window) --------------------------------
    def window_ops(self) -> List[Dict[str, Any]]:
        return [o for o in self.tr.ops if o.get("phase") == "window"]

    def check_keyword_rows(self, rec, rows, q: SearchQuery, live) -> None:
        """Invariants every keyword result must hold."""
        if len(rows) > q.limit:
            rec["failures"].append("more rows than limit")
        ids = [r["_id"] for r in rows]
        if len(set(ids)) != len(ids):
            rec["failures"].append("duplicate ids")
        if any(i not in live for i in ids):
            rec["failures"].append("id not live at query time")
        scores = [r["_score"] for r in rows]
        if any(b > a + 1e-12 for a, b in zip(scores, scores[1:])):
            rec["failures"].append("scores not descending")
        want = _filter_lang(q)
        if want is not None and any(r["lang"] != want for r in rows):
            rec["failures"].append("row fails the filter")

    def compare_slow(self, rec, rows, q: SearchQuery) -> None:
        """Fast-path rows vs ``search_slow``: ids, and scores to 1e-6."""
        try:
            slow = [(r["_id"], r["_score"]) for r in self.eng.search_slow(q).collect()]
        except Exception as e:  # a failing reference read fails the op
            rec["failures"].append(f"search_slow: {type(e).__name__}: {e}")
            return
        got = sorted(((r["_id"], r["_score"]) for r in rows), key=lambda x: (-x[1], x[0]))
        slow.sort(key=lambda x: (-x[1], x[0]))
        if [g[0] for g in got] != [s[0] for s in slow] or any(
            abs(g[1] - s[1]) > 1e-6 for g, s in zip(got, slow)
        ):
            rec["failures"].append("differs from search_slow")

    @staticmethod
    def compare_oracle(rec, rows, q: SearchQuery, oracle) -> None:
        """Rows vs the brute-force BM25 oracle: ids, and scores to 1e-6."""
        want = oracle.search(q.keyword, q.filters, q.limit)
        got = sorted(((r["_id"], r["_score"]) for r in rows), key=lambda x: (-x[1], x[0]))
        if [g[0] for g in got] != [w[0] for w in want] or any(
            abs(g[1] - w[1]) > 1e-6 for g, w in zip(got, want)
        ):
            rec["failures"].append("differs from the BM25 oracle")

    def corrupt_one(self) -> None:
        """Self-test hook: damage one collected result before the checks."""
        for o in self.window_ops():
            if o.get("rows"):
                o["rows"][0]["_id"] = "corrupted"
                return

    def verify(self) -> None:
        raise NotImplementedError


def _filter_lang(q: SearchQuery) -> Optional[str]:
    leaves = (q.filters or {}).get("and", [])
    return leaves[0]["value"] if leaves else None


def _by_query(rows) -> Dict[int, List[Dict[str, Any]]]:
    out: Dict[int, List[Dict[str, Any]]] = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), []).append(r)
    for v in out.values():
        v.sort(key=lambda r: (-r["_score"], r["_id"]))
    return out


class SearchMix(Workload):
    """Read path on a freshly built index with embeddings and an IVF ANN
    index: eight single keyword searches (a fixed 1 in 4 filtered), one
    mixed batch of three (a vector member and two keyword shapes, one
    filtered), a filtered vector search and a hybrid RRF search."""

    name = "search"
    files = 1000
    dim = EMBED_DIM
    ROUND_S = 18.0
    # bench.py's nine single-query shapes: six unfiltered singles, two
    # filtered ones (a fixed 1 in 4) ...
    SINGLE_CALLS = (("rare", False), ("hot", False), ("or", False), ("must_not", True),
                    ("hot_pair", False), ("phrase", False), ("prefix", False),
                    ("slop", True))
    # ... and the last in the batch (None: a vector member), with
    # bench.py's mixed-batch shape bool_group, filtered
    BATCH_SHAPES = (None, "triple_or", "bool_group")

    def round(self) -> None:
        # the same calls in the same order in every round and every run;
        # the seed picks only terms, documents, filter values and vectors
        for s, filtered in self.SINGLE_CALLS:
            self.search("filtered_search" if filtered else "search",
                        self.kw_query(s, filtered), shape=s)
        batch = [
            SearchQuery(vector=self.unit_vector(), vector_field="embedding", limit=LIMIT)
            if s is None else self.kw_query(s, i == len(self.BATCH_SHAPES) - 1)
            for i, s in enumerate(self.BATCH_SHAPES)
        ]
        self.query("batch", lambda: self.eng.batch_search(batch),
                   [q.keyword for q in batch if q.keyword], qs=batch)
        self.search("filtered_vector", SearchQuery(
            vector=self.unit_vector(), vector_field="embedding",
            filters=self.lang_filter(), limit=LIMIT))
        self.search("hybrid", SearchQuery(
            keyword=self.shape("or"), fields=["content"], vector=self.unit_vector(),
            vector_field="embedding", limit=LIMIT))

    def check_vector_rows(self, rec, rows, q: SearchQuery) -> None:
        """Recompute each returned score with numpy; check order/count."""
        c = self.corpus
        if len(rows) != q.limit:
            rec["failures"].append(f"vector: {len(rows)} rows, want {q.limit}")
        qv = np.asarray(q.vector, dtype=np.float64)
        qv = qv / np.linalg.norm(qv)
        want = _filter_lang(q)
        prev = None
        for r in rows:
            pos = c.key_pos.get(r["_id"])
            if pos is None:
                rec["failures"].append("vector: unknown id")
                return
            v = c.emb[pos].astype(np.float64)
            cos = float(v @ qv / np.linalg.norm(v))
            if abs(cos - r["_score"]) > 1e-6:
                rec["failures"].append("vector: score differs from numpy cosine")
                return
            if prev is not None and r["_score"] > prev + 1e-12:
                rec["failures"].append("vector: scores not descending")
            if want is not None and r["lang"] != want:
                rec["failures"].append("vector: row fails the filter")
            prev = r["_score"]

    def verify(self) -> None:
        live = set(self.corpus.keys)
        oracle = BM25Oracle([dict(r, _id=k) for r, k in zip(self.corpus.rows, self.corpus.keys)])
        keyword = []  # (op, rows, query) of every keyword result
        for o in self.window_ops():
            if o["error"]:
                continue
            q, rows = o.get("q"), o["rows"]
            if o["kind"] in ("search", "filtered_search"):
                keyword.append((o, rows, q))
                if o.get("shape") == "rare":
                    self._check_rare(o, rows, q)
            elif o["kind"] == "filtered_vector":
                self.check_vector_rows(o, rows, q)
            elif o["kind"] == "hybrid":
                self.check_keyword_rows(o, rows, SearchQuery(limit=LIMIT), live)
                if len(rows) != LIMIT:
                    o["failures"].append("hybrid: short result")
            elif o["kind"] == "batch":
                got = _by_query(rows)
                for i, bq in enumerate(o["qs"]):
                    if bq.vector:
                        self.check_vector_rows(o, got.get(i, []), bq)
                    else:
                        keyword.append((o, got.get(i, []), bq))
        for o, rows, q in keyword:
            self.check_keyword_rows(o, rows, q, live)
            self.compare_oracle(o, rows, q, oracle)
        # a seeded sample against the DataFrame reference path
        if keyword:
            self.compare_slow(*self.rnd.choice(keyword))

    def _check_rare(self, o, rows, q: SearchQuery) -> None:
        """``sym_<doc>_0`` occurs in exactly one document."""
        doc = int(q.keyword.split("_")[1])
        want = [self.corpus.key(doc)]
        lang = _filter_lang(q)
        if lang is not None and self.corpus.lang(doc) != lang:
            want = []
        if [r["_id"] for r in rows] != want:
            o["failures"].append("rare term: wrong document")


class IngestMutate(Workload):
    """Writes beside reads: per round an upsert (half the rows overwrite
    existing ids with new content), a search right after its commit and
    a steady one, a delete, again a fresh and a steady search, then a
    compact and a last group of two searches. Every commit misses the
    engine's context cache."""

    name = "ingest"
    files = 1000
    dim = 0
    ROUND_S = 25.0
    UPSERT_NEW = 10
    UPSERT_OVERWRITE = 10
    DELETES = 5

    def setup(self) -> None:
        super().setup()
        pool = list(range(self.base, self.base + self.files))
        self.rnd.shuffle(pool)
        self.untouched = pool  # corpus docs no mutation has touched yet
        self.live = set(self.corpus.keys)
        self.expected_sha: Dict[str, str] = {}
        self.next_new = self.base + self.files
        self.tombstones_live = 0
        self.compact_bytes: List[float] = []

    def _new_rows(self, round_no: int):
        new = list(range(self.next_new, self.next_new + self.UPSERT_NEW))
        self.next_new += self.UPSERT_NEW
        over = [self.untouched.pop() for _ in range(self.UPSERT_OVERWRITE)]
        pdf = gen_batch(np.asarray(new + over))
        # overwritten ids keep (repo, path, commit) and get new content
        k = len(new)
        pdf.loc[k:, "content"] = [f"rev_{round_no} {c}" for c in pdf["content"].iloc[k:]]
        return new, over, pdf

    def round(self) -> None:
        n = len(self.rounds)
        new, over, pdf = self._new_rows(n)
        rows = pdf.to_dict("records")
        src = self.spark.createDataFrame(pdf)
        keys = [doc_key(r["repo"], r["path"], r["commit"]) for r in rows]
        up = self.mutation("upsert", lambda: self.eng.upsert(src))
        up["keys"] = keys
        for key, r, i in zip(keys, rows, new + over):
            self.expected_sha[key] = hashlib.sha256(r["content"].encode()).hexdigest()
            self.live.add(key)
            self.live_bytes[i] = row_bytes(r, 0)
        q = SearchQuery(keyword=f"sym_{new[0]}_0 sym_{over[0]}_1", fields=["content"], limit=LIMIT)
        self.search("fresh_search", q, live=set(self.live), want=[keys[0], keys[len(new)]])
        self.search("search", self.kw_query("hot", False), live=set(self.live))

        dels = [self.untouched.pop() for _ in range(self.DELETES)]
        del_keys = [self.corpus.key(d) for d in dels]
        dl = self.mutation("delete", lambda: self.eng.delete_by_ids(del_keys))
        dl["keys"] = del_keys
        for d, key in zip(dels, del_keys):
            self.live.discard(key)
            self.live_bytes.pop(d, None)
        keep = self.untouched[-1]
        q = SearchQuery(keyword=f"sym_{dels[0]}_0 sym_{keep}_0", fields=["content"], limit=LIMIT)
        self.search("fresh_search", q, live=set(self.live), want=[self.corpus.key(keep)])
        self.search("search", self.kw_query("or", False), live=set(self.live))

        tomb = os.path.join(self.eng.store().base, "tombstones")
        self.tombstones_live = max(self.tombstones_live, _parquet_rows(tomb))
        before = file_set(self.eng.store().base)
        self.mutation("compact", lambda: self.eng.compact())
        after = file_set(self.eng.store().base)
        self.compact_bytes.append(float(sum(s for p, s in after.items() if p not in before)))
        # the last group: one search right after the compact's commit, one
        # after it
        self.search("search", self.kw_query("or", False), live=set(self.live), final=True)
        self.search("search", self.kw_query("hot_pair", False), live=set(self.live))

    def verify(self) -> None:
        ops = self.window_ops()
        for o in ops:
            if o["error"] or o["kind"] not in QUERY_KINDS:
                continue
            self.check_keyword_rows(o, o["rows"], o["q"], o["live"])
            if "want" in o and sorted(r["_id"] for r in o["rows"]) != sorted(o["want"]):
                o["failures"].append("fresh search misses the last commit")
        # read back every upserted and deleted id in one call
        muts = [o for o in ops if o["kind"] in ("upsert", "delete") and not o["error"]]
        if muts:
            keys = [k for o in muts for k in o["keys"]]
            try:
                got = {r["_id"]: r["content_sha256"]
                       for r in self.eng.get_by_ids(keys).collect()}
            except Exception as e:  # a failing read-back fails the mutations
                for o in muts:
                    o["failures"].append(f"get_by_ids: {type(e).__name__}: {e}")
                return
            for o in muts:
                if o["kind"] == "delete" and set(o["keys"]) & set(got):
                    o["failures"].append("deleted id came back")
                if o["kind"] == "upsert" and any(
                    got.get(k) != self.expected_sha[k] for k in o["keys"]
                ):
                    o["failures"].append("get_by_ids does not return the upserted content")
        finals = [o for o in ops if o.get("final") and not o["error"]]
        if finals:
            self.compare_slow(finals[-1], finals[-1]["rows"], finals[-1]["q"])


def _parquet_rows(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()


WORKLOADS = {w.name: w for w in (SearchMix, IngestMutate)}
