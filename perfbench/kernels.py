"""Spark-free kernel pass: the engine's numpy kernels timed on the
workload's own hot-term postings blocks, read straight from the index
files with pyarrow. Following the scan -> decode -> score split of
columnar inverted-index query processing, it reports ns per posting for
``decode_rows`` and ``score_terms`` and ns per value for
``varbyte_encode``; with no Spark scheduling in the loop, a 10% kernel
change is not lost in host noise."""

from __future__ import annotations

import time

import numpy as np
import pyarrow.dataset as ds

from byzer_retrieval_spark.functions.bm25 import score_terms
from byzer_retrieval_spark.functions.encoding import varbyte_encode
from byzer_retrieval_spark.operators.decode import decode_rows

HOT_TERMS = ["import", "return", "def", "class", "self"]


BUDGET_S = 0.4  # timing budget per kernel
MIN_REPS = 5


def _time_ns(fn) -> float:
    """Median wall ns of ``fn()`` over repetitions filling BUDGET_S."""
    samples = []
    end = time.perf_counter() + BUDGET_S
    while len(samples) < MIN_REPS or time.perf_counter() < end:
        t = time.perf_counter_ns()
        fn()
        samples.append(time.perf_counter_ns() - t)
    return float(np.median(samples))


def kernel_pass(postings_path: str, n_docs: int, avgdl: float) -> dict:
    tbl = ds.dataset(postings_path, format="parquet", partitioning="hive").to_table(
        columns=["term", "first_doc", "doc_gaps", "tfs", "dls", "df_block"],
        filter=(ds.field("field") == "content") & ds.field("term").isin(HOT_TERMS),
    )
    gaps_b = tbl.column("doc_gaps").to_pylist()
    tfs_b = tbl.column("tfs").to_pylist()
    dls_b = tbl.column("dls").to_pylist()
    first = tbl.column("first_doc").to_pylist()
    docs, tfs, dls, lens = decode_rows(gaps_b, tfs_b, dls_b, first)
    n = int(docs.size)
    if n == 0:
        raise RuntimeError("kernel pass: no hot-term postings found")
    # per-posting df: each block row's term df, repeated over its postings
    terms = tbl.column("term").to_pylist()
    df_blocks = np.asarray(tbl.column("df_block").to_pylist(), dtype=np.int64)
    term_df = {}
    for t, d in zip(terms, df_blocks):
        term_df[t] = term_df.get(t, 0) + int(d)
    dfs = np.repeat(np.asarray([term_df[t] for t in terms], dtype=np.int64), lens)
    gaps = np.diff(docs, prepend=docs[:1]).clip(min=0)

    decode_ns = _time_ns(lambda: decode_rows(gaps_b, tfs_b, dls_b, first))
    score_ns = _time_ns(lambda: score_terms(tfs, dls, dfs, n_docs, avgdl))
    encode_ns = _time_ns(lambda: varbyte_encode(gaps))
    return {
        "kernel.decode_ns_per_posting": decode_ns / n,
        "kernel.score_ns_per_posting": score_ns / n,
        "kernel.varbyte_encode_ns_per_value": encode_ns / n,
    }
