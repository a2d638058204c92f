"""Filter resolution shared by every query path (SURVEY §2.1 F1-F5).

Two jobs:

1. ``filtered_docs`` — compile a SearchQuery filter tree against the
   docs table, including **analyzed-field leaves**. Analyzed fields are
   Store.NO (absent from the docs table), and the reference parses a
   filter value on such a field with SimpleQueryParser as a full-text
   predicate (reference: SchemaUtils.java:170-173). We resolve each
   analyzed leaf to a postings-membership boolean: tokenize the value
   with the index analyzer, collect matching doc ids from the postings
   scan (term-pruned, PushedFilters), and left-join a flag column onto
   docs. Flag columns compose under arbitrary and/or nesting — unlike a
   semi-join, which only expresses conjunction.

2. ``gate_frame`` — reduce (filters, tombstones) to ONE side-table for
   the WAND shard scorer: a (shard_id, __docid) DataFrame plus a mode.

   - filters present  → mode 'allow': doc ids passing the filter tree,
     tombstones already excluded. The scorer gates candidates by
     membership — this is Lucene's Occur.FILTER inside the same
     collector (Utils.java:303): non-scoring, pre-top-k.
   - only tombstones  → mode 'deny': the (small) deleted-id set.
   - neither          → (None, 'none'): scorer runs ungated.

   The gate rides into the scorer via ``cogroup`` on shard_id — no
   driver collect, no plan literals; each task sees only ITS shard's
   gate rows (at 10^12 docs the allow set shuffles once, partitioned
   exactly like the postings).
"""

from __future__ import annotations

from typing import Any, Dict, Optional, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from byzer_retrieval_spark.operators.context import IndexContext, local_frame
from byzer_retrieval_spark.operators.decode import flat_postings
from byzer_retrieval_spark.plans.query import (
    _leaf_to_column,
    filter_leaves,
    filters_to_column,
)


def filtered_docs(
    ctx: IndexContext, filters: Dict[str, Any]
) -> Optional[DataFrame]:
    """docs rows satisfying the filter tree; None when no filters.

    Plain stored-field leaves compile to pushed-down Column predicates;
    analyzed-field leaves become postings-membership flags.
    """
    if not filters:
        return None
    docs = ctx.docs()
    analyzed = set(ctx.analyzed_fields)

    flag_of: Dict[int, Column] = {}
    for leaf in filter_leaves(filters):
        fld = leaf.get("field")
        if fld not in analyzed:
            continue
        if "value" not in leaf:
            raise ValueError(
                f"range filter on analyzed field {fld!r} is not supported "
                "(the reference parses analyzed filter values as full-text "
                "queries — SchemaUtils.java:170-173)"
            )
        from byzer_retrieval_spark.functions.analyzer import tokenize_py

        toks = tokenize_py(str(leaf["value"]), ctx.analyzer)
        flag = f"__af_{len(flag_of)}"
        match = (
            flat_postings(
                ctx.postings().filter(
                    (F.col("field") == fld) & F.col("term").isin(toks)
                )
            )
            .select("__docid")
            .distinct()
            .withColumn(flag, F.lit(True))
        )
        docs = docs.join(match, "__docid", "left")
        flag_of[id(leaf)] = F.coalesce(F.col(flag), F.lit(False))

    def leaf_fn(leaf: Dict[str, Any]) -> Column:
        return flag_of.get(id(leaf)) if id(leaf) in flag_of else _leaf_to_column(leaf)

    cond = filters_to_column(filters, leaf_fn)
    return docs.filter(cond)


def expand_fuzzy(
    ctx: IndexContext,
    fields,
    word: str,
    max_edits: int,
    max_expansions: int = 50,
) -> Tuple[str, ...]:
    """Terms within Damerau-Levenshtein (OSA) distance of ``word`` —
    Lucene's FuzzyQuery dictionary expansion over the term dictionary
    (``transpositions=true`` parity since round 4: ``form``→``from`` is
    ONE edit).

    Scale guards (a code corpus at 10^12 docs has 10^8-10^9 distinct
    terms; Lucene walks an automaton over a sorted dictionary):
    - a LENGTH band (|len(term) - len(word)| <= n is necessary for
      distance <= n) prunes the dictionary first;
    - a JVM-side classic-Levenshtein prefilter ``lev <= 2n`` (each
      transposition is at most 2 classic edits, so DL <= n implies
      lev <= 2n) keeps the scan in codegen — the Python OSA UDF runs
      only on the small banded survivor set;
    - the ``max_expansions`` cap (Lucene FuzzyQuery default 50) keeps
      the CLOSEST terms, ties by term order — deterministic.

    No first-char band: Lucene's default prefixLength is 0, so an edit
    at position 0 is legal."""
    from pyspark.sql.functions import pandas_udf

    n = int(max_edits)
    lev = F.levenshtein(F.col("term"), F.lit(word))
    stats = ctx.stats()
    # field + len_bucket are the stats table's PARTITION columns (round
    # 4): the length band prunes whole directories at plan time — the
    # expansion never scans the full dictionary. ``length(term)`` is
    # the fallback for pre-round-4 stats layouts.
    band = (
        F.col("len_bucket") if "len_bucket" in stats.columns
        else F.length("term")
    ).between(len(word) - n, len(word) + n)
    cand = (
        stats
        .filter(F.col("field").isin(list(fields)) & band & (lev <= 2 * n))
        .select("term")
        .distinct()
    )

    @pandas_udf("int")
    def osa_udf(terms: pd.Series) -> pd.Series:
        from byzer_retrieval_spark.functions.editdist import osa_distance

        return terms.map(lambda t: osa_distance(t, word))

    rows = (
        cand.withColumn("__dl", osa_udf(F.col("term")))
        .filter(F.col("__dl") <= n)
        .orderBy(F.col("__dl").asc(), F.col("term").asc())
        .limit(max_expansions)
        .collect()
    )
    return tuple(sorted(r["term"] for r in rows))


def expand_fuzzy_many(
    ctx: IndexContext,
    items,
    max_expansions: int = 50,
) -> Dict[tuple, Tuple[str, ...]]:
    """Expand MANY distinct fuzzy specs in ONE Spark job (round 5).

    ``items``: iterable of (fields_tuple, word, max_edits). Returns
    {item: terms}. Semantics per item are IDENTICAL to ``expand_fuzzy``
    (length band, lev<=2n JVM prefilter, banded OSA UDF, closest-50
    deterministic cap) — pinned by tests comparing the two.

    Scale: a 1,000-query batch with 100 distinct fuzzies paid 100
    serial driver-side jobs (~0.1-0.5 s floor each) before the one
    batch job; here the stats scan happens once — the static
    (field, len_bucket) predicate is the UNION of the items' bands
    (still partition-pruned), a broadcast join against the tiny spec
    frame re-applies each item's own band + lev prefilter, and one
    window ranks the survivors per spec."""
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    items = list(dict.fromkeys(items))
    if not items:
        return {}
    if len(items) == 1:
        flds, w, n = items[0]
        return {items[0]: expand_fuzzy(ctx, flds, w, n, max_expansions)}
    stats = ctx.stats()
    len_col = (
        F.col("len_bucket") if "len_bucket" in stats.columns
        else F.length("term")
    )
    all_fields = sorted({f for flds, _, _ in items for f in flds})
    pre = F.lit(False)
    for flds, w, n in items:
        pre = pre | len_col.between(len(w) - int(n), len(w) + int(n))
    cand = (
        stats.filter(F.col("field").isin(all_fields) & pre)
        .select("field", "term")
        .distinct()
    )
    specs = local_frame(
        ctx.spark,
        [
            (i, w, int(n), list(flds))
            for i, (flds, w, n) in enumerate(items)
        ],
        "sid int, word string, n int, flds array<string>",
    )
    joined = (
        cand.join(
            F.broadcast(specs),
            F.array_contains(F.col("flds"), F.col("field"))
            & F.length("term").between(
                F.length("word") - F.col("n"), F.length("word") + F.col("n")
            )
            & (F.levenshtein(F.col("term"), F.col("word")) <= 2 * F.col("n")),
        )
        .select("sid", "n", "word", "term")
        .distinct()
    )

    @pandas_udf("int")
    def osa2_udf(terms: pd.Series, words: pd.Series) -> pd.Series:
        from byzer_retrieval_spark.functions.editdist import osa_distance

        return pd.Series(
            [osa_distance(t, w) for t, w in zip(terms, words)], dtype="int32"
        )

    w_rank = Window.partitionBy("sid").orderBy(
        F.col("__dl").asc(), F.col("term").asc()
    )
    rows = (
        joined.withColumn("__dl", osa2_udf(F.col("term"), F.col("word")))
        .filter(F.col("__dl") <= F.col("n"))
        .withColumn("__rn", F.row_number().over(w_rank))
        .filter(F.col("__rn") <= max_expansions)
        .select("sid", "term")
        .collect()
    )
    by_sid: Dict[int, list] = {}
    for r in rows:
        by_sid.setdefault(r["sid"], []).append(r["term"])
    return {
        item: tuple(sorted(by_sid.get(i, ())))
        for i, item in enumerate(items)
    }


def gate_frame(
    ctx: IndexContext, filters: Dict[str, Any], doc_bits: int
) -> Tuple[Optional[DataFrame], str]:
    """(gate_df with (shard_id, __docid), mode) for the WAND scorer."""
    if filters:
        allowed = filtered_docs(ctx, filters)
        allowed = ctx.exclude_tombstones(allowed)
        return (
            allowed.select(
                F.col("shard_id").cast("int").alias("shard_id"), "__docid"
            ),
            "allow",
        )
    tomb = ctx.tombstones_df()
    if tomb is not None:
        return (
            tomb.select("__docid")
            .distinct()
            .withColumn(
                "shard_id",
                F.shiftright(F.col("__docid"), doc_bits).cast("int"),
            )
            .select("shard_id", "__docid"),
            "deny",
        )
    return None, "none"
