"""IndexContext: an opened index (meta + current snapshot + table readers)."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from byzer_retrieval_spark.sources.storage import IndexStore


_MISS = object()


def local_frame(spark: SparkSession, rows: Sequence[tuple], schema: str) -> DataFrame:
    """A small driver-built frame (query specs, limits, id remaps, query
    vectors) shipped to the JVM as one Arrow table. The plan is a
    ``LocalTableScan``: no Python task ever runs for it.
    ``createDataFrame(list)`` instead parallelizes pickled rows, and
    every execution of such a frame runs one Python task per
    default-parallelism slice (0.3 s of worker set-up each). ``schema``
    is a DDL string; values keep their exact bits (a Python float is a
    float64 in Arrow and in Spark's DoubleType)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=struct)


def scanned_df(df_map, fld: str, term: str, rows) -> float:
    """Global df of a (field, term) a scorer has postings rows for: from
    the driver-read dictionary (``IndexContext.term_dfs``) when the
    scorer carries one, else from the rows' own df column. Every pair
    with postings has a stats row — the stats are aggregated from the
    postings at every commit — so a miss means the table's stats and
    postings disagree, and it is reported as that, not as a bare
    KeyError inside an executor."""
    if df_map is None:
        return float(rows["df"].iloc[0])
    try:
        return df_map[(fld, term)]
    except KeyError:
        raise RuntimeError(
            f"the stats table has no df for ({fld!r}, {term!r}) although "
            "its postings were scanned: the table's stats and postings "
            "disagree; compact or rebuild the table to rewrite its stats"
        ) from None


@dataclass
class IndexContext:
    spark: SparkSession
    store: IndexStore
    meta: Dict[str, Any]
    snapshot: Dict[str, Any]

    @classmethod
    def open(cls, spark: SparkSession, store: IndexStore) -> "IndexContext":
        snap = store.current_snapshot()
        if snap is None:
            raise FileNotFoundError(
                f"no committed snapshot at {store.base} — build the index first"
            )
        return cls(spark, store, store.read_meta(), snap)

    # table readers ------------------------------------------------------
    # Memoized per context: building a reader costs a driver-side file
    # listing + a parquet-footer schema read (~100-200 ms each). A
    # context is pinned to ONE snapshot (mutations commit a new snapshot
    # and the engine opens a fresh context), so the cached plans can
    # never see stale file sets.
    def _memo(self, key: str, build):
        cache = self.__dict__.setdefault("_reader_memo", {})
        hit = cache.get(key, _MISS)
        if hit is _MISS:
            hit = build()
            cache[key] = hit
        return hit

    def docs(self) -> DataFrame:
        return self._memo("docs", lambda: self.store.docs(self.spark))

    def postings(self) -> DataFrame:
        return self._memo("postings", lambda: self.store.postings(self.spark))

    def stats(self) -> DataFrame:
        return self._memo("stats", lambda: self.store.stats(self.spark))

    def tombstone_ids(self) -> List[int]:
        return self.store.tombstone_ids(self.spark)

    def tombstones_df(self) -> Optional[DataFrame]:
        """Tombstoned doc ids as a DataFrame(__docid) — None when none
        exist. Query paths must use this (anti-join), never
        ``tombstone_ids`` (a driver collect that inlines every deleted
        id as a plan literal — a driver bottleneck at millions of
        deletes)."""
        return self._memo("tombstones", lambda: self.store.tombstones(self.spark))

    def exclude_tombstones(self, df: DataFrame) -> DataFrame:
        """Anti-join ``df`` (must carry __docid) against tombstones.
        No broadcast hint: the tombstone parquet has size stats, so AQE
        picks broadcast while the set is small and degrades gracefully
        to a shuffle join when it isn't."""
        tomb = self.tombstones_df()
        if tomb is None:
            return df
        return df.join(tomb.select("__docid").distinct(), "__docid", "left_anti")

    # stats --------------------------------------------------------------
    @property
    def analyzer(self) -> str:
        return self.meta["analyzer"]

    @property
    def analyzed_fields(self) -> List[str]:
        return self.meta["analyzed_fields"]

    @property
    def k1(self) -> float:
        return float(self.meta.get("k1", 1.2))

    @property
    def b(self) -> float:
        return float(self.meta.get("b", 0.75))

    @property
    def doc_bits(self) -> int:
        return int(self.meta.get("doc_bits", 40))

    @property
    def docid_id_order(self) -> bool:
        """True when __docid asc == _id asc within every shard (fresh
        build; cleared by upsert) — lets scorers cut per-shard top-k
        exactly by (score desc, __docid asc) instead of keeping every
        boundary-score tie (constant-score clauses tie by the
        thousands). Missing key (pre-r4 snapshots) → False (safe)."""
        return bool(self.snapshot.get("docid_id_order", False))

    @property
    def per_shard_stats(self) -> bool:
        """True when this index scores every shard with its OWN
        df/N/avgdl (reference numNodes>1 parity — each worker is an
        independent Lucene index; RetrievalFlightServer.java:456-460).
        Queries then run on the declarative scorer: per-shard idf
        invalidates the WAND path's driver-computed upper bounds."""
        return bool(self.meta.get("per_shard_stats", False))

    def shard_field_stats(self, field: str) -> Dict[int, Dict[str, Any]]:
        """Per-shard (n_docs, sum_dl, avgdl) for ``field`` — written by
        every build/mutation commit since round 5."""
        sfs = self.snapshot.get("shard_field_stats") or {}
        return {int(s): v for s, v in (sfs.get(field) or {}).items()}

    def field_stat(self, field: str) -> Dict[str, Any]:
        return self.snapshot["field_stats"][field]

    def n_docs(self, field: Optional[str] = None) -> int:
        if field is None:
            return int(self.snapshot["n_docs"])
        return int(self.field_stat(field)["n_docs"])

    def avgdl(self, field: str) -> float:
        return float(self.field_stat(field)["avgdl"])

    def stored_columns(self) -> List[str]:
        drop = {"__docid", "shard_id"}
        return [c for c in self.docs().columns if c not in drop]

    def term_dfs(self, fields, terms):
        """{(field, term): df} for an EXACT term list, read driver-side
        via pyarrow with (field, len_bucket) partition pruning + term
        row-group pruning (round 6). The stats table is the term
        dictionary — metadata-scale — and a query touches a handful of
        terms, so this is a 2-10 ms driver read that replaces a whole
        broadcast-build job on the zero-exchange paths (exactly like
        Lucene reading its term dictionary on the searcher).

        Returns None when the read is not possible (non-local store,
        pre-r4 layout without len_bucket) — callers fall back to the
        broadcast stats join. A requested pair absent from the
        dictionary is absent from the map too: the stats are aggregated
        from the postings at every commit, so such a pair has no
        postings and no scorer looks it up (see ``scanned_df``)."""
        terms = list(dict.fromkeys(terms))
        if not terms:
            return {}
        cache = self.__dict__.setdefault("_dfs_ds", {})
        d = cache.get("ds", _MISS)
        if d is _MISS:
            try:
                import pyarrow.dataset as _ds

                d = _ds.dataset(
                    self.store.stats_path, format="parquet",
                    partitioning="hive",
                )
                if "len_bucket" not in d.schema.names:
                    d = None
            except Exception:
                d = None
            cache["ds"] = d
        if d is None:
            return None
        import pyarrow.dataset as _ds

        try:
            tbl = d.to_table(
                filter=_ds.field("field").isin(list(fields))
                & _ds.field("len_bucket").isin(
                    sorted({len(t) for t in terms})
                )
                & _ds.field("term").isin(terms),
                columns=["field", "term", "df"],
            )
        except Exception:
            return None
        return {
            (f, t): float(v)
            for f, t, v in zip(
                tbl.column("field").to_pylist(),
                tbl.column("term").to_pylist(),
                tbl.column("df").to_pylist(),
            )
        }
