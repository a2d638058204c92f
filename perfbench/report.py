"""Turns a finished run (ops, spans, set-up repetitions, RSS peaks) into
the end-to-end and per-layer metric values. Every per-layer value is a
median over the workload's ops of the named kind; a layer the workload
does not exercise reads 0."""

from __future__ import annotations

import statistics
from typing import Any, Dict, List

from tracing import median
from workloads import KEYWORD_SINGLE, QUERY_KINDS, VECTOR_KINDS


def _p90(xs: List[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10)[-1]


def end_to_end(w, spark_start_s: float, peak_rss_mb: float) -> Dict[str, float]:
    ops = [o for o in w.window_ops() if not o["error"]]
    unfiltered = [o["wall_s"] * 1e3 for o in ops if o["kind"] in ("search", "fresh_search")]
    return {
        # process start to a ready index: session, corpus, build (ANN), warm-up
        "setup_s": spark_start_s + w.setup_s,
        # CPU seconds, not wall time: on a shared host, the CPU time other
        # guests take from this one (steal) stretches a run's wall times
        # far more than the CPU time its work needs
        "round_cpu_s": median(w.round_cpu),
        "search_p50_ms": median(unfiltered),
        "peak_rss_mb": peak_rss_mb,
        "index_bytes_per_input_byte": w.index_bytes() / sum(w.live_bytes.values()),
    }


def per_layer(w, tracer, workers_peak_mb: float, cores: int,
              kernels: Dict[str, float]) -> Dict[str, float]:
    ops = [o for o in w.window_ops() if not o["error"]]
    queries = [o for o in ops if o["kind"] in QUERY_KINDS]
    keyword = [o for o in queries if o["kind"] in KEYWORD_SINGLE + ("batch",)]
    traced = [o for o in queries if "plan" in o]

    def med(rows, f):
        return median(f(o) for o in rows)

    def wall_ms(kinds):
        return med([o for o in ops if o["kind"] in kinds], lambda o: o["wall_s"] * 1e3)

    def qps(kind):
        rows = [o for o in ops if o["kind"] == kind]
        return len(rows[0]["qs"]) / median(o["wall_s"] for o in rows) if rows else 0.0

    def frac(rows, pred):
        return sum(1 for o in rows if pred(o)) / len(rows) if rows else 0.0

    def route(o):
        p = o["plan"]
        return "cogroup" if p["cogroup"] else ("stream" if p["python_nodes"] else "dataframe")

    def idle(o):
        busy_ms = (o.get("plan_s", 0.0) + o.get("exec_s", 0.0)) * 1e3 * cores
        return 1.0 - o["spark"]["run_ms"] / busy_ms if busy_ms else 0.0

    def kept(o):
        p = o["plan"]
        return p["postings_kept"] / p["postings_rows"]

    def phase(name):
        return float(w.build_op["phase_timings"].get(name, 0.0))

    build_spark = w.build_op.get("spark", {})
    mut = [o for o in ops if o["kind"] in ("upsert", "delete") and "spark" in o]
    vec = [o for o in traced if o["kind"] in VECTOR_KINDS]
    keyword_traced = [o for o in keyword if "plan" in o]
    singles = [o["wall_s"] * 1e3 for o in ops if o["kind"] in KEYWORD_SINGLE]
    coverage = [o["covered_s"] / o["wall_s"] for o in queries if o["wall_s"]]
    out = {
        "parse.ms": med([o for o in queries if o["parse_ms"] is not None], lambda o: o["parse_ms"]),
        "context.open_ms": med(queries, lambda o: o.get("context_s", 0.0) * 1e3),
        "context.miss_frac": frac(queries, lambda o: o["miss"]),
        "driver.plan_ms": med(queries, lambda o: o.get("plan_s", 0.0) * 1e3),
        "exec.ms": med(queries, lambda o: o.get("exec_s", 0.0) * 1e3),
        "spark.jobs": med(traced, lambda o: o["spark"]["jobs"]),
        "spark.stages": med(traced, lambda o: o["spark"]["stages"]),
        "spark.tasks": med(traced, lambda o: o["spark"]["tasks"]),
        "spark.executor_run_ms": med(traced, lambda o: o["spark"]["run_ms"]),
        "spark.executor_cpu_ms": med(traced, lambda o: o["spark"]["cpu_ms"]),
        "spark.idle_frac": med(traced, idle),
        "scan.postings_rows": med(traced, lambda o: o["plan"]["postings_rows"]),
        "scan.postings_bytes": med(traced, lambda o: o["plan"]["postings_bytes"]),
        "scan.postings_files": med(traced, lambda o: o["plan"]["postings_files"]),
        "scan.postings_kept_ratio": med(
            [o for o in traced if o["plan"]["postings_rows"]], kept),
        "scan.docs_rows": med(traced, lambda o: o["plan"]["docs_rows"]),
        "scan.ms": med(traced, lambda o: o["plan"]["scan_ms"]),
        "scorer.python_ms": med(traced, lambda o: o["plan"]["python_ms"]),
        "scorer.worker_init_ms": med(traced, lambda o: o["plan"]["python_init_ms"]),
        "scorer.bytes_in": med(traced, lambda o: o["plan"]["python_bytes_in"]),
        "scorer.rows_out": med(traced, lambda o: o["plan"]["python_rows_out"]),
        "scorer.worker_peak_rss_mb": workers_peak_mb,
        "route.stream_frac": frac(keyword_traced, lambda o: route(o) == "stream"),
        "route.cogroup_frac": frac(keyword_traced, lambda o: route(o) == "cogroup"),
        "route.dataframe_frac": frac(keyword_traced, lambda o: route(o) == "dataframe"),
        "exchange.count": med(traced, lambda o: o["plan"]["exchanges"]),
        "exchange.shuffle_bytes": med(traced, lambda o: o["plan"]["shuffle_bytes"]),
        "join.broadcast_bytes": med(traced, lambda o: o["plan"]["broadcast_bytes"]),
        "collect.rows": med(queries, lambda o: len(o["rows"])),
        "build.stage_docids_s": phase("stage_docids"),
        "build.hot_term_detect_s": phase("hot_term_detect"),
        "build.docs_write_s": phase("docs_write"),
        "build.postings_write_s": phase("postings_write"),
        "build.stats_refresh_s": phase("stats_refresh"),
        "build.executor_cpu_s": build_spark.get("cpu_ms", 0.0) / 1e3,
        "build.shuffle_write_bytes": build_spark.get("shuffle_write_bytes", 0.0),
        "build.tasks": build_spark.get("tasks", 0.0),
        "build.postings_bytes": float(w.postings_bytes),
        "build.docs_bytes": float(w.docs_bytes),
        "build.files_per_s": w.files / w.build_op["wall_s"],
        "mutate.executor_cpu_ms": med(mut, lambda o: o["spark"]["cpu_ms"]),
        "mutate.tasks": med(mut, lambda o: o["spark"]["tasks"]),
        "mutate.tombstones_live": float(getattr(w, "tombstones_live", 0)),
        "compact.s": med([o for o in ops if o["kind"] == "compact"], lambda o: o["wall_s"]),
        "compact.bytes_rewritten": median(getattr(w, "compact_bytes", [])),
        "ann.build_s": w.ann_op["wall_s"] if w.ann_op else 0.0,
        "knn.probe_rows": med(vec, lambda o: o["plan"]["ann_rows"]),
        "knn.probe_files": med(vec, lambda o: o["plan"]["ann_files"]),
        "api.search_ms": wall_ms(("search",)),
        "api.filtered_search_ms": wall_ms(("filtered_search",)),
        "api.fresh_search_ms": wall_ms(("fresh_search",)),
        "api.search_p90_ms": _p90(sorted(singles)),
        "api.batch_qps": qps("batch"),
        "api.filtered_vector_ms": wall_ms(("filtered_vector",)),
        "api.hybrid_ms": wall_ms(("hybrid",)),
        "api.upsert_ms": wall_ms(("upsert",)),
        "api.delete_ms": wall_ms(("delete",)),
        "api.round_s": median(w.rounds),
        "trace.overhead_s": tracer.bookkeeping_s / max(1, len(w.rounds)),
        "trace.coverage_min": min(coverage) if coverage else 0.0,
    }
    out.update(kernels)
    return out


def samples(w) -> Dict[str, Any]:
    """The samples behind each median (wall and CPU ms per op kind, CPU
    seconds per round), for the run's record."""
    walls: Dict[str, List[float]] = {}
    cpus: Dict[str, List[float]] = {}
    for o in w.window_ops():
        walls.setdefault(o["kind"], []).append(round(o["wall_s"] * 1e3, 1))
        cpus.setdefault(o["kind"], []).append(round(o["cpu_s"] * 1e3, 1))
    return {"rounds": len(w.rounds), "round_cpu_s": w.round_cpu,
            "op_walls_ms": walls, "op_cpu_ms": cpus}
