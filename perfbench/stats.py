"""Metric names, units and the summary rules the benchmark reports with.

The names here are the single list the command prints; a self-test keeps
``BENCHMARK.json`` equal to it.
"""

from __future__ import annotations

import math
import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# Printed by every untraced run, on every workload. "op" is the workload's
# unit operation: a request (serve_mixed), a whole build (corpus_build).
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
}

SERVE_QUERIES = (
    "q1_pricing_summary",
    "revenue_by_nation",
    "latest_event_per_user",
    "rolling_mean_events",
)

# Printed by every traced run, on every workload; a layer the workload does
# not call reads 0.
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.prewarm_s": "s",
    "sources.weather_ingest.upsert_p50_ms": "ms",
    "sources.weather_ingest.spark_jobs_per_batch": "count",
    "sources.weather_ingest.rows_kept_ratio": "ratio",
    "sources.weather_ingest.bytes_written_per_input_byte": "ratio",
    "sources.weather_ingest.table_files": "count",
    "sources.tables.load_table_ms": "ms",
    "plans.features.build_s": "s",
    "plans.features.exec_s": "s",
    "plans.features.spark_jobs": "count",
    "plans.features.spark_tasks": "count",
    "ml.splits.temporal_split_s": "s",
    "ml.models.feature_columns_s": "s",
    "ml.models.save_model_s": "s",
    "ml.registry.register_s": "s",
    "ml.models.load_model_s": "s",
    "ml.models.predict_latest_p50_ms": "ms",
    "plans.dashboard.panels_build_ms": "ms",
    "plans.dashboard.panel_collect_p50_ms": "ms",
    **{f"plans.queries.{q}.p50_ms": "ms" for q in SERVE_QUERIES},
    "plans.queries.spark_jobs_per_request": "count",
    "operators.dedup.exact_dedup_s": "s",
    "operators.dedup.minhash_lsh_s": "s",
    "operators.dedup.lsh_candidate_pairs": "count",
    "operators.dedup.lsh_precision": "ratio",
    "operators.graph.connected_components_s": "s",
    "operators.text.quality_s": "s",
    "operators.similarity.cosine_topk_s": "s",
    "operators.similarity.ann_topk_s": "s",
    "operators.similarity.ann_recall_at_k": "ratio",
    "plans.queries.training_corpus_manifest_s": "s",
    "spark.failed_tasks": "count",
    "trace.overhead_ratio": "ratio",
}


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if not n:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-th percentile, or None unless at least ten
    samples lie beyond it (a tail figure resting on fewer is noise)."""
    n = len(xs)
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < 10:
        return None
    return sorted(xs)[rank - 1]


def end_to_end(setup_s: float, walls: list[float], ops: list[float], rss_mb: float) -> dict:
    """The END_TO_END values of an untraced run."""
    return {
        "setup_s": setup_s,
        "wall_s": median(walls),
        "op_p50_ms": median(ops) * 1e3,
        "peak_rss_mb": rss_mb,
    }


def result_line(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> dict:
    """The last stdout line: every name in ``units``, each with its unit."""
    if set(values) != set(units):
        raise KeyError(f"metrics measured vs declared differ: {sorted(set(values) ^ set(units))}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
