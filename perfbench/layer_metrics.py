"""Per-layer metrics of a traced run, from its spans and counters.

A metric whose layer the workload never called reads 0.
"""

from __future__ import annotations

from spans import Tracer
from stats import SERVE_QUERIES, median


def per_layer(tr: Tracer, wl, walls: list[float], traced_walls: list[float]) -> dict:
    def med_s(name: str) -> float:
        xs = tr.seconds(name)
        return median(xs) if xs else 0.0

    def med_count(name: str, attr: str) -> float:
        xs = [Tracer.total(s, attr) for s in tr.named(name)]
        return median(xs) if xs else 0.0

    def sum_count(names: tuple[str, ...], attr: str) -> float:
        return float(sum(Tracer.total(s, attr) for n in names for s in tr.named(n)))

    def counter(name: str, agg=median) -> float:
        xs = wl.counters.get(name)
        return agg(xs) if xs else 0.0

    # the one feature build, in serve_mixed set-up
    feature_spans = ("plans.features.full_feature_pipeline", "plans.features.write_parquet")
    raw_bytes = sum(wl.raw["bytes"]) if hasattr(wl, "raw") else 0
    written = counter("bytes_written", sum)
    query_spans = tuple(f"plans.queries.{q}" for q in SERVE_QUERIES)
    query_jobs = [Tracer.total(s, "jobs") for n in query_spans for s in tr.named(n)]

    v = {
        "session.get_spark_s": med_s("session.get_spark"),
        "session.prewarm_s": med_s("session.prewarm_python_workers"),
        "sources.weather_ingest.upsert_p50_ms":
            med_s("sources.weather_ingest.upsert_parquet_partitioned") * 1e3,
        "sources.weather_ingest.spark_jobs_per_batch":
            med_count("sources.weather_ingest.batch", "jobs"),
        "sources.weather_ingest.rows_kept_ratio": counter("rows_kept_ratio"),
        "sources.weather_ingest.bytes_written_per_input_byte":
            written / raw_bytes if written else 0.0,
        "sources.weather_ingest.table_files": counter("table_files"),
        "sources.tables.load_table_ms": med_s("sources.tables.load_table") * 1e3,
        "plans.features.build_s": med_s("plans.features.full_feature_pipeline"),
        "plans.features.exec_s": med_s("plans.features.write_parquet"),
        "plans.features.spark_jobs": sum_count(feature_spans, "jobs"),
        "plans.features.spark_tasks": sum_count(feature_spans, "tasks"),
        "ml.splits.temporal_split_s": med_s("ml.splits.temporal_split"),
        "ml.models.feature_columns_s": med_s("ml.models.feature_columns"),
        "ml.models.save_model_s": med_s("ml.models.save_model"),
        "ml.registry.register_s": med_s("ml.registry.register"),
        "ml.models.load_model_s": med_s("ml.models.load_model"),
        "ml.models.predict_latest_p50_ms": med_s("ml.models.predict_latest") * 1e3,
        "plans.dashboard.panels_build_ms": med_s("plans.dashboard.dashboard_panels") * 1e3,
        "plans.dashboard.panel_collect_p50_ms": med_s("plans.dashboard.panel_collect") * 1e3,
        **{f"plans.queries.{q}.p50_ms": med_s(f"plans.queries.{q}") * 1e3
           for q in SERVE_QUERIES},
        "plans.queries.spark_jobs_per_request": median(query_jobs) if query_jobs else 0.0,
        "operators.dedup.exact_dedup_s": med_s("operators.dedup.exact_dedup"),
        "operators.dedup.minhash_lsh_s": med_s("operators.dedup.minhash_lsh_candidates"),
        "operators.dedup.lsh_candidate_pairs": counter("lsh_candidate_pairs"),
        "operators.dedup.lsh_precision": counter("lsh_precision"),
        "operators.graph.connected_components_s":
            med_s("operators.graph.connected_components"),
        "operators.text.quality_s": med_s("operators.text.add_quality_score"),
        "operators.similarity.cosine_topk_s": med_s("operators.similarity.cosine_topk"),
        "operators.similarity.ann_topk_s": med_s("operators.similarity.lsh_bucket_topk"),
        "operators.similarity.ann_recall_at_k": counter("ann_recall_at_k"),
        "plans.queries.training_corpus_manifest_s":
            med_s("plans.queries.training_corpus_manifest"),
        "spark.failed_tasks": float(sum(s.failed_tasks for s in tr.spans)),
        "trace.overhead_ratio": median(traced_walls) / median(walls),
    }
    return v
