"""The benchmark workloads.

Each workload has three phases, driven by ``run.py``:

- ``generate`` writes its inputs from the seed and computes the oracles
  (before any Spark session exists; not timed);
- ``setup`` builds what the timed passes need and warms them up (timed as
  ``setup_s``);
- ``run_pass`` is one timed pass; ``check_pass`` verifies its outputs
  outside the timed region.

A span around a call into the package is named ``<layer>.<function>``.
"""

from __future__ import annotations

import os
import time

import numpy as np

import checks
import gen
from stats import SERVE_QUERIES


def force(df) -> tuple[int, int]:
    """Row count and an order-free hash over every output column: Catalyst
    cannot prune a column that feeds the hash, as it can under count()."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])).alias("h"),
    ).first()
    return int(r["n"]), int(r["h"] or 0)


class Workload:
    """Shared bookkeeping: operation latencies, failed checks, counters."""

    min_passes = 1
    max_passes = 1_000
    # the first pass runs on a cold session (no warm-up in set-up)
    cold_first = False

    def __init__(self, tracer, work: str, seed: int):
        self.spark = None  # set by the runner once the session exists
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.p = gen.params()
        self.ops: list[float] = []  # seconds per unit operation
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.counters: dict[str, list[float]] = {}
        self.detail: dict[str, tuple[float, str]] = {}

    def count(self, name: str, value: float) -> None:
        self.counters.setdefault(name, []).append(float(value))

    def expect(self, ok: bool, what: str) -> bool:
        """Record one output check; a failed check fails its operation."""
        if not ok:
            self.failures.append(what)
        return ok

    def settle(self, n_ops: int, n_bad: int) -> None:
        self.attempted += n_ops
        self.failed += min(n_bad, n_ops)

    # per-workload hooks
    def generate(self) -> None: ...
    def setup(self) -> None: ...
    def setup_check(self) -> None:
        """Checks of what set-up built; run after ``setup_s`` is taken."""
    def run_pass(self, i: int) -> None: ...
    def check_pass(self, i: int) -> None: ...
    def trace_extras(self, i: int) -> None:
        """Trace-only counters that need extra reads; run outside timing."""
    def summary(self, walls: list[float]) -> None:
        """Fill ``self.detail`` with the workload's own figures."""


# ---------------------------------------------------------------------------
# weather: the collector's write path and the feature table
# ---------------------------------------------------------------------------
def read_batch(spark, path: str):
    from weather_data_pipeline_spark.sources.weather_ingest import RAW_WEATHER_SCHEMA

    return spark.read.schema(RAW_WEATHER_SCHEMA).json(path)


def table_files(table: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _d, files in os.walk(table):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, f))
                out[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
    return out


def ingest_batches(wl: Workload, table: str, paths) -> list[float]:
    """Each micro-batch: validate + flatten, then a partition-scoped upsert
    into ``table``. Returns per-batch seconds; a traced run also counts the
    table bytes each upsert rewrote."""
    from weather_data_pipeline_spark.sources import weather_ingest as WI

    spark = wl.spark
    lat, seen = [], {}
    for b, path in enumerate(paths):
        t0 = time.perf_counter()
        with wl.tracer.span("sources.weather_ingest.batch", f"batch-{b}"):
            with wl.tracer.span("sources.weather_ingest.ingest_raw_json"):
                rows = WI.ingest_raw_json(read_batch(spark, path))
            with wl.tracer.span("sources.weather_ingest.upsert_parquet_partitioned"):
                WI.upsert_parquet_partitioned(rows, table)
        lat.append(time.perf_counter() - t0)
        if wl.tracer.enabled:
            now = table_files(table)
            wl.count("bytes_written", sum(st[0] for p, st in now.items() if seen.get(p) != st))
            seen = now
    return lat


def check_weather_table(wl: Workload, table: str, raw: dict) -> None:
    """One row per key, the newest re-delivered value, no invalid record."""
    pdf = (
        wl.spark.read.parquet(table)
        .select("city", "timestamp", "temperature", "humidity")
        .toPandas()
    )
    keys = list(zip(pdf["city"], pdf["timestamp"].astype("int64") // 10**9))
    n_keys = len(raw["final"])
    got = dict(zip(keys, zip(pdf["temperature"], pdf["humidity"])))
    wrong = sum(got.get(k) != v for k, v in raw["final"].items())
    bad = 0
    bad += not wl.expect(pdf["city"].notna().all(), "null city kept")
    bad += not wl.expect(len(set(keys)) == len(keys), "duplicate (city, timestamp)")
    bad += not wl.expect(len(keys) == n_keys, f"{len(keys)} keys, expected {n_keys}")
    bad += not wl.expect((pdf["temperature"] < 900).all(), "invalid record kept")
    bad += not wl.expect(wrong == 0, f"{wrong} keys without their newest value")
    wl.settle(len(raw["paths"]), bad)
    wl.count("rows_kept_ratio", len(keys) / raw["delivered"])
    wl.count("table_files", len(table_files(table)))


# ---------------------------------------------------------------------------
class ServeMixed(Workload):
    """One closed-loop client over dashboard refreshes, single-city
    predictions and small registry queries. Set-up builds what they read:
    the weather table through the collector's micro-batch write path, the
    feature matrix, and a model."""

    FEATURE_COLS = 78
    # two passes a run: wall_s is their median, op_p50_ms spans 22 requests
    min_passes = 2
    # one pass: the same requests in every pass, in a seed-drawn order.
    # Predictions, the commonest click, are 6 of 11, so the median request
    # is a prediction and op_p50_ms follows that class rather than the gap
    # between two.
    PREDICTS = 6
    QUERY_TABLES = {
        "q1_pricing_summary": ("lineitem",),
        "revenue_by_nation": ("lineitem", "orders", "customer", "nation"),
        "latest_event_per_user": ("events",),
        "rolling_mean_events": ("events",),
    }

    def generate(self):
        from weather_data_pipeline_spark.plans import queries as Q

        self.sf = f"{self.work}/sf"
        gen.star_schema(self.seed, self.sf, self.p["serve"]["sf"])
        self.raw = gen.weather_batches(self.seed, f"{self.work}/raw", self.p["weather"])
        con = checks.duck_views({
            t: f"{self.sf}/{t}.parquet"
            for t in ("region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events")
        })
        sql = Q.oracle_sql()
        self.oracle = {q: checks.valhash(con.execute(sql[q]).df()) for q in SERVE_QUERIES}
        con.close()
        self.rng = np.random.default_rng([self.seed, 5])
        # the dashboard's window, one to seven days, drawn once per run
        self.hours = int(self.rng.integers(24, 24 * 7 + 1))
        self.cities = sorted(self.raw["cities"])

    def pass_requests(self) -> list[tuple[str, object]]:
        """The next pass's requests: a dashboard refresh, each registry
        query, and PREDICTS seed-drawn cities, shuffled."""
        rng = self.rng
        block = [("dashboard", self.hours)]
        block += [("query", q) for q in SERVE_QUERIES]
        block += [("predict", self.cities[int(rng.integers(len(self.cities)))])
                  for _ in range(self.PREDICTS)]
        return [block[j] for j in rng.permutation(len(block))]

    def setup(self):
        from pyspark.ml import Pipeline
        from pyspark.ml.regression import LinearRegression
        from weather_data_pipeline_spark.ml import models as M
        from weather_data_pipeline_spark.ml import registry as RG
        from weather_data_pipeline_spark.ml import splits as SP
        from weather_data_pipeline_spark.plans import features as FE

        spark = self.spark
        self.table = f"{self.work}/table"
        self.batch_lat = ingest_batches(self, self.table, self.raw["paths"])

        src = spark.read.parquet(self.table).drop("part_day")
        with self.tracer.span("plans.features.full_feature_pipeline"):
            feats = FE.full_feature_pipeline(src)
        with self.tracer.span("plans.features.write_parquet"):
            feats.write.parquet(f"{self.work}/features")
        self.feats = spark.read.parquet(f"{self.work}/features")

        with self.tracer.span("ml.splits.temporal_split"):
            train, _test = SP.temporal_split(self.feats, "timestamp", tiebreak="city")
        with self.tracer.span("ml.models.feature_columns"):
            self.cols = M.feature_columns(train)
        pipe = Pipeline(stages=M.feature_pipeline(self.cols).getStages()
                        + [LinearRegression(featuresCol="features", labelCol=M.LABEL_COL)])
        fitted = M.TrainedModel("linear", pipe.fit(train.fillna(0, subset=self.cols)))
        path = f"{self.work}/model"
        with self.tracer.span("ml.models.save_model"):
            M.save_model(fitted, path)
        with self.tracer.span("ml.registry.register"):
            RG.ModelRegistry(f"{self.work}/registry.json").register(path, "linear", {}, self.cols)
        with self.tracer.span("ml.models.load_model"):
            self.model = M.load_model(path)

        # warm-up: every request shape once before timing, its answer
        # checked with the timed ones
        self.warm = [(kind, arg, self._serve(kind, arg, "warmup"))
                     for kind, arg in [("dashboard", self.hours)]
                     + [("query", q) for q in SERVE_QUERIES]
                     + [("predict", c) for c in self.cities[:2]]]

    def setup_check(self):
        check_weather_table(self, self.table, self.raw)
        wp = self.p["weather"]
        shape = (self.feats.count(), len(self.feats.columns))
        want = (wp["cities"] * (wp["hours"] - 24), self.FEATURE_COLS)
        self.settle(1, int(not self.expect(shape == want, f"feature matrix {shape}, expected {want}")))
        # expected predictions: one transform over the full feature frame
        scored = self.model.pipeline_model.transform(
            self.feats.fillna(0, subset=self.cols)
        ).select("city", "timestamp", "prediction").toPandas()
        latest = scored.sort_values("timestamp").groupby("city").tail(1)
        self.expected_pred = dict(zip(latest["city"], latest["prediction"]))
        # the warm-up dashboard is the answer every timed refresh must give
        self.panels = self.warm[0][2]
        bad = sum(not self._right(kind, arg, out) for kind, arg, out in self.warm)
        self.settle(len(self.warm), bad)

    def _serve(self, kind, arg, req):
        """One request; its answer is checked outside the timing."""
        from weather_data_pipeline_spark.ml import models as M
        from weather_data_pipeline_spark.plans import dashboard as DB
        from weather_data_pipeline_spark.plans import queries as Q
        from weather_data_pipeline_spark.sources import tables as TB

        spark, tr = self.spark, self.tracer
        with tr.span(f"request.{kind}", req):
            if kind == "dashboard":
                with tr.span("plans.dashboard.dashboard_panels", req):
                    panels = DB.dashboard_panels(spark, self.sf, arg)
                out = {}
                for name, df in panels.items():
                    with tr.span("plans.dashboard.panel_collect", req):
                        out[name] = sorted(map(tuple, df.collect()))
                return out
            if kind == "predict":
                with tr.span("ml.models.predict_latest", req):
                    return M.predict_latest(self.feats, self.model, "city", arg, self.cols).collect()
            for t in self.QUERY_TABLES[arg]:
                with tr.span("sources.tables.load_table", req):
                    TB.load_table(spark, self.sf, t)
            # the client receives every row and column of the answer
            with tr.span(f"plans.queries.{arg}", req):
                return getattr(Q, arg)(spark, self.sf).toPandas()

    def _right(self, kind, arg, out) -> bool:
        if kind == "dashboard":
            return out == self.panels
        if kind == "predict":
            want = self.expected_pred[arg]
            return len(out) == 1 and abs(
                out[0]["predicted_temperature"] - want) <= 1e-9 * max(1.0, abs(want))
        return checks.valhash(out) == self.oracle[arg]

    def run_pass(self, i):
        # one closed-loop client: each request waits for the one before
        self.block = []
        for j, (kind, arg) in enumerate(self.pass_requests()):
            t0 = time.perf_counter()
            try:
                out, err = self._serve(kind, arg, f"p{i}-r{j}"), None
            except Exception as exc:  # a request that raises is a failed op
                out, err = None, f"{kind} {arg}: {type(exc).__name__}: {exc}"[:300]
            dt = time.perf_counter() - t0
            self.block.append((kind, arg, out, err))
            self.ops.append(dt)
            if kind == "predict":
                self.count("predict_s", dt)

    def check_pass(self, i):
        """Registry answers against the DuckDB oracles, predictions against
        the full-frame transform, dashboards against the warm-up answer."""
        bad = 0
        for kind, arg, out, err in self.block:
            ok = err is None and self._right(kind, arg, out)
            bad += not self.expect(ok, err or f"{kind} {arg} answered wrongly")
        self.settle(len(self.block), bad)

    def summary(self, walls):
        from stats import median, percentile

        self.detail = {
            "ingest_batch_p50_ms": (median(self.batch_lat) * 1e3, "ms"),
            "ingest_rows_per_s": (self.raw["delivered"] / sum(self.batch_lat), "rows/s"),
            "serve_requests_per_s": (len(self.block) / median(walls), "req/s"),
            "serve_n": (len(self.ops), "count"),
            "predict_p50_ms": (median(self.counters.get("predict_s", [0.0])) * 1e3, "ms"),
        }
        # nearest rank, printed only with ten requests beyond it; a run has
        # too few requests for any tail percentile (serve_p95_ms)
        p50 = percentile(self.ops, 50)
        if p50 is not None:
            self.detail["serve_p50_ms"] = (p50 * 1e3, "ms")


# ---------------------------------------------------------------------------
class CorpusBuild(Workload):
    """The LLM-data operators over a fresh permuted copy of the corpus per
    pass, so no session memo filled by one pass answers the next. No
    warm-up: the first pass is what a corpus build on a fresh session
    costs."""

    TOPK = 10
    N_QUERIES = 20
    COPIES = 4
    cold_first = True

    def generate(self):
        from weather_data_pipeline_spark.plans import queries as Q

        docs, emb = gen.corpus(self.seed, self.p["corpus"])
        self.n_docs = len(docs)
        self.docs_pd = docs
        for c in range(self.COPIES):
            gen.write_corpus_copy(docs, emb, f"{self.work}/copy_{c}", self.seed, c)
        self.max_passes = self.COPIES
        self.n_unique = docs["text"].nunique()
        rng = np.random.default_rng([self.seed, 6])
        self.qids = sorted(int(x) for x in rng.choice(len(emb), self.N_QUERIES, replace=False))
        con = checks.duck_views({
            "documents": f"{self.work}/copy_0/documents.parquet",
            "embeddings": f"{self.work}/copy_0/embeddings.parquet",
        })
        sql = checks.materialize_ctes(Q.oracle_sql()["training_corpus_manifest"], ("edges", "und"))
        self.manifest_oracle = checks.valhash(con.execute(sql).df())
        con.close()

    def _pass(self, d, tag, qids):
        from weather_data_pipeline_spark.operators import dedup as D
        from weather_data_pipeline_spark.operators import graph as G
        from weather_data_pipeline_spark.operators import similarity as S
        from weather_data_pipeline_spark.operators import text as X
        from weather_data_pipeline_spark.plans import queries as Q
        from weather_data_pipeline_spark.sources import tables as TB

        spark = self.spark
        with self.tracer.span("sources.tables.load_table", tag):
            docs = TB.load_table(spark, d, "documents")
        with self.tracer.span("sources.tables.load_table", tag):
            emb = TB.load_table(spark, d, "embeddings")
        out = {}

        def step(name, fn):
            with self.tracer.span(name, tag):
                out[name] = fn()

        step("operators.dedup.exact_dedup", lambda: force(D.exact_dedup(docs)))
        step("operators.dedup.minhash_lsh_candidates",
             lambda: D.minhash_lsh_candidates(docs).collect())
        pairs = [(r["id_a"], r["id_b"]) for r in out["operators.dedup.minhash_lsh_candidates"]]
        edges = spark.createDataFrame(pairs or [(0, 0)], "id_a long, id_b long")
        step("operators.graph.connected_components",
             lambda: G.connected_components(edges, src="id_a", dst="id_b").collect())
        step("operators.text.add_quality_score", lambda: force(X.add_quality_score(docs)))
        step("operators.similarity.cosine_topk",
             lambda: S.cosine_topk(emb, qids, k=self.TOPK).collect())
        step("operators.similarity.lsh_bucket_topk",
             lambda: force(S.lsh_bucket_topk(emb, k=self.TOPK)))
        step("plans.queries.training_corpus_manifest",
             lambda: force(Q.training_corpus_manifest(spark, d)))
        return out, pairs

    def run_pass(self, i):
        # the operation is the whole build: its seven steps are not alike
        # enough for a median step to mean anything
        self.dir = f"{self.work}/copy_{i}"
        t0 = time.perf_counter()
        self.out, self.pairs = self._pass(self.dir, f"pass-{i}", self.qids)
        self.ops.append(time.perf_counter() - t0)

    def check_pass(self, i):
        from weather_data_pipeline_spark.plans import queries as Q

        spark = self.spark
        o = self.out
        bad = 0
        bad += not self.expect(o["operators.dedup.exact_dedup"][0] == self.n_unique,
                               "exact dedup kept a wrong number of documents")
        bad += not self.expect(all(a < b for a, b in self.pairs), "candidate pair order")
        comp = {r["node"]: r["component"] for r in o["operators.graph.connected_components"]}
        bad += not self.expect(comp == union_find_min(self.pairs or [(0, 0)]),
                               "components differ")
        bad += not self.expect(o["operators.text.add_quality_score"][0] == self.n_docs,
                               "quality scoring lost rows")
        bad += not self.expect(
            len(o["operators.similarity.cosine_topk"]) == self.TOPK * len(self.qids),
            "cosine_topk row count",
        )
        bad += not self.expect(
            o["operators.similarity.lsh_bucket_topk"][0] > 0, "empty ANN result")
        manifest = checks.valhash(Q.training_corpus_manifest(spark, self.dir).toPandas())
        bad += not self.expect(manifest == self.manifest_oracle,
                               "manifest differs from its DuckDB oracle")
        self.settle(1, int(bad > 0))

    def trace_extras(self, i):
        from pyspark.sql import functions as F
        from weather_data_pipeline_spark.operators import similarity as S
        from weather_data_pipeline_spark.sources import tables as TB

        shingles = {
            int(r.doc_id): shingle_set(r.text) for r in self.docs_pd.itertuples()
        }
        good = sum(jaccard(shingles[a], shingles[b]) >= LSH_JACCARD for a, b in self.pairs)
        self.count("lsh_candidate_pairs", len(self.pairs))
        self.count("lsh_precision", good / len(self.pairs) if self.pairs else 0.0)
        emb = TB.load_table(self.spark, self.dir, "embeddings")
        ann = S.lsh_bucket_topk(emb, k=self.TOPK).where(F.col("query_id").isin(self.qids))
        ann_set = {(r["query_id"], r["neighbor_id"]) for r in ann.collect()}
        exact = {(r["query_id"], r["neighbor_id"]) for r in self.out["operators.similarity.cosine_topk"]}
        self.count("ann_recall_at_k", len(ann_set & exact) / len(exact))

    def summary(self, walls):
        from stats import median

        self.detail = {"corpus_docs_per_s": (self.n_docs / median(walls), "docs/s")}


# 4 bands x 2 rows: the banding's S-curve crosses 1/2 at Jaccard (1/4)^(1/2)
LSH_JACCARD = 0.5


def shingle_set(text: str, n: int = 3) -> set:
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def union_find_min(pairs) -> dict:
    """node -> smallest node id in its component, for an undirected edge list."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


WORKLOADS = {
    "serve_mixed": ServeMixed,
    "corpus_build": CorpusBuild,
}
