"""The full feature-engineering pipeline (reference `process_pipeline`,
`data_processor.py:275-314`) as ONE lazy DataFrame plan.

Stage order mirrors the reference exactly: time features → lag features →
rolling stats → weather indices → interactions → missing-value repair →
categorical encoding → target construction → drop null targets. Where the
reference materializes 9 full pandas copies (`df.copy()` per stage), this is
a single Catalyst DAG: the ~45 projections collapse into a handful of
codegen'd stages and the only shuffles are (a) one hash partition on `city`
shared by *all* window stages and (b) the tiny vocab aggregations for
encoding.

Scale notes: every window uses the same (city, timestamp) partitioning, so
Spark runs them in one Window exec chain after a single exchange. At 100 TB,
write the base table partitioned/bucketed by city and even that exchange
disappears.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import scalar
from ..operators import encoding as E
from . import feature_exprs_sql as FSQL

LAG_COLS = ["temperature", "humidity", "pressure", "wind_speed"]
LAGS = (1, 3, 6, 12, 24)
ROLLING_WINDOW = 24
INTERACTIONS = [
    ("temperature", "humidity"),
    ("temperature", "wind_speed"),
    ("humidity", "pressure"),
    ("wind_speed", "cloudiness"),
]
CATEGORICAL_COLS = ["weather_main", "weather_description", "time_of_day"]
FFILL_COLS = ["temperature", "humidity", "pressure", "wind_speed"]


def weather_window(order_tiebreak: str | None = None):
    order = ["timestamp"] + ([order_tiebreak] if order_tiebreak else [])
    return Window.partitionBy("city").orderBy(*order)


def handle_missing_values(
    df: DataFrame, mode_fill: dict[str, dict] | None = None
) -> DataFrame:
    """Missing-value repair (reference `data_processor.py:178-204`):
    limited forward-fill (limit=3) then linear interpolation on the numeric
    measurement columns; categorical mode-fill per city; finally drop rows
    that are mostly null.

    Fill and interpolation share ONE row-number column and every helper
    column is dropped in one pass: 5 analysis passes total where the
    sequential helper chain ran ~9 (see _repaired_features on why passes,
    not expressions, dominate construction latency).

    ``mode_fill`` (r12, VERDICT r11 #3): optional pre-computed per-city
    modes, {column: {city: mode_value}}, collected by the pipeline's ONE
    bounded fit job (:func:`_fit_vocabs_and_modes`). When provided, the
    mode fill is a map-literal lookup fused into the surrounding
    projection — the mode_per_group subtree (a second scan of the input +
    groupBy + window + broadcast join) disappears from the executed plan.
    The caller asserts the city domain is bounded (same contract as
    label_encode's assume_bounded); None keeps the distributed join path,
    and a city absent from the dict fills null exactly like a left-join
    miss."""
    # SQL-string twins (feature_exprs_sql): same analyzed expressions as
    # windows.ffill_limited_exprs / interpolate_linear_exprs at ~one py4j round
    # trip per column instead of dozens (r11 — construction latency, see
    # the twin module's docstring; parity is test-pinned)
    out = df.withColumn(
        "_rn", F.expr(f"row_number() OVER ({FSQL.OVER_W})")
    )
    out = out.withColumns(
        {
            k: F.expr(v)
            for k, v in FSQL.ffill_limited_sql(
                FFILL_COLS, "_rn", limit=3, suffix="_ff"
            ).items()
        }
    )
    out = out.withColumns(
        {
            k: F.expr(v)
            for k, v in FSQL.interpolate_linear_sql(
                [f"{c}_ff" for c in FFILL_COLS], "_rn", suffix="_i"
            ).items()
        }
    )
    out = out.withColumns(
        {
            c: F.coalesce(F.col(f"{c}_ff_i"), F.col(c).cast("double"))
            for c in FFILL_COLS
        }
    ).drop("_rn", *[n for c in FFILL_COLS for n in (f"{c}_ff", f"{c}_ff_i")])
    # categorical mode imputation per city (E4 / A11)
    from ..operators.relational import mode_per_group

    for c in ("weather_main",):
        if mode_fill is not None:
            modes_map = mode_fill.get(c) or {}
            if modes_map:
                fill = F.try_element_at(
                    F.create_map(
                        *[
                            x
                            for city in sorted(modes_map)
                            for x in (F.lit(city), F.lit(modes_map[city]))
                        ]
                    ),
                    F.col("city"),
                )
            else:  # no non-null values anywhere: every lookup misses
                fill = F.lit(None).cast("string")
            out = out.withColumn(c, F.coalesce(F.col(c), fill))
            continue
        modes = mode_per_group(df.where(F.col(c).isNotNull()), "city", c)
        out = out.join(F.broadcast(modes), on="city", how="left")
        out = out.withColumn(c, F.coalesce(F.col(c), F.col(f"mode_{c}"))).drop(
            f"mode_{c}"
        )
    return out


def encode_categoricals(df: DataFrame, fit_df: DataFrame | None = None) -> DataFrame:
    """E1 label encoding with unseen→−1 (reference `data_processor.py:206-226`).
    ``assume_bounded``: these three columns are schema-bounded categoricals
    (weather condition enums + a 4-value time-of-day bin), so the fit skips
    the cardinality census and stays a single scan. ``fit_df``: optional
    cheap frame with the same distinct value sets (see
    :func:`_vocab_fit_frame`)."""
    present = [c for c in CATEGORICAL_COLS if c in df.columns]
    return E.label_encode(df, present, assume_bounded=True, fit_df=fit_df)


def _vocab_fit_frame(df: DataFrame, with_city: bool = False) -> DataFrame:
    """A bare projection of the RAW weather frame whose per-column distinct
    non-null value sets equal the repaired pipeline frame's — so the eager
    vocab-fit job scans this instead of the full window+join repair plan
    (r9: the fit was the largest single piece of construction latency).
    Why the sets match: mode imputation only FILLS nulls with a value that
    already occurs in the column (fit ignores nulls on both sides);
    weather_description is never imputed; time_of_day derives
    deterministically from timestamp, untouched by repair; repair drops no
    rows (the only row filter — null targets — runs after encoding)."""
    cols = [F.col(c) for c in ("weather_main", "weather_description") if c in df.columns]
    # SQL twin of scalar.time_feature_exprs["time_of_day"] (parity-pinned)
    cols.append(
        F.expr(FSQL.time_feature_sql("timestamp")["time_of_day"]).alias("time_of_day")
    )
    if with_city:
        cols.insert(0, F.col("city"))
    return df.select(*cols)


# rows the ONE-job fit may collect (vocab global row + per-(city, main)
# count rows): past this the caller's boundedness assertion is wrong and
# the pipeline falls back to the distributed join/fit composition
_FIT_LITERAL_CAP = 100_000


def _fit_vocabs_and_modes(df: DataFrame):
    """ONE eager bounded job serving BOTH construction-time fits the
    pipeline needs (r12, VERDICT r11 #3): the three categorical
    vocabularies (label_encode's sorted-distinct arrays) AND the per-city
    weather_main mode (handle_missing's imputation table). Previously these
    were one eager fit job plus a mode_per_group subtree executed inside
    every action of the pipeline plan.

    One rollup(city, weather_main) aggregation over the bare fit
    projection: the grand-total row carries the vocab collect_sets, the
    detail rows carry the (city, weather_main) counts the mode derives
    from (tie-break replicated from relational.mode_per_group: highest
    count, then lexicographically smaller value). grouping_id
    distinguishes the two row kinds; the city-subtotal level is filtered
    executor-side.

    Returns (by_col, modes) or (None, None) when a bound trips — any
    vocab over label_encode's literal cap (guard nulls the array
    executor-side, exactly like label_encode) or more collected rows than
    _FIT_LITERAL_CAP (limit applied BEFORE the collect) — and the caller
    falls back to the old composition wholesale."""
    from ..operators.encoding import MAX_LITERAL_VOCAB

    fit = _vocab_fit_frame(df, with_city=True)
    present = [c for c in CATEGORICAL_COLS if c in fit.columns]
    rows = (
        fit.rollup("city", "weather_main")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.grouping_id().alias("_gid"),
            *[
                F.when(
                    F.size(F.array_sort(F.collect_set(F.col(c).cast("string"))))
                    <= MAX_LITERAL_VOCAB,
                    F.array_sort(F.collect_set(F.col(c).cast("string"))),
                ).alias(f"_ks_{c}")
                for c in present
            ],
        )
        # gid 0 = (city, weather_main) detail (mode counts); gid 3 = grand
        # total (vocabs); gid 1 = city subtotals, not needed
        .where(F.expr("_gid").isin(0, 3))
        .limit(_FIT_LITERAL_CAP + 2)
        .collect()
    )
    if len(rows) >= _FIT_LITERAL_CAP + 2:
        return None, None  # truncated: boundedness assertion failed
    by_col: dict = {}
    counts: dict = {}
    for r in rows:
        if r["_gid"] == 3:
            for c in present:
                ks = r[f"_ks_{c}"]
                if ks is None:
                    # over-cap vocab (the when() guard nulled it; an
                    # all-null column lands [] — collect_set skips nulls):
                    # give up the literal path entirely
                    return None, None
                by_col[c] = list(ks)
        elif r["weather_main"] is not None and r["city"] is not None:
            # null-city groups are skipped: a join on city never matches
            # null either, and map literals reject null keys
            counts[(r["city"], r["weather_main"])] = r["_n"]
    modes: dict = {}
    for (city, val), n in counts.items():
        cur = modes.get(city)
        # mode_per_group tie-break: higher count first, then smaller value
        if cur is None or (n, _NegStr(val)) > (cur[1], _NegStr(cur[0])):
            modes[city] = (val, n)
    return by_col, {"weather_main": {c: v for c, (v, _) in modes.items()}}


class _NegStr(str):
    """Inverts string ordering so (count, value) max-comparison reproduces
    mode_per_group's ORDER BY n DESC, value ASC tie-break."""

    def __lt__(self, other):  # pragma: no cover - trivial
        return str.__gt__(self, other)

    def __gt__(self, other):
        return str.__lt__(self, other)


def add_targets(df: DataFrame, horizon: int = 24) -> DataFrame:
    """Targets (reference `data_processor.py:246-270`): temperature_future =
    lead(horizon); temp_change_category bins; will_rain forward flag.
    Two analysis passes (lead+diff read raw columns; the category bin and
    the rain flag read pass 1 / raw) — column order matches the old
    sequential chain exactly."""
    # SQL twins (feature_exprs_sql) — same two analysis passes, ~one py4j
    # round trip per column (r11; parity test-pinned)
    out = df.withColumns(
        {k: F.expr(v) for k, v in FSQL.targets_first_sql(horizon).items()}
    )
    second = FSQL.targets_second_sql(
        horizon, rain_col="rain_1h" if "rain_1h" in df.columns else None
    )
    return out.withColumns({k: F.expr(v) for k, v in second.items()})


def _repaired_features(df: DataFrame, mode_fill: dict | None = None) -> DataFrame:
    """Stages time-features → … → missing-value repair (everything before
    categorical encoding), shared by the two pipeline entry points below.

    All six pre-repair stages read only RAW input columns (the cyclical
    encodings derive from `timestamp` inside the same expression dict, the
    indices/interactions from the raw measurements, the lag/rolling/diff
    windows from the raw measurement columns over the shared city window),
    so they merge into ONE ``withColumns`` — one eager Catalyst analysis
    pass instead of six over a plan that is ~70 columns wide by the end.
    Construction latency is analysis passes, not expression building (r9
    measured: the sequential version spent ~1.3 s per warm construction
    here); values and column order are unchanged."""
    # SQL-string twins of every stage builder (feature_exprs_sql): one
    # F.expr round trip per column instead of the Column-API's ~7.9k py4j
    # calls per fresh-session construction (r11; parity test-pinned, and
    # the pipeline's DuckDB oracle hash pins the composition)
    merged_sql: dict = {}
    merged_sql.update(FSQL.time_feature_sql("timestamp"))
    merged_sql.update(FSQL.lag_sql(LAG_COLS, LAGS))
    merged_sql.update(FSQL.rolling_mean_sql(LAG_COLS, ROLLING_WINDOW))
    merged_sql.update(
        FSQL.rolling_std_sql(LAG_COLS, ROLLING_WINDOW, min_periods=2)
    )
    merged_sql.update(
        FSQL.weather_index_sql(
            temp_max="temp_max" if "temp_max" in df.columns else None,
            temp_min="temp_min" if "temp_min" in df.columns else None,
        )
    )
    merged_sql["pressure_change"] = (
        f"pressure - lag(pressure, 1) OVER ({FSQL.OVER_W})"
    )
    merged_sql.update(
        FSQL.interaction_sql(
            [(a, b) for a, b in INTERACTIONS if a in df.columns and b in df.columns]
        )
    )
    merged = {k: F.expr(v) for k, v in merged_sql.items()}
    return handle_missing_values(df.withColumns(merged), mode_fill=mode_fill)


def full_feature_pipeline(df: DataFrame, horizon: int = 24) -> DataFrame:
    """The reference's end-to-end `process_pipeline` as one lazy plan.
    Input: a weather-shaped table (WEATHER_TABLE_SCHEMA columns).
    Output: ~70 columns, rows with null target dropped.

    Construction runs ONE bounded fit job (:func:`_fit_vocabs_and_modes`)
    serving both the label-encode vocabularies and the per-city mode fill
    as literal maps (r12, VERDICT r11 #3) — the executed plan loses the
    mode_per_group scan+join subtree, and the encode step no longer runs
    its own fit collect. Values are pinned identical to the fallback
    composition (parity test + the pipeline's DuckDB oracle); if any
    boundedness guard trips, the old composition runs wholesale."""
    from ..operators.encoding import apply_vocab_literals

    by_col, modes = _fit_vocabs_and_modes(df)
    if by_col is None:
        out = _repaired_features(df)
        out = encode_categoricals(out, fit_df=_vocab_fit_frame(df))
    else:
        out = _repaired_features(df, mode_fill=modes)
        out = apply_vocab_literals(
            out, {c: by_col[c] for c in CATEGORICAL_COLS if c in by_col}
        )
    out = add_targets(out, horizon)
    return out.where(F.col("temperature_future").isNotNull())


def training_feature_pipeline_unencoded(df: DataFrame, horizon: int = 24) -> DataFrame:
    """``full_feature_pipeline`` minus categorical encoding — for callers
    that cap AND materialize the frame first and then encode the bounded
    result: the label-encode vocab fit (an eager job) then scans the
    materialized cap instead of re-running the whole window pipeline over
    the full table. Encoding neither feeds nor reads target construction,
    so values match ``full_feature_pipeline`` whenever every category
    appears inside the cap (encoded columns land after the targets instead
    of before them)."""
    out = _repaired_features(df)
    out = add_targets(out, horizon)
    return out.where(F.col("temperature_future").isNotNull())


def events_as_weather(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weather-shaped view over the driver's `events` table so
    the full pipeline can run on provided test data (no weather table is
    shipped): city from user_id, measurements derived from value."""
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir)
    # one selectExpr over the SQL-twin projection (rare rain_1h keeps the
    # will_rain label non-degenerate, ~20% positive) — see
    # feature_exprs_sql.events_as_weather_sql for the literal-typing rules
    return ev.selectExpr(*FSQL.events_as_weather_sql())
