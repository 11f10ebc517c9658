"""The warehouse row assembler — one wide row per bucket, the reference's
``stock_data_joined`` + ``join_statement`` analog (create_database.py:
69-190, 240-258), and the engine's equivalent of its whole dataflow
(SURVEY.md §3.1-3.2) in one batch plan:

    5 pseudo-feeds (split from ``events`` by event_type)
      → per-bucket feed aggregation                (F10 + producer cadence)
      → order-book depth + features from the deep snapshot (F2-F7)
      → 5-way equi-join on the bucket              (J1/J2 assembly)
      → candle + calendar features                 (F1, F8-F9)
      → W1-W8 indicator suite + forward targets    (the 8 MariaDB views)
      → fillna(0)                                  (P4)

One assembler, two widths. Every feed is a column → aggregate-SQL fragment
dict that Spark (``F.expr``) and the DuckDB oracle read VERBATIM, so
``warehouse_row`` (engine) and ``warehouse_row_sql`` (oracle) are the
only two copies of the chain. A width is a choice of COT/indicator
fragments plus a final projection:

* ``bars_joined`` (here) — narrow COT/indicator summaries, 44 columns;
* ``full_row`` (plans/full_row.py) — the schema-registry fragments,
  117 feature columns.

The projection keeps or prunes the depth columns; column pruning drops
what a width does not select from the plan.

Scale shape: each feed is one partial-aggregatable groupBy on the bucket
key (one shuffle per feed); the joins are equi-joins on that same key,
so AQE co-locates them; the window suite is the only ordered stage. With
``group_cols`` every feed, join and window is keyed by the series too
(the partitioned-scale path, SURVEY.md §7.3); without, the single
unpartitioned series the MariaDB views define (reference parity).

The 6-hour bucket (vs the reference's 5 minutes) matches the driver
data's event density so every feed has rows in most buckets; the
operator chain is bucket-size-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from financial_market_data_analysis_spark.functions import features as FE
from financial_market_data_analysis_spark.operators.windows import indicator_suite
from financial_market_data_analysis_spark.plans.book import book_from_events, book_oracle_cte
from financial_market_data_analysis_spark.plans.candles import time_bucket_us
from financial_market_data_analysis_spark.sources.batch import load_table

PIPELINE_BUCKET_SECONDS = 21_600  # 6 h — see module docstring
N_SYMBOLS = 4  # synthetic series count for the partitioned-scale variant

# column → aggregate-SQL fragment, per feed. The deep feed keeps a
# representative snapshot per bucket (earliest event); the synthetic
# 7-level book is derived from it.
_DEEP = {
    "event_id": "min(event_id)",
    "value": "min_by(value, event_id)",
    "user_id": "min_by(user_id, event_id)",
}
_CANDLE = {
    "open": "min_by(value, event_id)",
    "high": "max(value)",
    "low": "min(value)",
    "close": "max_by(value, event_id)",
    "volume": "count(*)",
}
_VIX = {"vix": "min_by(value, event_id)"}
# bars_joined's one-column summaries of the COT and indicator feeds
_COT = {"cot_pos": "min_by(value, event_id)", "cot_chg": "avg(value)"}
_IND = {"ind_actual": "sum(value)", "ind_count": "count(*)"}


def _feeds(cot: dict[str, str], ind: dict[str, str]) -> dict[str, tuple[str, dict[str, str]]]:
    """feed → (the ``events.event_type`` it is split from, fragments)."""
    return {
        "deep": ("purchase", _DEEP),
        "candle": ("click", _CANDLE),
        "vix": ("view", _VIX),
        "cot": ("signup", cot),
        "ind": ("error", ind),
    }


BOOK_SIZE_COLS = [f"{s}_{i}_size" for s in ("bid", "ask") for i in range(7)]
BOOK_REL_COLS = [f"{s}_{i}" for s in ("bid", "ask") for i in range(1, 7)]
BOOK_FEAT_COLS = [
    "bids_ord_WA", "asks_ord_WA", "vol_imbalance", "delta", "micro_price", "spread",
]
CANDLE_COLS = [
    "open", "high", "low", "close", "volume",
    "candle_size", "wick_size", "wick_prct",
]
CAL_COLS = [
    "day_of_week", "week_of_month", "session_start",
    "day_1", "day_2", "day_3", "day_4",
    "week_1", "week_2", "week_3", "week_4",
]
WINDOW_COLS = [
    "vol_MA6", "vol_MA20", "price_MA20", "delta_MA12",
    "upper_BB_dist", "lower_BB_dist", "stoch", "price_change", "ATR",
]
TARGET_COLS = ["up1", "down1", "up2", "down2"]

BARS_JOINED_COLS = (
    ["bucket_start"]
    + CANDLE_COLS
    + BOOK_FEAT_COLS
    + ["vix", *_COT, *_IND]
    + CAL_COLS
    + WINDOW_COLS
    + TARGET_COLS
)


def _wide_feed(
    events: DataFrame,
    event_type: str,
    frags: dict[str, str],
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One groupBy per feed: every column is an aggregate fragment, so
    the whole block is a single partial-aggregatable shuffle on the
    bucket key (prefixed by ``group_cols`` series keys on the
    partitioned-scale path)."""
    b = time_bucket_us("ts_us", PIPELINE_BUCKET_SECONDS).alias("bucket_start")
    keys = [F.col(c) for c in group_cols] + [b]
    return (
        events.filter(F.col("event_type") == event_type)
        .groupBy(*keys)
        .agg(*[F.expr(frag).alias(name) for name, frag in frags.items()])
    )


def warehouse_row(
    spark: SparkSession,
    sf_dir: str,
    cot: dict[str, str],
    ind: dict[str, str],
    cols: list[str],
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The assembled warehouse row, projected to ``cols``: the COT and
    indicator feeds aggregate with ``cot`` / ``ind`` fragments.

    With ``group_cols`` every feed aggregates per (series, bucket), the
    five feed joins co-key on (series, bucket), and the W1-W8 window
    stage partitions by the series keys — no global single-partition
    sort anywhere in the plan (asserted by tests/test_scale.py)."""
    ev = load_table(spark, "events", sf_dir)
    if group_cols:
        # synthetic series key: events split into N_SYMBOLS series
        ev = ev.withColumn(
            "symbol", (F.col("user_id") % N_SYMBOLS).cast("int")
        )
    g = list(group_cols)
    keys = g + ["bucket_start"]
    feeds = {
        name: _wide_feed(ev, event_type, frags, group_cols)
        for name, (event_type, frags) in _feeds(cot, ind).items()
    }

    # order book: snapshot per bucket → 7-level book → features + depth
    deep = feeds["deep"]
    book = book_from_events(
        deep.withColumns(
            {
                "ts": F.timestamp_seconds("bucket_start"),
                "ts_us": F.col("bucket_start") * 1_000_000,
            }
        )
    ).drop("ts", "ts_us")
    # event_id is unique per (series, bucket) snapshot, so the join key
    # stays event_id alone; the series key rides along from the deep side
    book = deep.select(*keys, "event_id").join(book, "event_id")
    for side in ("bid", "ask"):
        book = FE.book_weighted_average(book, side)
    book = FE.order_volume_imbalance(book)
    book = FE.delta_indicator(book)
    book = FE.micro_price(book)
    book = FE.bid_ask_spread(book)
    book = FE.relative_price_levels(book)
    deep_wide = book.select(
        *keys, *BOOK_SIZE_COLS, *BOOK_REL_COLS, *BOOK_FEAT_COLS
    )

    bars = (
        FE.wick_features(feeds["candle"])
        .join(deep_wide, keys)
        .join(feeds["vix"], keys)
        .join(feeds["cot"], keys)
        .join(feeds["ind"], keys)
    )
    bars = FE.one_hot_calendar(
        FE.calendar_features(
            bars.withColumn("ts", F.timestamp_seconds("bucket_start"))
        )
    ).drop("ts")
    bars = indicator_suite(
        bars, ["bucket_start"], partition_cols=g, delta_col="delta"
    )
    return bars.select(*g, *cols).na.fill(0)


def bars_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 44-column warehouse row: candle, book features, VIX, one-column
    COT/indicator summaries, calendar, W1-W8."""
    return warehouse_row(spark, sf_dir, _COT, _IND, BARS_JOINED_COLS)


# ---------------------------------------------------------------------------
# DuckDB oracle — generated from the SAME fragments


def _wide_feed_sql(
    event_type: str,
    frags: dict[str, str],
    bkt: str,
    sym: str = "",
    grp: str = "GROUP BY 1",
) -> str:
    cols = ",\n                   ".join(
        f"{frag} AS {name}" for name, frag in frags.items()
    )
    return (
        f"SELECT {bkt} AS bucket_start,\n                   {sym}{cols}\n"
        f"            FROM events WHERE event_type = '{event_type}' {grp}"
    )


def _wa_sql(side: str, levels: int = 7) -> str:
    num = " + ".join(
        f"COALESCE(({side}_0 - {side}_{i}) * {side}_{i}_size, 0)" for i in range(levels)
    )
    den = " + ".join(f"COALESCE({side}_{i}_size, 0)" for i in range(levels))
    return f"(({num}) / ({den}))"


def warehouse_row_sql(
    cot: dict[str, str],
    ind: dict[str, str],
    cols: list[str],
    partitioned: bool = False,
) -> str:
    """DuckDB mirror of ``warehouse_row``, CTE for stage.
    ``partitioned=True`` mirrors ``group_cols=("symbol",)``: every feed
    aggregates per (symbol, bucket), joins co-key on both, and every
    window adds PARTITION BY symbol."""
    bs = PIPELINE_BUCKET_SECONDS
    bkt = f"CAST(epoch(time_bucket(INTERVAL '{bs} seconds', ts)) AS BIGINT)"
    book_inner = book_oracle_cte().replace(
        "FROM events",
        "FROM (SELECT *, make_timestamp(bucket_start * 1000000) AS ts FROM deep) s",
    )
    asks = " + ".join(f"COALESCE(ask_{i}_size, 0)" for i in range(7))
    bids = " + ".join(f"COALESCE(bid_{i}_size, 0)" for i in range(7))
    imb = "(bid_0_size / (bid_0_size + ask_0_size))"
    rel = ",\n                ".join(
        f"CASE WHEN {s}_{i} <> 0 THEN {s}_0 - {s}_{i} ELSE 0 END AS {s}_{i}"
        for s in ("bid", "ask")
        for i in range(1, 7)
    )
    sizes = ", ".join(BOOK_SIZE_COLS)
    # partitioned-variant splices: a symbol projection + group key in
    # every feed, a co-key join, and PARTITION BY in every window
    sym = f"CAST(user_id % {N_SYMBOLS} AS INT) AS symbol,\n                   " if partitioned else ""
    grp = "GROUP BY 1, 2" if partitioned else "GROUP BY 1"
    key = "symbol, " if partitioned else ""
    using = f"USING ({key}bucket_start)"
    part = "PARTITION BY symbol " if partitioned else ""
    feeds = ",\n        ".join(
        f"{name} AS (\n            {_wide_feed_sql(event_type, frags, bkt, sym, grp)}\n        )"
        for name, (event_type, frags) in _feeds(cot, ind).items()
    )
    final = ",\n               ".join(
        [key + "bucket_start"] + [f"COALESCE({c}, 0) AS {c}" for c in cols if c != "bucket_start"]
    )
    return f"""
        WITH {feeds},
        book AS (
            SELECT b.*, d.bucket_start{", d.symbol" if partitioned else ""}
            FROM ({book_inner}) b
            JOIN deep d ON b.event_id = d.event_id
        ),
        deep_wide AS (
            SELECT {key}bucket_start, {sizes},
                {rel},
                {_wa_sql("bid")} AS bids_ord_WA,
                {_wa_sql("ask")} AS asks_ord_WA,
                (bid_0_size - ask_0_size) / (bid_0_size + ask_0_size) AS vol_imbalance,
                ({asks}) - ({bids}) AS delta,
                {imb} * ask_0 + (1 - {imb}) * bid_0 AS micro_price,
                CASE WHEN bid_0 <> 0 AND ask_0 <> 0 THEN bid_0 - ask_0
                     ELSE 0 END AS spread
            FROM book
        ),
        bars AS (
            SELECT {"c.symbol, " if partitioned else ""}c.bucket_start,
                   c.open, c.high, c.low, c.close, c.volume,
                   c.high - c.low AS candle_size,
                   CASE WHEN c.close >= c.open THEN c.high - c.close
                        ELSE c.low - c.close END AS wick_size,
                   (CASE WHEN c.close >= c.open THEN c.high - c.close
                         ELSE c.low - c.close END) / (c.high - c.low) AS wick_prct,
                   d.* EXCLUDE ({key}bucket_start),
                   v.* EXCLUDE ({key}bucket_start),
                   t.* EXCLUDE ({key}bucket_start),
                   i.* EXCLUDE ({key}bucket_start)
            FROM candle c
            JOIN deep_wide d {using}
            JOIN vix v {using}
            JOIN cot t {using}
            JOIN ind i {using}
        ),
        cal AS (
            SELECT *,
                CAST(isodow(make_timestamp(bucket_start * 1000000)) AS INT)
                    AS day_of_week,
                CAST(ceil(date_part('day', make_timestamp(bucket_start * 1000000))
                     / 7) AS INT) AS week_of_month,
                CASE WHEN hour(make_timestamp(bucket_start * 1000000)) >= 11
                      AND minute(make_timestamp(bucket_start * 1000000)) >= 30
                     THEN 0 ELSE 1 END AS session_start
            FROM bars
        ),
        onehot AS (
            SELECT *,
                CAST(day_of_week = 1 AS INT) AS day_1,
                CAST(day_of_week = 2 AS INT) AS day_2,
                CAST(day_of_week = 3 AS INT) AS day_3,
                CAST(day_of_week = 4 AS INT) AS day_4,
                CAST(week_of_month = 1 AS INT) AS week_1,
                CAST(week_of_month = 2 AS INT) AS week_2,
                CAST(week_of_month = 3 AS INT) AS week_3,
                CAST(week_of_month = 4 AS INT) AS week_4
            FROM cal
        ),
        ind_w AS (
            SELECT *,
                avg(volume) OVER ({part}ORDER BY bucket_start
                    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS vol_MA6,
                avg(volume) OVER ({part}ORDER BY bucket_start
                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vol_MA20,
                avg(delta) OVER ({part}ORDER BY bucket_start
                    ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS delta_MA12,
                avg(close) OVER w20 AS price_MA20,
                (avg(close) OVER w20 + 2 * stddev_pop(close) OVER w20) - close
                    AS upper_BB_dist,
                close - (avg(close) OVER w20 - 2 * stddev_pop(close) OVER w20)
                    AS lower_BB_dist,
                (close - min(close) OVER w15)
                    / (max(close) OVER w15 - min(close) OVER w15) AS stoch,
                close - lag(close, 1) OVER ({part}ORDER BY bucket_start)
                    AS price_change,
                avg(high - low) OVER w15 AS ATR
            FROM onehot
            WINDOW
                w20 AS ({part}ORDER BY bucket_start ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
                w15 AS ({part}ORDER BY bucket_start ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
        ),
        tgt AS (
            SELECT *,
                CASE WHEN lead(close, 8) OVER w >= close + 1.5 * ATR
                     THEN 1 ELSE 0 END AS up1,
                CASE WHEN lead(close, 8) OVER w <= close - 1.5 * ATR
                     THEN 1 ELSE 0 END AS down1,
                CASE WHEN lead(close, 15) OVER w >= close + 3 * ATR
                     THEN 1 ELSE 0 END AS up2,
                CASE WHEN lead(close, 15) OVER w <= close - 3 * ATR
                     THEN 1 ELSE 0 END AS down2
            FROM ind_w
            WINDOW w AS ({part}ORDER BY bucket_start)
        )
        SELECT {final}
        FROM tgt
    """


def bars_joined_oracle() -> str:
    """DuckDB mirror of ``bars_joined``."""
    return warehouse_row_sql(_COT, _IND, BARS_JOINED_COLS)
