"""The FULL-WIDTH warehouse row — the reference's ~109-feature
``stock_data_joined`` point (create_database.py:69-73; SURVEY.md §1.4):
the warehouse row assembler of plans/pipeline.py at its full width, with
the COT and indicator families generated from the real schema registry:

    28 order-book columns (7+7 sizes, 6+6 relative depth prices)
  +  6 book-derived features (F2-F6)
  +  9 candle columns (OHLCV + wick geometry, F1)
  +  1 VIX
  + 12 COT columns           (COT_GROUPS × COT_MEASURES registry)
  + 39 indicator columns     (13 INDICATOR_EVENTS × 3 INDICATOR_VALUES)
  + 11 calendar columns      (F8 + F9 one-hots)
  +  9 window indicators     (W1-W7 views incl. delta_MA12)
  +  4 LEAD targets          (W8)
  → 117 feature columns + the bucket key.

The COT and indicator feeds are synthesized deterministically from the
driver's ``events`` table (the same stand-in strategy as
``book_from_events``): trader groups split the signup feed by a
``user_id`` modulus; each of the 13 calendar events owns the
``user_id % 13`` residue slice of the error feed, with
``actual`` = latest value, ``prev_actual_diff`` = previous − actual
(the reference's orientation quirk, economic_indicators_spider.py:196),
``forc_actual_diff`` = forecast-proxy − actual, NULL → 0 via the
template default (config.py:60-65) / fillna (P4).

The fragments are SQL text used VERBATIM by both engines (``FILTER
(WHERE …)`` clauses, ``min_by``/``max_by``), like every other feed of
the assembler, so the wide row stays hash-checkable end to end: this
module only chooses the fragments and the projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from financial_market_data_analysis_spark.functions.schemas import (
    COT_GROUPS,
    COT_MEASURES,
    INDICATOR_EVENTS,
    INDICATOR_VALUES,
)
from financial_market_data_analysis_spark.plans.pipeline import (
    BOOK_FEAT_COLS,
    BOOK_REL_COLS,
    BOOK_SIZE_COLS,
    CAL_COLS,
    CANDLE_COLS,
    N_SYMBOLS,  # noqa: F401 — re-exported, the partitioned variant's series count
    TARGET_COLS,
    WINDOW_COLS,
    warehouse_row,
    warehouse_row_sql,
)

# trader-group membership predicate: user_id modulus per group
_COT_GROUP_MOD = {"asset": 2, "leveraged": 3}


def cot_agg_fragments() -> dict[str, str]:
    """column → aggregate-SQL fragment for the 12 COT columns, generated
    from the registry (COT_GROUPS × COT_MEASURES → same names as
    ``cot_schema()``'s flattened leaves). Long/short positions split the
    feed by the group's membership predicate."""
    frags: dict[str, str] = {}
    for g in COT_GROUPS:
        m = _COT_GROUP_MOD[g]
        longs = f"user_id % {m} = 0"
        shorts = f"user_id % {m} <> 0"
        tmpl = {
            "long_pos": f"CAST(count(*) FILTER (WHERE {longs}) AS INT)",
            "short_pos": f"CAST(count(*) FILTER (WHERE {shorts}) AS INT)",
            "long_pos_change": f"sum(value) FILTER (WHERE {longs})",
            "short_pos_change": f"sum(value) FILTER (WHERE {shorts})",
            "long_open_int": f"avg(value) FILTER (WHERE {longs})",
            "short_open_int": f"avg(value) FILTER (WHERE {shorts})",
        }
        for name, _t in COT_MEASURES:
            frags[f"{g}_{name}"] = tmpl[name]
    return frags


def indicator_agg_fragments() -> dict[str, str]:
    """column → aggregate-SQL fragment for the 39 indicator columns
    (13 INDICATOR_EVENTS × INDICATOR_VALUES, names identical to
    ``indicator_schema()``'s flattened leaves). Event j owns the
    ``user_id % 13 = j`` slice of the feed."""
    n = len(INDICATOR_EVENTS)
    frags: dict[str, str] = {}
    for j, ev in enumerate(INDICATOR_EVENTS):
        w = f"FILTER (WHERE user_id % {n} = {j})"
        actual = f"max_by(value, event_id) {w}"
        prev = f"min_by(value, event_id) {w}"
        tmpl = {
            "actual": actual,
            # previous − actual (NOT actual − previous): the reference's
            # orientation, economic_indicators_spider.py:196
            "prev_actual_diff": f"{prev} - {actual}",
            "forc_actual_diff": f"avg(value) {w} - {actual}",
        }
        for v in INDICATOR_VALUES:
            frags[f"{ev}_{v}"] = tmpl[v]
    return frags


COT_COLS = [f"{g}_{m}" for g in COT_GROUPS for m, _t in COT_MEASURES]
IND_COLS = [f"{e}_{v}" for e in INDICATOR_EVENTS for v in INDICATOR_VALUES]

FULL_ROW_COLS = (
    ["bucket_start", "vix"]
    + CANDLE_COLS
    + BOOK_SIZE_COLS
    + BOOK_REL_COLS
    + BOOK_FEAT_COLS
    + COT_COLS
    + IND_COLS
    + CAL_COLS
    + WINDOW_COLS
    + TARGET_COLS
)


def full_row(
    spark: SparkSession, sf_dir: str, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """The assembled full-width warehouse row (117 feature columns).

    ``group_cols`` selects the partitioned-scale path (SURVEY.md §7.3,
    see ``warehouse_row``); the reference-parity default (no groups)
    keeps the single unpartitioned series the MariaDB views define."""
    return warehouse_row(
        spark, sf_dir, cot_agg_fragments(), indicator_agg_fragments(),
        FULL_ROW_COLS, group_cols,
    )


def full_row_oracle(partitioned: bool = False) -> str:
    """DuckDB mirror of ``full_row``; ``partitioned=True`` mirrors the
    ``group_cols=("symbol",)`` variant."""
    return warehouse_row_sql(
        cot_agg_fragments(), indicator_agg_fragments(), FULL_ROW_COLS, partitioned
    )
