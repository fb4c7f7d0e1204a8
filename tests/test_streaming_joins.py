"""Time-range attribution join (streaming/joins.py): window-boundary
semantics on designed rows. Values at scale are pinned cross-engine by
the ``events_attribution`` oracle."""

from datetime import datetime, timedelta

from deepex_spark.streaming.joins import attribute_conversions

SCHEMA = "event_id long, ts timestamp_ntz, user_id long"
T0 = datetime(2024, 1, 1, 12, 0, 0)


def _m(minutes=0, seconds=0, micros=0):
    return T0 + timedelta(minutes=minutes, seconds=seconds, microseconds=micros)


IMPRESSIONS = [
    (1, _m(0), 1),          # matches conv 101 (same instant) and 102 (+29m)
    (2, _m(5), 1),          # matches conv 102
    (3, _m(0), 2),          # conv 103 is exactly 30m later -> expired (strict >)
    (4, _m(0, 0, 1), 2),    # 1us inside the window -> matches 103
    (5, _m(50), 3),         # no conversion for user 3
]
CONVERSIONS = [
    (101, _m(0), 1),
    (102, _m(29), 1),
    (103, _m(30), 2),
    (104, _m(10), 99),      # no impression for user 99
]
EXPECTED = {(1, 101), (1, 102), (2, 102), (4, 103)}


def _batch(spark):
    return attribute_conversions(
        spark.createDataFrame(IMPRESSIONS, SCHEMA),
        spark.createDataFrame(CONVERSIONS, SCHEMA),
        window="30 minutes",
    )


def test_batch_window_boundaries(spark):
    got = {(r["imp_event_id"], r["conv_event_id"]) for r in _batch(spark).collect()}
    assert got == EXPECTED
