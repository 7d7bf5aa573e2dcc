"""Range-join, time-bucket-rollup, and WAV-codec tests (round 5).

The correctness twin of each query lives under the DuckDB oracle
(tools/check.py, registry/timeseries.py); these tests pin the pieces the oracle
cannot see: physical plan shape (the bucket decomposition must plan as
a hash equi-join, never a BroadcastNestedLoopJoin), the exactly-once
guarantee of the overlap join under adversarial bucket widths, the
reaggregation algebra, and the WAV container roundtrip at the bytes
level.
"""

from __future__ import annotations

import contextlib
import io
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from stockpy_spark.operators.multimodal import (
    decode_wav,
    encode_wav,
)
from stockpy_spark.operators.rangejoin import (
    bucketed_range_join,
    choose_bucket_width,
    interval_overlap_join,
)
from stockpy_spark.operators.timeseries import (
    continuous_aggregate,
    reaggregate,
    time_bucket,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _intervals(spark, rows):
    return spark.createDataFrame(rows, "iv_id long, lo double, hi double")


def _facts(spark, values):
    return spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(values)], "f_id long, v double"
    )


def naive_range_join(facts, intervals):
    return facts.join(
        intervals,
        (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")),
        "inner",
    )


def test_bucketed_range_join_matches_naive(spark):
    """Overlapping, nested, empty and point intervals; facts on and off
    every boundary; several bucket widths including pathologically small
    and large — pair sets must equal the naive inequality join's."""
    intervals = _intervals(
        spark,
        [
            (1, 0.0, 10.0),
            (2, 5.0, 15.0),     # overlaps 1
            (3, 6.0, 8.0),      # nested in both
            (4, 20.0, 20.0),    # point interval
            (5, 30.0, 25.0),    # empty (hi < lo) -> no matches
            (6, -7.5, -2.5),    # negative range
        ],
    )
    facts = _facts(spark, [0.0, 5.0, 6.0, 8.0, 10.0, 15.0, 20.0, 25.0, -5.0, -2.5])
    want = {
        (r.f_id, r.iv_id)
        for r in naive_range_join(facts, intervals).collect()
    }
    assert want  # non-degenerate fixture
    for width in (0.7, 5.0, 1000.0):
        got = {
            (r.f_id, r.iv_id)
            for r in bucketed_range_join(
                facts, intervals, "v", "lo", "hi", bucket_width=width
            ).collect()
        }
        assert got == want, f"width={width}"


def test_bucketed_range_join_extra_keys(spark):
    """extra_keys join tenant-style: a fact only matches intervals of
    its own key even when value ranges collide across keys."""
    intervals = spark.createDataFrame(
        [(1, "a", 0.0, 10.0), (2, "b", 0.0, 10.0)],
        "iv_id long, tenant string, lo double, hi double",
    )
    facts = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 5.0), (3, "c", 5.0)],
        "f_id long, tenant string, v double",
    )
    got = {
        (r.f_id, r.iv_id)
        for r in bucketed_range_join(
            facts, intervals, "v", "lo", "hi", 4.0, extra_keys=["tenant"]
        ).collect()
    }
    assert got == {(1, 1), (2, 2)}


def test_auto_bucket_width_adversarial_mixed_lengths(spark):
    """The auto-width path (bucket_width=None) on an adversarial
    mixed-length distribution — lots of tiny intervals plus a few huge
    ones — must still produce exactly the naive join's pair set, and
    the chosen width must track the MEDIAN length (robust to the huge
    outliers that would wreck a mean-based choice)."""
    rows = [(i, float(10 * i), float(10 * i) + 2.0) for i in range(40)]
    rows += [(100 + i, 0.0, 5000.0) for i in range(3)]  # huge outliers
    intervals = _intervals(spark, rows)
    facts = _facts(spark, [1.0, 11.5, 101.0, 399.9, 4999.0, 6000.0])
    want = {(r.f_id, r.iv_id) for r in naive_range_join(facts, intervals).collect()}
    got = {
        (r.f_id, r.iv_id)
        for r in bucketed_range_join(facts, intervals, "v", "lo", "hi").collect()
    }
    assert got == want
    w = choose_bucket_width(intervals, "lo", "hi")
    assert 1.0 <= w <= 10.0  # median-ish, not dragged to 5000 by outliers


def test_auto_bucket_width_degenerate_fallback(spark):
    empty = _intervals(spark, []).limit(0)
    assert choose_bucket_width(empty, "lo", "hi") == 1.0
    points = _intervals(spark, [(1, 5.0, 5.0), (2, 9.0, 9.0)])
    assert choose_bucket_width(points, "lo", "hi") == 1.0


def test_range_join_shared_column_names(spark):
    """Facts and intervals sharing a column name outside extra_keys must
    not raise an ambiguous-reference error; predicate columns are
    qualified to their own side."""
    intervals = spark.createDataFrame(
        [(1, 0.0, 10.0, "iv")], "iv_id long, lo double, hi double, tag string"
    )
    facts = spark.createDataFrame(
        [(1, 5.0, "fc"), (2, 50.0, "fc")], "f_id long, v double, tag string"
    )
    got = {(r.f_id, r.iv_id) for r in
           bucketed_range_join(facts, intervals, "v", "lo", "hi", 4.0).collect()}
    assert got == {(1, 1)}
    left = spark.createDataFrame(
        [(1, 0.0, 10.0, "x")], "l_id long, l_lo double, l_hi double, tag string"
    )
    right = spark.createDataFrame(
        [(9, 5.0, 15.0, "y"), (8, 20.0, 30.0, "y")],
        "r_id long, r_lo double, r_hi double, tag string",
    )
    rows = interval_overlap_join(
        left, right, "l_lo", "l_hi", "r_lo", "r_hi", bucket_width=4.0
    ).collect()
    assert {(r.l_id, r.r_id) for r in rows} == {(1, 9)}


def test_interval_overlap_join_exactly_once(spark):
    """Pairs sharing MANY buckets (long overlapping intervals, tiny
    width) must still appear exactly once — the first-shared-bucket rule
    under maximal duplication pressure."""
    left = spark.createDataFrame(
        [(1, 0.0, 100.0), (2, 50.0, 60.0), (3, 200.0, 300.0)],
        "l_id long, l_lo double, l_hi double",
    )
    right = spark.createDataFrame(
        [(10, 10.0, 90.0), (20, 55.0, 255.0), (30, 400.0, 500.0)],
        "r_id long, r_lo double, r_hi double",
    )
    naive = left.join(
        right,
        (F.col("l_lo") <= F.col("r_hi")) & (F.col("r_lo") <= F.col("l_hi")),
        "inner",
    )
    want = sorted((r.l_id, r.r_id) for r in naive.collect())
    for width in (3.0, 64.0, 10000.0):
        rows = interval_overlap_join(
            left, right, "l_lo", "l_hi", "r_lo", "r_hi", bucket_width=width
        ).collect()
        got = sorted((r.l_id, r.r_id) for r in rows)
        assert got == want, f"width={width} (duplicates or losses)"


def test_range_join_plans_hash_join_not_nested_loop(spark):
    """The whole point of the decomposition: the physical plan must be a
    hash equi-join on the bucket column, never BroadcastNestedLoopJoin,
    and the fact-side parquet scan must stay pruned to the columns the
    query needs."""
    from stockpy_spark.registry import QUERIES

    for name in ("rj1_price_band", "rj2_event_windows", "rj3_promo_overlap"):
        p = plan(QUERIES[name](spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "CartesianProduct" not in p, name
    p = plan(QUERIES["rj1_price_band"](spark, SF_DIR))
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" in read_schema and "l_quantity" in read_schema
    assert "l_shipdate" not in read_schema


def test_time_bucket_grid(spark):
    df = spark.createDataFrame(
        [("2024-01-01 05:59:59",), ("2024-01-01 06:00:00",), ("2024-01-01 11:59:59",)],
        "ts string",
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    got = [r[0] for r in df.select(time_bucket("ts", 21600)).collect()]
    base = 1704067200  # 2024-01-01 00:00:00 UTC
    assert got == [base, base + 21600, base + 21600]


def test_reaggregate_equals_direct_coarse_rollup(spark):
    """Daily-from-6h must equal daily-from-raw exactly: counts and
    min/max bit-identical, sums within float reassociation tolerance."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    fine = continuous_aggregate(ev, "ts", 21600, ["event_type"], "value")
    via_fine = reaggregate(fine, 86400, ["event_type"])
    direct = continuous_aggregate(ev, "ts", 86400, ["event_type"], "value")
    a = {(r.bucket_start, r.event_type): r for r in via_fine.collect()}
    b = {(r.bucket_start, r.event_type): r for r in direct.collect()}
    assert a.keys() == b.keys() and a
    for k in a:
        assert a[k].n == b[k].n
        assert a[k].min_v == b[k].min_v and a[k].max_v == b[k].max_v
        assert a[k].sum_v == pytest.approx(b[k].sum_v, rel=1e-12)
        assert a[k].sumsq_v == pytest.approx(b[k].sumsq_v, rel=1e-12)


def test_reaggregate_non_multiple_grid_raises(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    fine = continuous_aggregate(ev, "ts", 21600, ["event_type"], "value")
    with pytest.raises(ValueError, match="not a multiple"):
        reaggregate(fine, 50000, ["event_type"], fine_width_seconds=21600)
    # multiple passes through unchanged
    reaggregate(fine, 86400, ["event_type"], fine_width_seconds=21600)


def test_wav_roundtrip_bytes_level():
    rng = np.random.default_rng(7)
    samples = rng.integers(-32768, 32767, size=441, dtype=np.int16)
    payload = encode_wav(samples, 44100)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    decoded, rate = decode_wav(payload)
    assert rate == 44100
    assert np.array_equal(decoded, samples)


def test_wav_decode_handles_stereo():
    # round 9 widened the codec: interleaved stereo now decodes into
    # (n_frames, n_channels) instead of raising (the old mono-only
    # contract survives unchanged for 1-channel payloads)
    import io as _io
    import wave as _wave

    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x01\x00\x02\x00" * 16)  # L=1, R=2 per frame
    samples, rate = decode_wav(buf.getvalue())
    assert samples.shape == (16, 2) and rate == 8000
    assert (samples[:, 0] == 1).all() and (samples[:, 1] == 2).all()


def test_gap_fill_locf_carries_and_leading_nulls(spark):
    from stockpy_spark.operators.timeseries import gap_fill_locf

    rows = [
        # user 1: days 0 and 2 observed; day 1 must carry 10.0
        (1, "2024-01-01 10:00:00", 1, 10.0),
        (2, "2024-01-03 09:00:00", 1, 30.0),
        # user 2: only day 1 observed -> day 0 NULL, day 2 carries
        (3, "2024-01-02 12:00:00", 2, 99.0),
        # same-timestamp tie on user 2 day 1: higher event_id wins
        (4, "2024-01-02 12:00:00", 2, 77.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = gap_fill_locf(df, "user_id", "ts", "value", "event_id")
    got = {(r.user_id, r.bucket_start): r.locf for r in out.collect()}
    d0 = 1704067200  # 2024-01-01 UTC
    day = 86400
    assert got[(1, d0)] == 10.0
    assert got[(1, d0 + day)] == 10.0      # gap carried
    assert got[(1, d0 + 2 * day)] == 30.0
    assert got[(2, d0)] is None            # before first observation
    assert got[(2, d0 + day)] == 77.0      # tiebreak: event_id 4 wins
    assert got[(2, d0 + 2 * day)] == 77.0
    assert len(got) == 6                   # 2 users x 3 observed days


def test_hopping_window_rollup_fanout_and_coverage(spark):
    from stockpy_spark.operators.timeseries import hopping_window_rollup

    df = spark.createDataFrame(
        [(1, "2024-01-01 05:00:00", 2.0)], "id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = hopping_window_rollup(df, "ts", 6 * 3600, 2 * 3600, [], "value")
    rows = sorted(r.window_start for r in out.collect())
    base = 1704067200  # 2024-01-01 00:00 UTC; event at 05:00 anchors to 04:00
    # covering 6h windows sliding 2h: starts 00:00, 02:00, 04:00
    assert rows == [base, base + 7200, base + 14400]
    assert all(r.n == 1 and r.sum_v == 2.0 for r in out.collect())
    with pytest.raises(ValueError, match="multiple"):
        hopping_window_rollup(df, "ts", 6 * 3600, 2500, [], "value")


def test_rolling_fingerprint_matches_pure_python(spark):
    from stockpy_spark.functions.text import (
        ROLLING_B,
        ROLLING_P,
        fingerprint_rolling,
    )

    texts = ["hello world", "", "a", "éàü unicode", "x" * 300]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {
        r.i: r.h
        for r in df.select("i", fingerprint_rolling("t").alias("h")).collect()
    }

    def py_hash(s: str) -> int:
        acc = 0
        for ch in s[:256]:
            acc = (acc * ROLLING_B + ord(ch)) % ROLLING_P
        return acc

    for i, t in enumerate(texts):
        assert got[i] == py_hash(t), repr(t)


def test_seasonal_outlier_counts_distinguishes_phase(spark):
    """A value normal for ITS phase but abnormal globally is NOT an
    outlier; a value abnormal for its phase is — the screen a raw
    z-score cannot express."""
    from datetime import datetime, timedelta

    from stockpy_spark.operators.timeseries import seasonal_outlier_counts

    base = datetime(2024, 1, 1)  # Monday 00:00 UTC
    rows = []
    # phase 0 (hour 0 of week): always ~100; phase 1: always ~1
    for wk in range(6):
        rows.append(("k", base + timedelta(weeks=wk), 100.0))
        rows.append(("k", base + timedelta(weeks=wk, hours=1), 1.0))
    # one event at phase 1 with value 100: normal globally-ish, wildly
    # abnormal FOR ITS PHASE
    rows.append(("k", base + timedelta(weeks=6, hours=1), 100.0))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = {(r.phase): r for r in seasonal_outlier_counts(
        df, "ts", "value", "event_type", n_sigma=1.0).collect()}
    # phases anchor to the epoch grid: Monday 00:00 UTC is hour-of-week
    # 96 (1970-01-01 was a Thursday), the next hour 97
    p0 = int(base.timestamp()) // 3600 % 168
    assert out[p0].n_outliers == 0         # the 100s are their phase's norm
    assert out[p0 + 1].n_outliers == 1     # the stray 100 at phase p0+1
    assert out[p0 + 1].n == 7 and out[p0].n == 6


def test_seasonal_outlier_counts_singleton_key_zero_not_null(spark):
    """A key with exactly one row has NULL stddev_samp; the outlier
    predicate is then NULL per row and an uncoalesced SUM would return
    NULL n_outliers — the DuckDB oracle's CASE WHEN .. ELSE 0 says 0.
    (round-8 ADVICE: latent driver red on a regenerated fixture)."""
    from datetime import datetime, timedelta

    from stockpy_spark.operators.timeseries import seasonal_outlier_counts

    base = datetime(2024, 1, 1)
    rows = [("solo", base, 42.0)]                    # singleton key
    for wk in range(3):                              # plus a normal key
        rows.append(("k", base + timedelta(weeks=wk), 10.0))
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double"
    )
    out = {r.event_type: r for r in seasonal_outlier_counts(
        df, "ts", "value", "event_type").collect()}
    assert out["solo"].n_outliers == 0               # NOT None
    assert out["solo"].n == 1
    assert out["k"].n_outliers == 0


def test_acf_hand_computed_and_short_series(spark):
    """Pins autocorrelation_by_key (operators/timeseries.py): a
    strictly alternating series has acf_1 near -1 and acf_2 near +1,
    a 2-point series supports only lag 1, a 1-point series supports
    none, and timestamp ties pair by the tiebreak column."""
    from datetime import datetime, timedelta, timezone

    from stockpy_spark.operators.timeseries import autocorrelation_by_key

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc).replace(tzinfo=None)
    ts = lambda s: t0 + timedelta(seconds=s)
    rows = []
    # user 1: alternating +1/-1 x 8
    for i in range(8):
        rows.append((100 + i, ts(i), 1, 1.0 if i % 2 == 0 else -1.0))
    # user 2: two points; user 3: one point
    rows += [(201, ts(0), 2, 5.0), (202, ts(1), 2, 7.0), (301, ts(0), 3, 9.0)]
    # user 4: a timestamp TIE — tiebreak (event_id) orders 401 before 402
    rows += [(401, ts(0), 4, 1.0), (402, ts(0), 4, 2.0), (403, ts(1), 4, 1.0)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    out = {
        r["user_id"]: r
        for r in autocorrelation_by_key(
            ev, "user_id", "ts", "value", "event_id"
        ).collect()
    }
    # alternating series: strong negative lag-1, strong positive lag-2
    assert out[1]["acf_1"] < -0.8 and out[1]["acf_2"] > 0.7
    assert out[2]["acf_1"] is not None and out[2]["acf_2"] is None
    assert out[3]["acf_1"] is None
    # tie ordering: sequence is 1, 2, 1 -> lag-1 pairs (1,2), (2,1);
    # xbar = 4/3; hand compute r1 = ((1-m)(2-m)+(2-m)(1-m))/denominator
    m = 4.0 / 3.0
    num = 2 * (1 - m) * (2 - m)
    den = 2 * (1 - m) ** 2 + (2 - m) ** 2
    assert abs(out[4]["acf_1"] - num / den) < 1e-6


def test_kde_grid_hand_computed(spark):
    """Pins the KDE arithmetic (operators/stats.py kde_grid) on a
    2-point dataset with a tiny grid: grid bounds are the integer
    floor/ceil of the data range, each density is the hand-computed
    Gaussian sum, and mass concentrates at the data points."""
    import math

    from stockpy_spark.operators.stats import kde_grid

    df = spark.createDataFrame([(0.5,), (9.5,)], "value double")
    out = {
        r["grid_idx"]: r
        for r in kde_grid(df, "value", n_grid=5, bandwidth=2.0).collect()
    }
    # bounds: floor(0.5)=0, ceil(9.5)=10 -> grid 0, 2.5, 5, 7.5, 10
    assert [round(out[i]["grid_value"], 6) for i in range(5)] == [
        0.0, 2.5, 5.0, 7.5, 10.0,
    ]
    norm = 1.0 / (2.0 * math.sqrt(2.0 * math.pi))
    for i, g in enumerate([0.0, 2.5, 5.0, 7.5, 10.0]):
        expect = norm * sum(
            math.exp(-(((g - x) / 2.0) ** 2) / 2.0) for x in (0.5, 9.5)
        ) / 2.0
        assert abs(out[i]["density"] - expect) < 1e-6
    # symmetry of the two-point set: edges denser than the middle
    assert out[0]["density"] > out[2]["density"] < out[4]["density"]


def test_spearman_ranks_ties_and_monotone(spark):
    """Pins spearman_corr_pairs (operators/stats.py): a strictly
    monotone nonlinear pair scores exactly 1.0 (where Pearson would
    not), reversing order scores -1.0, and ties get textbook average
    ranks (hand-computed)."""
    from stockpy_spark.operators.stats import spearman_corr_pairs

    rows = [(1.0, 1.0, 7.0), (2.0, 8.0, 5.0), (3.0, 27.0, 5.0), (4.0, 64.0, 1.0)]
    df = spark.createDataFrame(rows, "a double, b double, c double")
    out = {
        (r["col_x"], r["col_y"]): r["spearman"]
        for r in spearman_corr_pairs(df, ["a", "b", "c"]).collect()
    }
    assert out[("a", "b")] == 1.0  # monotone cube: rank-perfect
    # c ranks: 7->4, 5->tie avg 2.5, 5->2.5, 1->1 vs a ranks 1,2,3,4
    # hand Pearson over ranks:
    x = [1.0, 2.0, 3.0, 4.0]
    y = [4.0, 2.5, 2.5, 1.0]
    n = 4
    sx, sy = sum(x), sum(y)
    sxy = sum(i * j for i, j in zip(x, y))
    ssx = sum(i * i for i in x)
    ssy = sum(j * j for j in y)
    import math

    expect = round(
        (sxy - sx * sy / n)
        / math.sqrt((ssx - sx * sx / n) * (ssy - sy * sy / n)),
        6,
    )
    assert out[("a", "c")] == expect and expect < 0
