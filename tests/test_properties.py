"""Property-based tests (hypothesis) for the ingest-pipeline invariants —
the properties hold for ANY input, not just the fixtures."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from go_pulsar_elasticsearch_spark.ingest.pipeline import (
    dlq_split,
    upsert_last_write_wins,
)

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.sampled_from(["k1", "k2", "k3"]),          # key
        st.integers(min_value=0, max_value=10_000),    # ts millis
        st.integers(min_value=0, max_value=1_000_000), # unique-ish payload
    ),
    min_size=1,
    max_size=25,
)


@given(rows=rows_strategy)
@_SETTINGS
def test_upsert_keeps_exactly_one_row_per_key_and_it_is_maximal(spark, rows):
    df = spark.createDataFrame(rows, "uuid string, ts long, payload long")
    out = upsert_last_write_wins(df, ["uuid"], "ts", "payload").collect()
    # exactly one row per distinct key
    keys = [r["uuid"] for r in out]
    assert sorted(keys) == sorted({k for k, _, _ in rows})
    # the kept row is maximal under (ts, payload) for its key
    for r in out:
        candidates = [(t_, p) for k, t_, p in rows if k == r["uuid"]]
        assert (r["ts"], r["payload"]) == max(candidates)


@given(rows=rows_strategy, threshold=st.integers(min_value=0, max_value=10_000))
@_SETTINGS
def test_dlq_split_is_a_partition(spark, rows, threshold):
    df = spark.createDataFrame(rows, "uuid string, ts long, payload long")
    main_df, dlq_df = dlq_split(df, F.col("ts") >= threshold)
    n_main, n_dlq = main_df.count(), dlq_df.count()
    assert n_main + n_dlq == len(rows)
    assert all(r["ts"] >= threshold for r in main_df.collect())
    assert all(r["ts"] < threshold for r in dlq_df.collect())


@given(
    values=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1,
        max_size=30,
    )
)
@_SETTINGS
def test_decimal_sum_is_order_independent(spark, values):
    """The exactness core: dsum must not depend on row order/partitioning."""
    from go_pulsar_elasticsearch_spark.functions.exact import dsum

    df1 = spark.createDataFrame([(v,) for v in values], "x double").repartition(7)
    df2 = spark.createDataFrame([(v,) for v in reversed(values)], "x double").coalesce(1)
    s1 = df1.agg(dsum("x").alias("s")).collect()[0]["s"]
    s2 = df2.agg(dsum("x").alias("s")).collect()[0]["s"]
    assert s1 == s2  # bit-identical, not approx


def test_interp_linear_lies_between_neighbors(spark, sf_dir):
    """Interpolated points must lie within [min(prev, next), max(prev,
    next)] — the defining property a ffill can't satisfy — and observed
    hours must pass through unchanged."""
    from pyspark.sql import functions as F

    from go_pulsar_elasticsearch_spark.operators.timeseries import interp_linear

    from go_pulsar_elasticsearch_spark.catalog import t as load_t

    out = interp_linear(spark, sf_dir).filter(F.col("value_interp").isNotNull())
    observed = (
        load_t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("user_id", F.date_trunc("hour", "ts").alias("hour"))
        .distinct()
        .withColumn("is_obs", F.lit(True))
    )
    w_back = "PARTITION BY user_id ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    w_fwd = "PARTITION BY user_id ORDER BY hour ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING"
    probed = (
        out.join(observed, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            "value_interp",
            "is_obs",
            F.expr(f"last_value(value_interp) IGNORE NULLS OVER ({w_back})").alias("pv"),
            F.expr(f"first_value(value_interp) IGNORE NULLS OVER ({w_fwd})").alias("nv"),
        )
        # only INTERPOLATED rows: observed points are genuine local
        # extrema and may exceed both neighbors
        .filter(
            F.col("is_obs").isNull()
            & F.col("pv").isNotNull()
            & F.col("nv").isNotNull()
        )
    )
    eps = 1e-9
    bad = probed.filter(
        (F.col("value_interp") < F.least("pv", "nv") - eps)
        | (F.col("value_interp") > F.greatest("pv", "nv") + eps)
    ).count()
    assert bad == 0
    assert probed.count() > 0


def test_rolling_p90_bounds(spark, sf_dir):
    """p90 of a trailing window is >= the row's own value 90% of the
    frame positions... concretely: p90 is within [min, max] of the frame
    and >= the frame median."""
    from pyspark.sql import functions as F

    from go_pulsar_elasticsearch_spark.operators.timeseries import rolling_p90
    from go_pulsar_elasticsearch_spark.catalog import t as load_t

    out = rolling_p90(spark, sf_dir)
    ev = load_t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    frame = "PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 8 PRECEDING AND CURRENT ROW"
    bounds = ev.select(
        "user_id",
        "ts",
        F.expr(f"min(value) OVER ({frame})").alias("lo"),
        F.expr(f"max(value) OVER ({frame})").alias("hi"),
    )
    joined = out.join(bounds, ["user_id", "ts"])
    bad = joined.filter(
        (F.col("p90") < F.col("lo")) | (F.col("p90") > F.col("hi"))
    ).count()
    assert bad == 0


def test_dsum_wide_survives_long_overflow_magnitude(spark):
    """Regression: the scaled-long fast path wraps when |SUM|*10^scale
    exceeds 2^63 (SUM(price^2) at sf0.1 is 2.2e19 scaled).  wide=True
    must route to the decimal accumulator and return the exact total."""
    from decimal import Decimal

    from go_pulsar_elasticsearch_spark.functions.exact import dsum

    # 2000 rows of 1e15-magnitude values: scaled total 2e19 > 2^63
    v = 1.0e15
    df = spark.createDataFrame([(v,) for _ in range(2000)], "x double").repartition(5)
    expect = float(sum([Decimal(v).quantize(Decimal("0.0001"))] * 2000))
    got = df.agg(dsum("x", 4, 38, 0, wide=True).alias("s")).collect()[0]["s"]
    assert got == expect
    # and the long path at sane magnitudes still agrees with wide
    df2 = spark.createDataFrame([(float(i) / 7,) for i in range(500)], "x double")
    a = df2.agg(dsum("x", 4, 18, 2).alias("s")).collect()[0]["s"]
    b = df2.agg(dsum("x", 4, 18, 2, wide=True).alias("s")).collect()[0]["s"]
    assert a == b


def test_dsum_out_scale_clamped_to_scale(spark):
    """Regression: out_scale > scale must behave as "no extra rounding"
    (SUMD semantics), not shift the long-path result by 10^(out-scale)."""
    from go_pulsar_elasticsearch_spark.functions.exact import dsum

    df = spark.createDataFrame([(1.25,), (2.25,)], "x double")
    got = df.agg(dsum("x", 2, 18, 6).alias("s")).collect()[0]["s"]
    assert got == 3.5


def test_cache_slot_bounds_live_frames(spark):
    """cache_slot keeps at most ONE cached frame per key: re-caching
    under the same key unpersists the previous occupant (the former
    .persist() leak), and unpersisting never breaks an old plan — it
    just recomputes."""
    from go_pulsar_elasticsearch_spark.functions.caching import (
        _slots,
        cache_slot,
        release_slot,
    )

    df1 = cache_slot("_test_slot", spark.range(10))
    assert df1.count() == 10  # materialize into the cache
    assert df1.storageLevel.useMemory or df1.storageLevel.useDisk
    df2 = cache_slot("_test_slot", spark.range(20))
    assert df2.count() == 20
    # old frame is uncached but still computable
    assert not df1.storageLevel.useMemory and not df1.storageLevel.useDisk
    assert df1.count() == 10
    assert _slots["_test_slot"] is df2
    release_slot("_test_slot")
    assert "_test_slot" not in _slots
    assert not df2.storageLevel.useMemory and not df2.storageLevel.useDisk


_avro_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=200
)
_avro_record = st.fixed_dictionaries(
    {
        "identifier": _avro_text,
        "name": _avro_text,
        "uuid": _avro_text,
        "type": _avro_text,
        "ingestion_time": st.integers(min_value=-(2**63), max_value=2**63 - 1),
        "tags": st.one_of(
            st.none(),
            st.lists(
                st.fixed_dictionaries(
                    {"type": _avro_text, "value": _avro_text}
                ),
                max_size=10,
            ),
        ),
    }
)


@given(rec=_avro_record)
@settings(max_examples=200, deadline=None)
def test_avro_codec_roundtrip_any_record(rec):
    """Spec-compliance property: encode->decode is identity for EVERY
    IngestionData value — arbitrary unicode, full int64 range
    (zigzag edge cases), both union branches, any tag-array length."""
    from go_pulsar_elasticsearch_spark.ingest.avro import INGESTION_AVRO_SCHEMA
    from go_pulsar_elasticsearch_spark.ingest.avro_codec import (
        decode,
        encode,
        parse_schema,
    )

    schema = parse_schema(INGESTION_AVRO_SCHEMA)
    assert decode(schema, encode(schema, rec)) == rec


def test_durable_checkpoint_slot_round_trips(spark, tmp_path):
    """r9: with spark.gpe.slots.durableCheckpoint=true, checkpoint_slot
    materializes to parquet under spark.gpe.slots.dir and returns the
    read-back scan — same rows, a file-scan leaf instead of a
    LogicalRDD, fresh subdirectory per turnover (an in-place overwrite
    would corrupt still-unexecuted plans over the previous occupant)."""
    import os

    from pyspark.sql import functions as F

    from go_pulsar_elasticsearch_spark.functions.caching import (
        checkpoint_slot,
        checkpoint_slot_reuse,
        release_slot,
    )

    spark.conf.set("spark.gpe.slots.durableCheckpoint", "true")
    spark.conf.set("spark.gpe.slots.dir", str(tmp_path))
    try:
        src = spark.range(50).select(
            "id", (F.col("id") * 2).alias("twice")
        )
        out = checkpoint_slot("_test_durable", src)
        assert sorted(r["twice"] for r in out.collect()) == [
            2 * i for i in range(50)
        ]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "parquet" in plan.lower()
        first_dirs = set(os.listdir(tmp_path))
        assert first_dirs  # wrote under the configured dir
        # turnover writes a FRESH subdirectory; the old frame stays valid
        out2 = checkpoint_slot("_test_durable", spark.range(5).select(
            "id", (F.col("id") * 3).alias("twice")
        ))
        assert set(os.listdir(tmp_path)) > first_dirs
        assert out.count() == 50  # previous occupant still readable
        assert out2.count() == 5
        # the reuse variant returns the SAME materialization for an
        # identical lineage
        s2 = spark.range(7).select("id")
        a = checkpoint_slot_reuse("_test_durable_r", s2)
        b = checkpoint_slot_reuse(
            "_test_durable_r", spark.range(7).select("id")
        )
        assert a is b
    finally:
        spark.conf.set("spark.gpe.slots.durableCheckpoint", "false")
        release_slot("_test_durable")
        release_slot("_test_durable_r")


@pytest.mark.parametrize(
    "value, on",
    [("1", True), ("true", True), ("YES", True), ("false", False),
     ("0", False), ("", False), ("off", False)],
)
def test_durable_checkpoint_env_flag_accepts_only_truthy(
    spark, monkeypatch, value, on
):
    """GPE_DURABLE_CHECKPOINT turns durable mode on only for an explicit
    1/true/yes (any case) — ``false`` or ``0`` must leave it off."""
    from go_pulsar_elasticsearch_spark.functions.caching import (
        _durable_requested,
    )

    monkeypatch.setenv("GPE_DURABLE_CHECKPOINT", value)
    assert _durable_requested(spark.range(1)) is on
