"""Salted aggregation: result-equivalence with the plain
shapes, plus the two-exchange plan contract."""

import pyspark.sql.functions as F
import pytest

from teste_carga_avro_vs_json_spark.operators import skew
from teste_carga_avro_vs_json_spark.plans import compact_plan


def _events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "user_id", F.length("props").cast("long").alias("nbytes")
    )


def test_salted_agg_equals_plain(spark, sf_dir):
    ev = _events(spark, sf_dir)
    plain = {
        tuple(r)
        for r in ev.groupBy("event_type")
        .agg(
            F.count("user_id").alias("n"),
            F.sum("nbytes").alias("b"),
            F.min("user_id").alias("lo"),
            F.max("user_id").alias("hi"),
        )
        .collect()
    }
    salted = {
        tuple(r)
        for r in skew.salted_agg(
            ev,
            keys=["event_type"],
            aggs=[
                ("count", "user_id", "n"),
                ("sum", "nbytes", "b"),
                ("min", "user_id", "lo"),
                ("max", "user_id", "hi"),
            ],
        ).collect()
    }
    assert salted == plain


def test_salted_agg_rejects_nondecomposable(spark, sf_dir):
    with pytest.raises(ValueError, match="decomposable"):
        skew.salted_agg(
            _events(spark, sf_dir), ["event_type"], [("avg", "nbytes", "a")]
        )


def test_salted_agg_two_phase_plan(spark, sf_dir):
    out = skew.salted_agg(
        _events(spark, sf_dir), ["event_type"], [("count", "user_id", "n")]
    )
    plan = compact_plan(out)
    assert plan.count("Exchange") == 2  # (key,salt) then key
