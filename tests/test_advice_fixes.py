"""Regression tests for the round-1 advisor findings (ADVICE.md):

1. p == s decimals (legal in Avro, e.g. decimal(2,2) holding 0.xx) must not
   build an illegal ``\\d{1,0}`` regex that crashes rlike at task runtime.
2. Doubles Spark renders in scientific notation ('1.0E-4') must not be
   falsely flagged DECIMAL_OUT_OF_RANGE when exactly representable.
3. Uniqueness violations on a non-engine-key column under partition_expr
   must surface as fail verdicts (were silently dropped by the left join).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from avro_conversions_spark.constraints import UniqueConstraint, not_null
from avro_conversions_spark.constraints.core import decimal_fits
from avro_conversions_spark.engine import ValidationEngine
from avro_conversions_spark.schema.resolution import (
    SchemaResolver,
    WriteType,
    DecimalType as ReadDecimal,
)


def test_decimal_fits_scale_equals_precision(spark):
    df = spark.createDataFrame(
        [("0.37",), ("-.5",), ("0",), ("1.2",), ("0.123",)], "amount string"
    )
    c = decimal_fits("amount", 2, 2)
    bad = df.where(c.violation()).select("amount").collect()
    assert sorted(r.amount for r in bad) == ["0.123", "1.2"]


def test_decimal_fits_scientific_notation_double(spark):
    df = spark.createDataFrame(
        [(0.0001,), (12345678.0,), (1.5e-5,), (0.12,)], "amount double"
    )
    c = decimal_fits("amount", 12, 4)
    bad = df.where(c.violation()).select("amount").collect()
    # 1.5e-5 needs 5 fraction digits -> violation; the others fit (12,4)
    assert [r.amount for r in bad] == [1.5e-5]


def test_resolver_decimal_exact_double_scientific(spark):
    conv = SchemaResolver(strict_nullability=False).resolve(
        WriteType(T.DoubleType()), ReadDecimal(10, 4)
    )
    df = spark.createDataFrame([(0.0001,), (0.00012,)], "x double")
    out = df.select(
        conv.convert(F.col("x")).alias("v"), conv.violation(F.col("x")).alias("bad")
    ).collect()
    assert str(out[0].v) == "0.0001" and out[0].bad is False
    assert out[1].v is None and out[1].bad is True


def test_resolver_decimal_p_eq_s_string(spark):
    # textual decimals resolve in trust-reader (tokenizer) mode; a DECLARED
    # string writer no longer resolves to decimal (reference R21 parity)
    conv = SchemaResolver(strict_nullability=False, trust_reader=True).resolve(
        WriteType(T.StringType()), ReadDecimal(2, 2)
    )
    df = spark.createDataFrame([("0.37",), ("1.2",)], "x string")
    out = df.select(
        conv.convert(F.col("x")).alias("v"), conv.violation(F.col("x")).alias("bad")
    ).collect()
    assert str(out[0].v) == "0.37" and out[0].bad is False
    assert out[1].v is None and out[1].bad is True


def test_partitioned_verdicts_count_nonkey_unique_violations(spark):
    df = spark.createDataFrame(
        [
            ("e1", "u1", "2024-01-01"),
            ("e2", "u1", "2024-01-02"),
            ("e3", "u2", "2024-01-01"),
        ],
        "event_id string, user_id string, day string",
    )
    eng = ValidationEngine(
        row_constraints=[not_null("user_id")],
        unique_constraints=[UniqueConstraint(("user_id",))],
        key_cols=("event_id",),
        partition_expr=F.col("day"),
    )
    res = eng.run(df, "t")
    verdicts = {
        (r.partition_key, r.constraint): (r.status, r.violation_count)
        for r in res.verdicts.collect()
    }
    # the duplicate u1 spans both days; attributed to min(partition)
    assert verdicts[("2024-01-01", "unique(user_id)")] == ("fail", 1)
    assert verdicts[("2024-01-02", "unique(user_id)")] == ("pass", 0)
    assert res.violations.count() == 1
    res.unpersist()


def test_null_partition_key_lands_in_unattributed_bucket(spark):
    schema = "event_id string, user_id string, day string"
    df = spark.createDataFrame(
        [
            ("e1", None, "d1"),
            ("e2", "u2", None),
            ("e3", None, None),
            ("e4", "u1", "d2"),
            ("e5", "u1", None),
            ("e6", "u2", "d1"),
        ],
        schema,
    )
    eng = ValidationEngine(
        row_constraints=[not_null("user_id")],
        unique_constraints=[UniqueConstraint(("user_id",))],
        key_cols=("event_id",),
        partition_expr=F.col("day"),
    )
    res = eng.run(df, "t")
    rows = [
        (r.partition_key, r.constraint, r.status, r.violation_count, r.rows_checked)
        for r in res.verdicts.collect()
    ]
    # every name for every input partition, the NULL key included (sorted
    # first); e1's null user_id is attributed to d1; e3's null user_id in
    # the NULL partition lands in ``unattributed``, which only lists the
    # constraints that have such violations. No violation is ever dropped.
    assert rows == [
        (None, "not_null(user_id)", "pass", 0, 3),
        (None, "unique(user_id)", "pass", 0, 3),
        ("d1", "not_null(user_id)", "fail", 1, 2),
        ("d1", "unique(user_id)", "fail", 2, 2),
        ("d2", "not_null(user_id)", "pass", 0, 1),
        ("d2", "unique(user_id)", "fail", 1, 1),
        ("unattributed", "not_null(user_id)", "fail", 1, 0),
    ]
    assert [f.nullable for f in res.verdicts.schema.fields] == [
        False, True, True, False, False, False, False,
    ]
    res.unpersist()
    empty = eng.run(spark.createDataFrame([], schema), "t")
    assert empty.verdicts.collect() == []
    empty.unpersist()
