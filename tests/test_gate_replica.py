"""The parity replica must be as strict as the driver's typed value
hash. CORRECTNESS_r04 shipped six queries whose oracles emitted a bare
integer sum() — DuckDB types that HUGEINT (int128), pandas renders it
float64, and the driver's kind-sensitive hash failed on bit-identical
values. The replica used to compare pandas values with check_dtype=False,
which erases exactly that distinction; these tests pin the fix."""

import pytest

from duckdb_wasm_spark.testing import assert_parity


def test_uncast_integer_sum_oracle_fails(spark, oracle):
    """A sum(int) oracle without cast(... as bigint) must FAIL the
    replica even though every value is identical (the r04 bug class)."""
    sdf = spark.sql("select cast(6 as bigint) as s")
    with pytest.raises(AssertionError, match="physical-family mismatch"):
        assert_parity(
            sdf,
            "select sum(x) as s from (values (1), (2), (3)) t(x)",
            oracle,
            "uncast_sum",
        )


def test_cast_integer_sum_oracle_passes(spark, oracle):
    sdf = spark.sql("select cast(6 as bigint) as s")
    assert_parity(
        sdf,
        "select cast(sum(x) as bigint) as s from (values (1), (2), (3)) t(x)",
        oracle,
        "cast_sum",
    )


def test_width_skew_within_kind_still_passes(spark, oracle):
    """The driver tolerates width skew inside a kind (int32 Spark vs
    BIGINT oracle is green all over CORRECTNESS_r03/r04) — the replica
    must not be stricter than the driver here."""
    sdf = spark.sql("select cast(7 as int) as n")  # int32
    assert_parity(sdf, "select cast(7 as bigint) as n", oracle, "width_skew")


def test_float_vs_int_kind_fails(spark, oracle):
    sdf = spark.sql("select cast(7 as bigint) as n")
    with pytest.raises(AssertionError, match="physical-family mismatch"):
        assert_parity(sdf, "select 7.0::double as n", oracle, "float_vs_int")


def test_documented_registry_counts_match():
    """SURVEY §8 and README registry counts must track the live
    registry (round-5 verdict task #8 — the r4 docs drifted once).
    README states '<total>, each oracle-checked', SURVEY
    '<total> registered' and '<oracle> oracle-backed'; this fails if
    any number drifts from __spark_entry__.queries()/oracle_sql()."""
    import re

    import __spark_entry__ as e

    n_total = len(e.queries())
    n_oracle = len([k for k in e.queries() if k in e.oracle_sql()])

    readme = open("README.md").read()
    m = re.search(
        r"Every registered query \((\d+), each oracle-checked\)", readme
    )
    assert m, "README registry-count sentence not found"
    assert int(m.group(1)) == n_total, "README total count drifted"
    assert n_oracle == n_total, "a registered query has no oracle"

    survey = open("SURVEY.md").read()
    m = re.search(
        r"(\d+) registered queries total,\s*(\d+)\s*\noracle-backed", survey
    )
    assert m, "SURVEY registry-count sentence not found"
    assert int(m.group(1)) == n_total, "SURVEY total count drifted"
    assert int(m.group(2)) == n_oracle, "SURVEY oracle-backed count drifted"

    # r8 verdict task 5: the §8 NARRATIVE (the current round's summary
    # paragraph) drifted from the canonical count line twice — pin its
    # first "N registered / M oracle-backed" figure to the live
    # registry too, so adding a query forces the prose update.
    m = re.search(r"(\d+) registered / (\d+)\s*\noracle-backed", survey)
    assert m, "SURVEY §8 narrative count sentence not found"
    assert int(m.group(1)) == n_total, "SURVEY §8 narrative total drifted"
    assert (
        int(m.group(2)) == n_oracle
    ), "SURVEY §8 narrative oracle-backed count drifted"
