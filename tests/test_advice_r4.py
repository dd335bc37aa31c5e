"""Regression tests for the round-4 ADVICE items: silent cap-exhaustion
truncation now raises, jp_coloring enforces its id-range contract,
count_four_cycles stays integer-exact, and the degenerate-input crash
in entity_clusters is handled."""

import pytest
from pyspark.sql import functions as F


# --- ADVICE #1 (medium): cap exhaustion must raise, not truncate -------

def test_bom_rollup_raises_on_cap(spark):
    from bdtopo2refhydro_spark.operators.graph import bom_rollup
    e = spark.createDataFrame(
        [(i, i + 1, 2) for i in range(6)], "u long, v long, m long")
    with pytest.raises(RuntimeError, match="max_rounds"):
        bom_rollup(e, max_rounds=2)
    got = {r["part"]: r["qty"] for r in bom_rollup(e).collect()}
    assert got == {i + 1: 2 ** (i + 1) for i in range(6)}


# --- ADVICE #2: jp_coloring id-range contract --------------------------

def test_jp_coloring_rejects_ids_beyond_2_31(spark):
    from bdtopo2refhydro_spark.operators.graph import jp_coloring
    big = 1 << 31
    df = spark.createDataFrame([(big, big + 1)], "u long, v long")
    with pytest.raises(ValueError, match="2\\^31"):
        jp_coloring(df)


# --- ADVICE #3: count_four_cycles integer exactness --------------------

def test_count_four_cycles_integer_type_and_value(spark):
    from bdtopo2refhydro_spark.operators.graph import count_four_cycles
    # K4 has 3 four-cycles
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    df = spark.createDataFrame(edges, "u long, v long")
    out = count_four_cycles(df)
    assert dict(out.dtypes)["n_c4"] == "bigint"
    assert out.first()["n_c4"] == 3


# --- ADVICE #5: entity_clusters empty key_cols -------------------------

def test_entity_clusters_empty_keys_raises(spark):
    from bdtopo2refhydro_spark.operators.cdc import entity_clusters
    df = spark.createDataFrame([(1, "a@x")], "rid long, em string")
    with pytest.raises(ValueError, match="key_cols"):
        entity_clusters(df, "rid", [])
