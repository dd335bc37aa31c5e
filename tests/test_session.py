"""get_spark's resolved conf (session.spark_conf), read without starting
a session."""
from bdtopo2refhydro_spark.session import spark_conf


def test_explicit_shuffle_partitions_win_for_any_cores():
    width = "spark.sql.shuffle.partitions"
    assert spark_conf(cores="*", shuffle_partitions=7)[width] == "7"
    assert spark_conf(cores=6, shuffle_partitions=3)[width] == "3"
    # defaults: the core count when it is a number, else 32
    assert spark_conf(cores=6)[width] == "6"
    assert spark_conf(cores="*")[width] == "32"


def test_master_and_extra_conf():
    conf = spark_conf(cores="*", extra_conf={
        "spark.sql.adaptive.enabled": "false", "spark.x": "1"})
    assert conf["spark.master"] == "local[*]"
    assert conf["spark.sql.adaptive.enabled"] == "false"
    assert conf["spark.x"] == "1"
