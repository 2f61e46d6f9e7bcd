"""synth.conv_id_col matches Python's ``'u%05d'`` for every int32,
negative ids included (the sign counts toward the width)."""

from sqlfeatureextraction_spark.synth import conv_id_col

IDS = [-2147483648, -12345, -3, 0, 7, 12345, 123456, 2147483647]


def test_conv_id_matches_printf(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i,) for i in IDS], "user_id int")
    got = {
        r["user_id"]: r["conv_id"]
        for r in df.select(
            "user_id", conv_id_col(F.col("user_id")).alias("conv_id")
        ).collect()
    }
    assert got == {i: "u%05d" % i for i in IDS}
