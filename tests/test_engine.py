"""Engine facade + compaction maintenance job."""

import datetime as dt
import glob

from securities_data_pipeline_spark.engine import Engine
from securities_data_pipeline_spark.plans.compaction import compact_small_files

D = dt.date


def test_engine_facade(spark):
    eng = Engine(spark).open("/root/testdata/sf0.001")
    assert eng.sql("SELECT count(*) AS n FROM lineitem").first().n > 0
    assert "q1_pricing_summary" in eng.query_names()
    df = eng.query("a1_distinct")
    assert df.count() == 5


def test_compact_table_merges_small_files(spark, tmp_path):
    path = str(tmp_path / "prices")
    S = "date_stamp date, symbol string, close double"
    days = (D(2025, 1, 1), D(2025, 1, 2))
    # two append writes → two files in each of two partitions
    for batch in (["AAA", "BBB"], ["CCC", "DDD"]):
        rows = [(d, s, 1.0) for d in days for s in batch]
        spark.createDataFrame(rows, S).repartition(2, "date_stamp").write.partitionBy(
            "date_stamp"
        ).mode("append").parquet(path)
    before = spark.read.parquet(path).orderBy("date_stamp", "symbol").collect()

    def files_per_partition():
        return [len(glob.glob(f"{path}/date_stamp={d}/*.parquet")) for d in days]

    assert files_per_partition() == [2, 2]
    # a target above the table's size packs each partition into one bin
    compact_small_files(spark, path, target_bytes=1 << 30)
    after = spark.read.parquet(path).orderBy("date_stamp", "symbol").collect()
    assert files_per_partition() == [1, 1]
    assert [tuple(r) for r in before] == [tuple(r) for r in after]  # content unchanged
