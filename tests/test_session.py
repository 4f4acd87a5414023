"""read_table's scan fan-out: hash on the table key only when the file has
fewer row groups than the session has slots."""

import pyarrow as pa
import pyarrow.parquet as pq

from scrapy_processors_spark.session import _scan_width, read_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_read_table_fans_out_narrow_scans_only(spark, tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SCAN_FANOUT", raising=False)
    target = spark.sparkContext.defaultParallelism
    n = 8 * target
    table = pa.table({"doc_id": list(range(n)),
                      "text": [f"t{i}" for i in range(n)]})

    narrow = tmp_path / "narrow"
    narrow.mkdir()
    pq.write_table(table, narrow / "documents.parquet")
    assert pq.ParquetFile(narrow / "documents.parquet").num_row_groups == 1
    df = read_table(spark, str(narrow), "documents")
    plan = _plan(df)
    assert "Exchange hashpartitioning(doc_id" in plan, plan
    assert df.rdd.getNumPartitions() == target
    assert sorted(r.doc_id for r in df.collect()) == list(range(n))

    wide = tmp_path / "wide"
    wide.mkdir()
    pq.write_table(table, wide / "documents.parquet", row_group_size=8)
    assert pq.ParquetFile(wide / "documents.parquet").num_row_groups >= target
    df = read_table(spark, str(wide), "documents")
    assert "Exchange" not in _plan(df)
    assert df.count() == n


def test_scan_width_walks_hive_partitions(tmp_path):
    """A hive-partitioned table keeps its files in ``k=v/`` subdirectories;
    every row group under them counts."""
    table = pa.table({"k": [i % 4 for i in range(64)], "v": list(range(64))})
    pq.write_to_dataset(table, tmp_path / "documents.parquet",
                        partition_cols=["k"], row_group_size=4)
    assert _scan_width(str(tmp_path / "documents.parquet")) == 16
