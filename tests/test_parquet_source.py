"""The fixture loader's schema memo follows a fixture rewritten in place."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from mysql_postgres_debezium_cdc_spark.sources.parquet import load


def test_load_rereads_schema_of_a_fixture_rewritten_in_one_app(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": pa.array([1, 2], pa.int32())}), path)
    assert [r[0] for r in load(spark, str(tmp_path), "region").collect()] == [1, 2]

    pq.write_table(
        pa.table({"r_regionkey": pa.array(["north", "south", "east"], pa.string())}), path
    )
    df = load(spark, str(tmp_path), "region")
    assert df.schema["r_regionkey"].dataType.simpleString() == "string"
    assert sorted(r[0] for r in df.collect()) == ["east", "north", "south"]
