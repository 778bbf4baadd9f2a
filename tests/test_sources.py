"""CSV/JSON/binaryFile source connectors: explicit-schema roundtrips."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crowdsorsa_etl_spark.sources.parquet import load_table
from crowdsorsa_etl_spark.sources.text_files import (
    read_binary_files,
    read_csv,
    read_json,
)

SF_DIR = "/root/testdata/sf0.001"

NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)


class TestTextSources:
    def test_csv_roundtrip(self, spark, tmp_path):
        nation = load_table(spark, "nation", SF_DIR)
        out = str(tmp_path / "nation_csv")
        nation.write.option("header", True).csv(out)
        back = read_csv(spark, out, NATION_SCHEMA)
        assert back.schema == NATION_SCHEMA
        assert sorted(r.n_name for r in back.collect()) == sorted(
            r.n_name for r in nation.collect()
        )

    def test_csv_requires_schema_or_optin(self, spark, tmp_path):
        with pytest.raises(ValueError, match="declare a schema"):
            read_csv(spark, str(tmp_path))

    def test_json_roundtrip(self, spark, tmp_path):
        nation = load_table(spark, "nation", SF_DIR)
        out = str(tmp_path / "nation_json")
        nation.write.json(out)
        back = read_json(spark, out, NATION_SCHEMA)
        assert back.count() == nation.count()
        assert back.schema == NATION_SCHEMA

    def test_binary_files_source(self, spark, tmp_path):
        (tmp_path / "a.bin").write_bytes(b"\x89IMG payload-a")
        (tmp_path / "b.bin").write_bytes(b"\x89IMG payload-bb")
        (tmp_path / "skip.txt").write_bytes(b"nope")
        df = read_binary_files(spark, str(tmp_path), glob="*.bin")
        rows = {r.path.rsplit("/", 1)[-1]: bytes(r.content) for r in df.collect()}
        assert set(rows) == {"a.bin", "b.bin"}
        assert rows["a.bin"].startswith(b"\x89IMG")

    def test_binary_files_feed_multimodal_decode(self, spark, tmp_path):
        from crowdsorsa_etl_spark.operators.multimodal import decode_images

        (tmp_path / "x.bin").write_bytes(b"\x89IMG" + b"z" * 100)
        df = (
            read_binary_files(spark, str(tmp_path), glob="*.bin")
            .select(F.monotonically_increasing_id().alias("doc_id"),
                    F.col("content").alias("payload"))
        )
        meta = decode_images(df, allow_fake=True).collect()
        assert len(meta) == 1 and meta[0].format == "fake-img"


class TestCompaction:
    def test_compact_reduces_file_count(self, spark, tmp_path):
        from crowdsorsa_etl_spark.sinks.writers import compact_parquet

        path = str(tmp_path / "shattered")
        # simulate incremental ingest: 40 tiny files
        spark.range(4000).repartition(40).write.parquet(path)
        import glob

        before = len(glob.glob(f"{path}/part-*.parquet"))
        assert before >= 40
        n = compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
        after = len(glob.glob(f"{path}/part-*.parquet"))
        assert n == 1 and after < before
        assert spark.read.parquet(path).count() == 4000


class TestObservedMetrics:
    def test_metrics_ride_the_action(self, spark):
        from pyspark.sql import functions as F

        from crowdsorsa_etl_spark.sinks.metrics import observed
        from crowdsorsa_etl_spark.sources.parquet import load_table

        docs = load_table(spark, "documents", "/root/testdata/sf0.001")
        out, obs = observed(
            docs,
            "ingest",
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("text").isNull().cast("int")).alias("null_texts"),
        )
        n = out.count()  # the ONE action; metrics piggyback on it
        assert obs.get["rows"] == n
        assert obs.get["null_texts"] == 0


class TestUpsert:
    def test_latest_per_key_wins(self, spark, tmp_path):
        from crowdsorsa_etl_spark.sinks.writers import upsert_parquet

        path = str(tmp_path / "tbl")
        base = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 10), (3, "c", 10)], "id long, v string, ver long"
        )
        upsert_parquet(spark, path, base, key_cols=["id"], order_col="ver")
        updates = spark.createDataFrame(
            [(2, "B", 20), (4, "d", 5)], "id long, v string, ver long"
        )
        upsert_parquet(spark, path, updates, key_cols=["id"], order_col="ver")
        got = {r.id: (r.v, r.ver) for r in spark.read.parquet(path).collect()}
        assert got == {1: ("a", 10), 2: ("B", 20), 3: ("c", 10), 4: ("d", 5)}

    def test_replay_is_idempotent(self, spark, tmp_path):
        from crowdsorsa_etl_spark.sinks.writers import upsert_parquet

        path = str(tmp_path / "tbl2")
        batch = spark.createDataFrame([(1, "a", 10)], "id long, v string, ver long")
        upsert_parquet(spark, path, batch, key_cols=["id"], order_col="ver")
        upsert_parquet(spark, path, batch, key_cols=["id"], order_col="ver")  # replay
        assert spark.read.parquet(path).count() == 1


class TestOrc:
    def test_roundtrip_preserves_schema_and_rows(self, spark, tmp_path):
        from crowdsorsa_etl_spark.sources.text_files import read_orc, write_orc

        li = load_table(spark, "lineitem", SF_DIR).limit(1000)
        path = str(tmp_path / "li_orc")
        write_orc(li, path)
        back = read_orc(spark, path)
        assert [(f.name, f.dataType) for f in back.schema.fields] == [
            (f.name, f.dataType) for f in li.schema.fields
        ]
        assert back.count() == 1000

    def test_orc_scan_pushes_filters_and_prunes_columns(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from crowdsorsa_etl_spark.sources.text_files import read_orc, write_orc

        write_orc(
            load_table(spark, "lineitem", SF_DIR), str(tmp_path / "li_orc2")
        )
        q = (
            read_orc(spark, str(tmp_path / "li_orc2"))
            .filter(F.col("l_quantity") > 40)
            .select("l_orderkey", "l_quantity")
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [" in plan and "l_quantity" in plan.split(
            "PushedFilters"
        )[1][:200]
        read_schema = plan.split("ReadSchema")[1][:200]
        assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


class TestCorruptRecords:
    """Malformed-input policy for the text sources: PERMISSIVE keeps bad
    rows in a _corrupt_record column (audit path), DROPMALFORMED silently
    drops, FAILFAST raises — the three ANSI-ish contracts a pipeline picks
    from per source."""

    @staticmethod
    def _write_mixed(tmp_path):
        p = tmp_path / "mixed.jsonl"
        lines = ['{"a": 1, "b": "x"}', "{not json at all", '{"a": 2, "b": "y"}']
        p.write_text("\n".join(lines) + "\n")
        return str(p)

    def test_permissive_keeps_corrupt_column(self, spark, tmp_path):
        from pyspark.sql import types as T

        path = self._write_mixed(tmp_path)
        schema = T.StructType(
            [
                T.StructField("a", T.LongType()),
                T.StructField("b", T.StringType()),
                T.StructField("_corrupt_record", T.StringType()),
            ]
        )
        df = spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)
        rows = df.collect()
        assert len(rows) == 3
        bad = [r for r in rows if r._corrupt_record is not None]
        assert len(bad) == 1 and "not json" in bad[0]._corrupt_record

    def test_dropmalformed_drops(self, spark, tmp_path):
        from pyspark.sql import types as T

        path = self._write_mixed(tmp_path)
        schema = T.StructType(
            [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
        )
        df = (
            spark.read.schema(schema)
            .option("mode", "DROPMALFORMED")
            .json(path)
        )
        assert sorted(r.a for r in df.collect()) == [1, 2]

    def test_failfast_raises(self, spark, tmp_path):
        from pyspark.sql import types as T

        path = self._write_mixed(tmp_path)
        schema = T.StructType(
            [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
        )
        with pytest.raises(Exception, match="FAILFAST|Malformed"):
            spark.read.schema(schema).option("mode", "FAILFAST").json(
                path
            ).collect()


class TestLocalFrame:
    """sources/local_rows.local_frame: driver rows → Arrow-backed
    LocalTableScan with the same schema, rows and checks as
    ``createDataFrame(list)``."""

    @pytest.mark.parametrize(
        "name", ["observations_2023", "observations_2024", "municipality_dim", "taxon_dim"]
    )
    def test_list_backed_sources_parity(self, spark, monkeypatch, name):
        from crowdsorsa_etl_spark.sources import observations

        df = getattr(observations, name)(spark)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
        # the same source with its frame built by createDataFrame(list)
        monkeypatch.setattr(
            observations,
            "local_frame",
            lambda s, rows, schema: s.createDataFrame(rows, schema),
        )
        listed = getattr(observations, name)(spark)
        assert "ExistingRDD" in listed._jdf.queryExecution().executedPlan().toString()
        rows = df.collect()
        assert df.schema == listed.schema and rows == listed.collect()
        assert df.rdd.getNumPartitions() == min(
            len(rows), spark.sparkContext.defaultParallelism
        )

    def test_null_in_non_nullable_field_raises(self, spark):
        from pyspark.errors import PySparkValueError

        from crowdsorsa_etl_spark.schemas import MUNICIPALITY_KEY
        from crowdsorsa_etl_spark.sources.local_rows import local_frame

        with pytest.raises(PySparkValueError):
            local_frame(spark, [("20", "Akaa"), ("91", None)], MUNICIPALITY_KEY)

    def test_wrong_type_raises_instead_of_casting(self, spark):
        from pyspark.errors import PySparkTypeError

        from crowdsorsa_etl_spark.sources.local_rows import local_frame

        schema = T.StructType([T.StructField("n", T.LongType())])
        with pytest.raises(PySparkTypeError):
            local_frame(spark, [(1,), (2.5,)], schema)
