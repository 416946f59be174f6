"""Source readers + parquet compaction."""

import glob

from pyspark.sql import functions as F

from nlquery_spark.sources.readers import compact_parquet, read_table


def test_read_table_format_dispatch(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    ).limit(200)
    rows = sorted(tuple(r) for r in events.collect())

    pq = str(tmp_path / "e.parquet")
    cs = str(tmp_path / "e.csv")
    js = str(tmp_path / "e.jsonl")
    events.write.parquet(pq)
    events.write.option("header", "true").csv(cs)
    events.write.json(js)

    assert sorted(tuple(r) for r in read_table(spark, pq).collect()) == rows
    got_csv = read_table(spark, cs, schema=events.schema).select(*events.columns)
    assert sorted(tuple(r) for r in got_csv.collect()) == rows
    got_js = read_table(spark, js, schema=events.schema).select(*events.columns)
    assert sorted(tuple(r) for r in got_js.collect()) == rows


def test_compact_parquet_reduces_files(spark, tmp_path):
    path = str(tmp_path / "many")
    df = spark.range(5000).withColumn("v", F.col("id") * 2)
    df.repartition(24).write.parquet(path)
    assert len(glob.glob(f"{path}/part-*.parquet")) == 24
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    n = compact_parquet(spark, path, target_mb=256)
    files = glob.glob(f"{path}/part-*.parquet")
    assert len(files) == n == 1  # tiny data -> one target file
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert before == after
    assert not glob.glob(f"{path}__compact_*")  # staging dirs cleaned


def test_read_table_compressed_extension_dispatch(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "event_type"
    ).limit(50)
    js = str(tmp_path / "e2.jsonl.gz")
    events.write.option("compression", "gzip").json(js)
    got = read_table(spark, js, schema=events.schema).select(*events.columns)
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in events.collect()
    )


def test_iceberg_bucketed_triples_sink(spark, tmp_path):
    """SURVEY §1.3 Iceberg layout: writeTo(...).partitionedBy(pred,
    bucket(N, subj)) lands a table whose partition spec is
    (pred identity, subj bucket[N]). Skips with a reason when the
    iceberg-spark-runtime jar is absent (this sandbox) — the wiring is
    the standard public quickstart config (plans/session.py) and runs
    wherever the jar is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        import pytest

        pytest.skip(
            "iceberg-spark-runtime jar not on classpath (sandbox); "
            "set SPARK_GRAFT_ICEBERG_JAR / add the jar to exercise"
        )
    from nlquery_spark.operators.extract import write_triples_iceberg

    spark.conf.set("spark.sql.catalog.it", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.it.type", "hadoop")
    spark.conf.set("spark.sql.catalog.it.warehouse", str(tmp_path / "wh"))
    triples = spark.createDataFrame(
        [(f"s{i}", f"p{i % 3}", f"o{i}", 1.0, 0, 1, "r") for i in range(50)],
        "subj string, pred string, obj string, score double, start int, end int, rule string",
    )
    write_triples_iceberg(triples, "it.db.triples", buckets=8)
    spec = spark.sql("SELECT * FROM it.db.triples.partitions").collect()
    assert spec  # one row per (pred, bucket) partition
    back = spark.table("it.db.triples")
    assert back.count() == 50
    # partition pruning on pred reaches the scan
    plan = back.filter(F.col("pred") == "p1")._jdf.queryExecution().executedPlan().toString()
    assert "p1" in plan
