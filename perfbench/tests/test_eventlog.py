"""The event-log parser, on a tiny log written by a local[1] session."""

import pytest

pyspark = pytest.importorskip("pyspark")


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from spans import Tracer

    log_dir = tmp_path_factory.mktemp("events")
    spark = (SparkSession.builder.master("local[1]").appName("perfbench-test")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file:" + str(log_dir))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .getOrCreate())
    tracer = Tracer(spark.sparkContext)
    df = spark.range(2000).repartition(3)

    def kernel(batches):
        for pdf in batches:
            yield pdf

    with tracer.span("op", op="op0"):
        with tracer.span("fused"):
            df.mapInPandas(kernel, "id long").groupBy(
                (F.col("id") % 7).alias("k")).count().collect()
    untagged = spark.range(10).count()
    fp_a = None
    from stats import spark_fingerprint

    pdf = spark.range(500).selectExpr("id", "cast(id * 0.5 as double) as x").toPandas()
    fp_a = spark_fingerprint(spark.createDataFrame(pdf))
    fp_b = spark_fingerprint(spark.createDataFrame(pdf.iloc[::-1]).repartition(4))
    from run import stop_session

    stop_session(spark)
    return tracer, str(log_dir), untagged, fp_a, fp_b


def test_job_counters_by_layer(traced):
    from spans import job_counters, layer_counters, read_event_log

    tracer, log_dir, untagged, _, _ = traced
    assert untagged == 10
    groups = job_counters(read_event_log(log_dir))
    fused = layer_counters(tracer.spans, groups)["op0"]["fused"]
    assert fused["jobs"] >= 1
    assert fused["tasks"] >= 3
    assert fused["executor_cpu_s"] > 0
    assert fused["shuffle_write_bytes"] > 0
    assert fused["python_bytes_in"] > 0 and fused["python_bytes_out"] > 0
    assert groups[""]["jobs"] >= 1  # the untagged count job


def test_spark_fingerprint_ignores_order_and_partitioning(traced):
    _, _, _, fp_a, fp_b = traced
    assert fp_a == fp_b
    assert fp_a[0] == 500
