"""Pins every private Spark seam the status-store reader uses, so a
PySpark upgrade that moves one fails here instead of silently reading
zeros. Also checks the metric-string parser."""

import shutil
import tempfile

import pytest

from status import StatusReader, _seq, parse_metric


def test_parse_metric_units():
    assert parse_metric("2 ms") == pytest.approx(0.002)
    assert parse_metric("1.5 s") == pytest.approx(1.5)
    assert parse_metric("1,234") == 1234
    assert parse_metric("2.0 KiB") == 2048
    assert parse_metric("total (min, med, max (stageId: taskId))\n3.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage 1.0: task 2))") == 3 * 2**20
    assert parse_metric("n/a") == 0.0


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    tmp = tempfile.mkdtemp(prefix="perfbench-status-")
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-seams")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.local.dir", tmp)
        .getOrCreate()
    )
    yield s
    s.stop()
    shutil.rmtree(tmp, ignore_errors=True)


def test_reader_seams_on_a_python_query(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    reader = StatusReader(spark)  # statusStore(), sharedState().statusStore()
    plus = pandas_udf(lambda s: s + 1, "long")
    df = spark.range(0, 2000, 1, 4).select(plus(F.col("id")).alias("x")).groupBy(
        (F.col("x") % 7).alias("k")
    ).count()
    df.persist()
    assert len(df.collect()) == 7
    jobs, execs = reader.take_op()  # waitUntilEmpty, jobsList(null), executionsList
    assert jobs
    assert reader.job_submit_ms(jobs[0]) > 0  # JobData.submissionTime
    st = reader.stages(jobs)  # lastStageAttempt + taskList
    assert st["stages"] >= 2 and st["tasks"] >= 4
    assert st["task_run_s"] > 0 and st["task_cpu_s"] > 0
    assert st["shuffle_write_bytes"] > 0 and st["shuffle_read_bytes"] > 0
    assert st["stage_skew"] >= 1.0

    assert execs
    ex = reader.executions(execs)  # executionMetrics via CollectionConverters, planGraph
    assert ex["py_nodes"] == 1
    assert ex["py_bytes_sent"] > 0 and ex["py_bytes_returned"] > 0
    assert ex["py_run_s"] > 0

    assert reader.storage_bytes() > 0  # getRDDStorageInfo
    assert reader.codegen_compiles() > 0  # CodegenMetrics
    assert reader.code_cache_mb() > 0  # CodeHeap memory pools
    df.unpersist(True)


def test_python_datasource_scan_rows(spark):
    from etl_geotab_spark.sources.geotab import _SCHEMAS, register_geotab_source

    reader = StatusReader(spark)
    register_geotab_source(spark)
    n = (
        spark.read.format("geotab")
        .schema(_SCHEMAS["Device"])
        .option("typename", "Device")
        .option("transport", "fake")
        .option("sessionid", "seam")
        .option("groups", "g1,g2")
        .load()
        .count()
    )
    _, execs = reader.take_op()
    assert reader.executions(execs)["source_rows"] == n > 0


def test_jobs_newest_first_and_taken_once(spark):
    reader = StatusReader(spark)
    spark.range(10).collect()
    spark.range(10).collect()
    jobs, _ = reader.take_op()
    ids = [j.jobId() for j in _seq(spark.sparkContext._jsc.sc().statusStore().jobsList(None))]
    assert ids == sorted(ids, reverse=True)
    assert jobs and jobs[-1] == ids[0]
    assert reader.take_op() == ([], [])


def test_jobs_from_helper_threads_are_attributed(spark):
    from concurrent.futures import ThreadPoolExecutor

    reader = StatusReader(spark)
    spark.sparkContext.setJobGroup("main-op", "main")
    with ThreadPoolExecutor(1) as ex:
        ex.submit(lambda: spark.range(10).count()).result()
    jobs, _ = reader.take_op()
    store = spark.sparkContext._jsc.sc().statusStore()
    assert jobs  # AQE may split the count into a map-stage job and a result job
    assert all(store.job(j).jobGroup().isEmpty() for j in jobs)  # the group is not inherited
    spark.sparkContext.setJobGroup(None, None)


def test_jobs_of_a_foreach_batch_stream_are_attributed(spark, tmp_path):
    src = tmp_path / "in"
    spark.range(50).selectExpr("id", "id % 5 AS k").write.json(str(src))
    reader = StatusReader(spark)
    seen = []

    def batch(df, _):
        seen.append(df.groupBy("k").count().count())

    q = (
        spark.readStream.schema("id LONG, k LONG")
        .json(str(src))
        .writeStream.foreachBatch(batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert seen == [5]
    jobs, _ = reader.take_op()
    store = spark.sparkContext._jsc.sc().statusStore()
    groups = {str(store.job(j).jobGroup().get()) for j in jobs if store.job(j).jobGroup().isDefined()}
    assert str(q.runId) in groups  # micro-batches run under the query's run id
    assert reader.stages(jobs)["tasks"] > 0
