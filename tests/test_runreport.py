"""The benches' measurement module: checksum, job-group counters read from
the driver's status store with the UI off, result files and the
BENCH/BASELINE.md section splice."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_quality_spark import runreport


def test_checksum_forces_every_column(spark):
    df = spark.createDataFrame([(1, "a"), (2, None)], "k INT, v STRING")
    n, chk = runreport.checksum(df)
    assert n == 2
    # the checksum reads v: a changed value changes it
    assert runreport.checksum(df.withColumn("v", F.lit("b")))[1] != chk


def test_measure_reads_counters_without_ui(spark):
    assert spark.sparkContext.uiWebUrl is None
    # a job outside the step is not counted
    spark.range(100).repartition(3).count()
    with runreport.measure(spark, "shuffle") as step:
        rows = spark.range(10_000).repartition(4).groupBy((F.col("id") % 7).alias("k")).count().collect()
    assert len(rows) == 7
    assert step["wall_s"] > 0 and step["jobs"] >= 1 and step["failed_tasks"] == 0
    assert step["shuffle_write_bytes"] > 0 and step["tasks"] >= 4
    # AQE runs the query as several jobs; the later ones list the stages
    # the earlier ones ran as skipped stages, and those count too
    assert step["stages"] > step["jobs"]
    with runreport.measure(spark, "empty") as idle:
        pass
    assert {k: v for k, v in idle.items() if k != "wall_s"} == dict.fromkeys(
        ["jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes", "memory_spill_bytes", "disk_spill_bytes"], 0
    )


def test_measure_sees_spill(spark):
    # a window buffer that holds at most 2,000 rows spills a 10,000-row
    # partition to disk
    spark.conf.set("spark.sql.windowExec.buffer.in.memory.threshold", "2000")
    spark.conf.set("spark.sql.windowExec.buffer.spill.threshold", "2000")
    try:
        df = spark.range(20_000).select((F.col("id") % 2).alias("k"), "id")
        with runreport.measure(spark, "window") as step:
            runreport.checksum(df.select("k", F.sum("id").over(Window.partitionBy("k")).alias("t")))
    finally:
        spark.conf.unset("spark.sql.windowExec.buffer.in.memory.threshold")
        spark.conf.unset("spark.sql.windowExec.buffer.spill.threshold")
    assert step["memory_spill_bytes"] > 0 and step["disk_spill_bytes"] > 0


def test_write_result(tmp_path, monkeypatch):
    (tmp_path / "bench").mkdir()
    monkeypatch.setattr(runreport, "REPO", tmp_path)
    runreport.write_result("x.json", {"b": 1, "a": [2]})
    assert (tmp_path / "bench" / "x.json").read_text() == '{\n "a": [\n  2\n ],\n "b": 1\n}\n'


def test_splice_baseline_replaces_only_its_section(tmp_path, monkeypatch):
    path = tmp_path / "BENCH" / "BASELINE.md"
    monkeypatch.setattr(runreport, "BASELINE", path)
    runreport.splice_baseline("## soak", "## soak (day 1)\n\nold\n")
    assert path.read_text() == "## soak (day 1)\n\nold\n"
    runreport.splice_baseline("# BASE", "# BASE\n\nintro\n")
    runreport.splice_baseline("## isDate", "## isDate\n\nfloor\n")
    md = "## soak (day 1)\n\nold\n\n# BASE\n\nintro\n\n## isDate\n\nfloor\n"
    assert path.read_text() == md
    path.write_text("# BASE\n\nintro\n\n## soak (day 1)\n\nold\n\n## other\n\n| keep  |\n\n\n## isDate\n\nfloor\n")
    runreport.splice_baseline("## soak", "## soak (day 2)\n\nnew rows\n")
    runreport.splice_baseline("# BASE", "# BASE\n\nintro 2\n")
    runreport.splice_baseline("## isDate", "## isDate\n\nfloor 2\n")
    assert path.read_text() == (
        "# BASE\n\nintro 2\n\n## soak (day 2)\n\nnew rows\n\n## other\n\n| keep  |\n\n\n## isDate\n\nfloor 2\n"
    )
