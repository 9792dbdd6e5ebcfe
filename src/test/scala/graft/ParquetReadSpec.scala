package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.AnalysisException

/** A cold `Tables.t` read takes its schema from a footer read on the
  * driver (`Tables.readParquet`): it must see the same schema and the same
  * files as `spark.read.parquet` under the same projection, on every input
  * shape the engine reads, fail with Spark's own error classes, and launch
  * no job.
  */
class ParquetReadSpec extends SparkSpec {

  private val sf01 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString

  /** Cold read through Tables.t vs Spark's reader of the same path. */
  private def assertParity(dir: String, name: String): Unit = {
    Tables.invalidate(spark, dir)
    val (ours, jobs) = org.apache.spark.JobCount(spark.sparkContext)(Tables.t(spark, dir, name))
    val spark0 = Tables.normalize(spark.read.parquet(s"$dir/$name.parquet"))
    assert(jobs == 0, s"cold read of $name launched $jobs jobs")
    assert(ours.schema == spark0.schema, s"$name schema")
    assert(ours.inputFiles.sorted.toSeq == spark0.inputFiles.sorted.toSeq, s"$name files")
  }

  test("every fixture table at sf0.01: same schema and files as spark.read.parquet, no job") {
    Tables.All.foreach(assertParity(sf01, _))
  }

  test("real TIMESTAMP(NANOS) parquet: same schema and files as spark.read.parquet") {
    assertParity(NanosFixture.write(), "events")
  }

  test("base file plus appended deltas plus _SUCCESS/.crc files: same schema and files") {
    val dir = Files.createTempDirectory("graft-deltas")
    val table = dir.resolve("lineitem.parquet")
    Files.createDirectories(table)
    Files.copy(Paths.get(s"$sf01/lineitem.parquet"), table.resolve("part-0.parquet"))
    val li = spark.read.parquet(s"$sf01/lineitem.parquet")
    for (k <- 0 until 2)
      li.filter(s"l_orderkey % 7 = $k").write.mode("append").parquet(table.toString)
    val names = Files.list(table).toArray.map(_.toString)
    assert(names.exists(_.endsWith("_SUCCESS")) && names.exists(_.endsWith(".crc")), names.toSeq)
    assertParity(dir.toString, "lineitem")
    assert(Tables.t(spark, dir.toString, "lineitem").inputFiles.length == 3)
  }

  test("a cold read lists its path once: files discovered = files read") {
    import org.apache.spark.metrics.source.HiveCatalogMetrics
    val dir = Files.createTempDirectory("graft-listing")
    val table = dir.resolve("lineitem.parquet")
    Files.createDirectories(table)
    Files.copy(Paths.get(s"$sf01/lineitem.parquet"), table.resolve("part-0.parquet"))
    val li = spark.read.parquet(s"$sf01/lineitem.parquet")
    for (k <- 0 until 3)
      li.filter(s"l_orderkey % 5 = $k").write.mode("append").parquet(table.toString)
    Tables.invalidate(spark, dir.toString)
    val before = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val files = Tables.t(spark, dir.toString, "lineitem").inputFiles.length
    val discovered = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - before
    assert(files == 4 && discovered == files, s"$discovered files discovered for $files")
  }

  test("summary files: the _common_metadata footer is the one read, as in Spark") {
    val dir = Files.createTempDirectory("graft-summary")
    val table = dir.resolve("orders.parquet").toString
    spark.read.parquet(s"$sf01/orders.parquet")
      .write.option("parquet.summary.metadata.level", "ALL").parquet(table)
    assert(Files.exists(Paths.get(s"$table/_common_metadata")))
    // A data file with one more column that sorts first: read it instead of
    // the summary and the schema gains `extra`.
    val other = Files.createTempDirectory("graft-summary-extra").resolve("t").toString
    spark.read.parquet(s"$sf01/orders.parquet").limit(5)
      .selectExpr("*", "1 AS extra").coalesce(1).write.parquet(other)
    val part = Files.list(Paths.get(other)).toArray.map(_.toString).find(_.endsWith(".parquet")).get
    Files.copy(Paths.get(part), Paths.get(s"$table/a.parquet"))
    assertParity(dir.toString, "orders")
    assert(!Tables.t(spark, dir.toString, "orders").columns.contains("extra"))
  }

  test("empty dir and missing path fail with Spark's error classes") {
    val dir = Files.createTempDirectory("graft-empty")
    Files.createDirectories(dir.resolve("empty.parquet"))
    Files.createFile(dir.resolve("empty.parquet/_SUCCESS"))
    for ((name, condition) <- Seq("empty" -> "UNABLE_TO_INFER_SCHEMA", "missing" -> "PATH_NOT_FOUND")) {
      val viaSpark = intercept[AnalysisException](spark.read.parquet(s"$dir/$name.parquet"))
      val ours = intercept[AnalysisException](Tables.t(spark, dir.toString, name))
      assert(viaSpark.getCondition == condition, viaSpark)
      assert(ours.getCondition == condition, ours)
    }
  }
}
