package graft.core

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.{PlanCapture, SparkTest}

/** `Tables` reads each table's schema from one parquet footer on the
  * driver: the schema must be the one Spark's inference gives, and a load
  * must start no Spark job. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  /** The loader as it was: Spark's own schema inference, then the same
    * `events.ts` fix-up. */
  private def inferred(dir: String, name: String): DataFrame = {
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  test("every table's footer-read schema equals Spark's inferred schema at sf0.001 and sf0.01") {
    for (dir <- Seq(SparkTest.sf0001, SparkTest.sf001); name <- Tables.all) {
      val want = inferred(dir, name)
      val path = s"$dir/$name.parquet"
      assert(Bridge.parquetSchema(spark, path) ==
        spark.read.parquet(path).schema, s"$dir $name footer schema")
      val got = Tables(spark, dir, name)
      assert(got.schema == want.schema, s"$dir $name")
    }
    // and the rows read under the given schema are the inferred read's
    val dir = SparkTest.sf0001
    for (name <- Tables.all)
      assert(Tables(spark, dir, name).exceptAll(inferred(dir, name)).isEmpty &&
        inferred(dir, name).exceptAll(Tables(spark, dir, name)).isEmpty, name)
  }

  test("a directory of Spark-written part-files reads with the inferred schema") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-tables").toString
    try {
      val path = s"$tmp/t.parquet"
      (0L until 40L).map(i => (i, s"s$i", i * 0.5, Array(i.toFloat, 1f),
          new java.sql.Timestamp(i * 1000L), BigDecimal(i) / 7))
        .toDF("id", "name", "x", "v", "ts", "d")
        .repartition(3).write.parquet(path)
      // _SUCCESS and .crc files sit next to the part-files
      val names = new java.io.File(path).list().toSeq
      assert(names.exists(_.startsWith("_")) && names.exists(_.startsWith(".")),
        names.mkString(","))
      assert(names.count(_.startsWith("part-")) == 3, names.mkString(","))
      val got = Tables(spark, tmp, "t")
      assert(got.schema == spark.read.parquet(path).schema)
      assert(got.count() == 40)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("a Tables load starts no Spark job") {
    for (dir <- Seq(SparkTest.sf0001, SparkTest.sf001); name <- Tables.all) {
      val jobs = PlanCapture.during(spark)(Tables(spark, dir, name)).jobs
      assert(jobs == 0, s"$dir $name: $jobs jobs")
    }
  }
}
