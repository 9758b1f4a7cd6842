package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * One parquet file per table per scale-factor directory. All queries take
  * the sf dir as a parameter so the same builder runs at any scale — at
  * cluster scale these paths would be directories of many parquet
  * part-files and nothing here changes.
  *
  * THE SCHEMA RULE: every load reads its schema from one parquet footer on
  * the driver ([[Bridge.parquetSchema]]: the first data file by name, the
  * file Spark's own non-merging inference reads) and hands it to
  * `spark.read.schema(s)`. Spark's inference would read that same footer
  * inside a one-task Spark job per load; a query that only scans the
  * table never needs that job. Nothing is cached: every call still reads
  * the footer, lists the files and scans them.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir) else parquet(spark, s"$dir/$name.parquet")

  /** The one parquet reader: `path` (a file, or a directory of
    * part-files) under the schema of one footer read on the driver — the
    * schema `spark.read.parquet(path)` infers, without its one-task
    * inference job. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Bridge.parquetSchema(spark, path)).parquet(path)

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects ([PARQUET_TYPE_ILLEGAL]). Read nanos as long via the
    * legacy conf and truncate to microseconds (Spark's native precision).
    * Session-scoped and harmless for the other tables (millis/micros
    * timestamps are unaffected by the conf). */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = parquet(spark, s"$dir/events.parquet")
    if (df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** Register every table as a temp view (SQL entry point). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
