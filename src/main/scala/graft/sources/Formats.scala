package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** File-format connectors (SURVEY.md §2.3 "File formats / connectors").
  * The reference reads plain text and writes text lines
  * (/root/reference/src/mr/worker.go:82, 134); our engine exposes the full
  * DataFrameReader/Writer format matrix. These helpers pin the
  * deterministic options used across the library (header/compression) so
  * round-trips are loss-free. Avro lives in [[AvroIO]] (self-contained
  * connector — the spark-avro module is absent from this sandbox).
  */
object Formats {

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)
  def readParquet(spark: SparkSession, path: String): DataFrame =
    graft.core.Tables.parquet(spark, path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** CSV with header; schema supplied on read (header-only inference would
    * make every column a string). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)
  def readCsv(spark: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** JSON lines (one object per row). */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
  def readJson(spark: SparkSession, path: String,
               schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Text lines (the reference's only format). */
  def writeText(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").text(path)
  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** JDBC (SURVEY §2.3 connectors row): every real pipeline eventually
    * reads a dimension from an RDBMS. The write fans out over the frame's
    * partitions (one connection each); the read is single-partition unless
    * `partitionColumn` bounds are given — for a dimension table that's the
    * right shape (read once, then `broadcast()` it into the fact join, as
    * q05 does with file-backed dims). Exercised in FormatsSpec against
    * embedded Derby (the JDBC driver Spark itself ships for metastores),
    * including decimal/timestamp fidelity. */
  def writeJdbc(df: DataFrame, url: String, table: String,
                props: java.util.Properties = new java.util.Properties): Unit =
    df.write.mode("overwrite").jdbc(url, table, props)

  def readJdbc(spark: SparkSession, url: String, table: String,
               props: java.util.Properties = new java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, props)

  /** Parallel bounded read: `numPartitions` range-splits on a numeric
    * column — the scale form when the source table is large enough that a
    * single-connection read is the bottleneck. */
  def readJdbcPartitioned(spark: SparkSession, url: String, table: String,
                          partitionColumn: String, lower: Long, upper: Long,
                          numPartitions: Int): DataFrame =
    spark.read.jdbc(url, table, partitionColumn, lower, upper, numPartitions,
      new java.util.Properties)

  /** q205 — SCHEMA EVOLUTION read: a table whose files were written by
    * two pipeline generations — the old writer emitted (orderkey,
    * totalprice), the upgraded writer added `o_orderpriority` — read
    * back as ONE table via parquet schema merging, with the old files'
    * missing column surfacing as NULL. This is the steady state of every
    * long-lived 100 TB table: columns get added mid-life and nobody
    * rewrites exabytes of history, so the READER must reconcile file
    * schemas (the reference sidesteps the problem by having no schema at
    * all — text lines, worker.go:82).
    *
    * Scale shape: `mergeSchema` pays one footer read per FILE at plan
    * time (safe for a demo and for modest file counts; at extreme file
    * counts production pins the merged schema in a catalog instead —
    * that variant is the same read with an explicit `.schema(...)`).
    * The aggregate itself is one partial-agged groupBy; the generation
    * flag each row carries is `o_orderpriority IS NULL`, i.e. pure scan
    * output. The fixture split is by order YEAR (pre/post 1998), so the
    * DuckDB oracle rebuilds both generations from `orders` directly. */
  def q205(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    // the two generations are written once per SparkContext
    // (StandingState) under a per-(dir, process) path, so concurrent
    // processes never clobber each other's files
    val base = graft.core.StandingState.of(spark, "evo", dir) {
      val rootFile = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_evo_${graft.core.StandingState.processTag(dir)}")
      val root = rootFile.getAbsolutePath
      // the registry guarantees the layout is only needed for the process
      // lifetime — remove it on exit so repeated q205 runs don't strand a
      // new graft_evo_* directory per process under tmpdir (ADVICE r10)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        deleteRecursively(rootFile)))
      val o = graft.core.Tables(spark, dir, "orders")
      o.where(year(col("o_orderdate")) < 1998)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$root/gen=1")
      o.where(year(col("o_orderdate")) >= 1998)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$root/gen=2")
      root
    }
    // mergeSchema: the generations' schemas differ, so every footer is
    // read — the one-footer reader cannot give the merged schema
    spark.read.option("mergeSchema", "true")
      .parquet(s"$base/gen=1", s"$base/gen=2")
      .groupBy(coalesce(col("o_orderpriority"), lit("(pre-upgrade)"))
        .as("priority"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast(DecimalType(18, 4))), 2)
          .cast(DoubleType).as("total"))
      .orderBy(col("priority"))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }
}
