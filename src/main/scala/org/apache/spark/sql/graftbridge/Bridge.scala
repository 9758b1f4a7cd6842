package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal accessor for the `private[sql]` Column↔Expression converters —
  * the supported way to use a custom Catalyst Expression from the public
  * DataFrame API in Spark 4 (classic backend). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function builder on a live session's registry (the
    * `sessionState` accessor is `private[sql]`; this package-located
    * helper is the supported way in, mirroring `column`/`expression`). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** The schema `spark.read.parquet(path)` infers, read on the driver from
    * one footer — no Spark job. `path` is a parquet file or a directory of
    * part-files; the footer is the first data file's by name (names
    * starting with `_` or `.` are not data), the file Spark's non-merging
    * inference reads, converted by Spark's own footer reader under the
    * session's conf (so `nanosAsLong`, NTZ inference and binary-as-string
    * apply as they would there). */
  def parquetSchema(spark: org.apache.spark.sql.SparkSession,
                    path: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val conf = state.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val top = fs.getFileStatus(p)
    val file =
      if (!top.isDirectory) top
      else fs.listStatus(p).filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.sortBy(_.getPath.toString).headOption.getOrElse(
        throw new IllegalArgumentException(s"no parquet data file in $path"))
    val footer = new org.apache.parquet.hadoop.Footer(file.getPath,
      ParquetFooterReader.readFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf),
        org.apache.parquet.format.converter.ParquetMetadataConverter
          .SKIP_ROW_GROUPS))
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(state.conf))
  }

  /** Block until every event already posted to the context's listener
    * bus has been delivered (`listenerBus` is `private[spark]`), so a
    * [[graft.PlanCapture]] listener has seen every finished action. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** `QueryExecutionErrors` is `private[sql]`; kernels that reproduce
    * ANSI Divide semantics (CosineSimExpr) raise the real error class
    * through this forwarder (also called from generated code). */
  def divideByZeroError(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)

  /** Bloom-filter aggregate over a column — the build side of Spark's own
    * runtime-filter pattern (`InjectRuntimeFilter`), exposed for explicit
    * use. Returns a 1-row binary column: the serialized
    * `org.apache.spark.util.sketch.BloomFilter` of `xxhash64(c)`, sized
    * for `expectedItems` (clamped by the session's runtime-bloom-filter
    * confs). Bounded state per partition; partial sketches OR-merge
    * map-side like any algebraic aggregate. */
  def bloomFilterAgg(c: Column, expectedItems: Long): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(
        new org.apache.spark.sql.catalyst.expressions.XxHash64(
          Seq(expression(c))),
        expectedItems)
      .toAggregateExpression())

  /** Probe side of the runtime-filter pattern: a predicate testing
    * `xxhash64(c)` against the bloom filter produced by `bloomDf` (a
    * 1-row/1-col frame from [[bloomFilterAgg]]). The bloom frame rides as
    * a SCALAR SUBQUERY — exactly how `InjectRuntimeFilter` plants its
    * filters — so the sketch is computed once, broadcast with the plan,
    * and the probe stays inside whole-stage codegen. May return false
    * positives, never false negatives: callers confirm survivors with an
    * exact join (the sketch only PRUNES the expensive probe). */
  def bloomMightContain(bloomDf: org.apache.spark.sql.Dataset[_],
                        c: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
        bloomDf.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
          .queryExecution.analyzed),
      new org.apache.spark.sql.catalyst.expressions.XxHash64(
        Seq(expression(c)))))

  /** localCheckpoint a frame WITH a declared hash layout: explicitly
    * `repartition(P, partCols)` (REPARTITION_BY_NUM — AQE never coalesces
    * a user-numbered repartition, which is what makes the declaration
    * structurally true; an implicit ENSURE_REQUIREMENTS exchange can be
    * AQE-coalesced into a layout no HashPartitioning describes), then
    * optionally sort within partitions, checkpoint, and re-declare the
    * layout on the returned LogicalRDD via [[declareHashPartitioned]].
    * P defaults to the session's shuffle-partition count — the same
    * scale-adaptive knob every other exchange uses (the launch settings'
    * `SPARK_GRAFT_CPUS`/`SPARK_GRAFT_SHUFFLE_PARTITIONS`), so nothing
    * here is tuned to a fixed core count. The result is a direct
    * checkpoint, owned (`graft.core.Pins.own`) like a plain one. */
  def checkpointPartitioned(df: org.apache.spark.sql.DataFrame,
      partCols: Seq[String],
      sortCols: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val parted = df.repartition(n, partCols.map(df.col): _*)
    val laid =
      if (sortCols.isEmpty) parted
      else parted.sortWithinPartitions(sortCols.map(df.col): _*)
    declareHashPartitioned(laid.localCheckpoint(), partCols, n, sortCols)
  }

  /** Re-declare the physical layout of a `localCheckpoint()`ed Dataset.
    *
    * `Dataset.localCheckpoint` returns a LogicalRDD whose partitioning is
    * `UnknownPartitioning` under AQE (the adaptive wrapper hides the final
    * stage's partitioning at checkpoint time), so every downstream join or
    * aggregate keyed exactly like the frame's producing shuffle pays a
    * full re-Exchange of the pinned data — once per consumer, once per
    * iteration in the iterative engines. This helper rebuilds the SAME
    * LogicalRDD (same RDD, same output, same stats/constraints) with the
    * partitioning — and optionally the within-partition sort order — the
    * caller just MATERIALIZED it with, so Catalyst can plan exchange-free
    * consumers (the in-memory analog of a bucketed+sorted table; at 100 TB
    * the standing state IS stored bucketed by its join key and readers get
    * this for free from the layout).
    *
    * CONTRACT: the declaration must be structurally true — callers invoke
    * this ONLY on a frame checkpointed directly from a plan whose final
    * stage partitioned by `partCols` into the session shuffle-partition
    * count `n` (e.g. `repartition(n, cols)` / a window or aggregate keyed
    * on them) and, when `sortCols` is given, whose partitions were sorted
    * by those columns. A false claim silently mis-joins, exactly like a
    * lying bucketed table. */
  def declareHashPartitioned(df: org.apache.spark.sql.Dataset[_],
      partCols: Seq[String], n: Int,
      sortCols: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val l = directCheckpoint(df, "declareHashPartitioned")
    val spark =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].sparkSession
    val attr = l.output.map(a => a.name -> a).toMap
    val part = org.apache.spark.sql.catalyst.plans.physical
      .HashPartitioning(partCols.map(attr(_)), n)
    val ord = sortCols.map(c =>
      org.apache.spark.sql.catalyst.expressions.SortOrder(attr(c),
        org.apache.spark.sql.catalyst.expressions.Ascending))
    // not l.copy: the curried (session, originStats, originConstraints)
    // list is constructor-only — rebuild, carrying the EFFECTIVE stats
    // and constraints through the public accessors so downstream size
    // estimation (broadcast decisions) is unchanged
    val rewrapped = new org.apache.spark.sql.execution.LogicalRDD(
      l.output, l.rdd, part, ord, l.isStreaming, l.stream)(
      spark, Some(l.stats), Some(l.constraints))
    org.apache.spark.sql.classic.Dataset.ofRows(spark, rewrapped)
  }

  /** The checkpoint's LogicalRDD at the root of a Dataset returned
    * DIRECTLY by `localCheckpoint()` — the argument contract of
    * [[declareHashPartitioned]], [[unpersistLocalCheckpoint]] and
    * [[pinnedBytes]]; any other plan root is rejected, naming `caller`. */
  private def directCheckpoint(df: org.apache.spark.sql.Dataset[_],
      caller: String): org.apache.spark.sql.execution.LogicalRDD =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD => l
        case other => throw new IllegalArgumentException(
          s"$caller expects a Dataset returned directly by " +
            s"localCheckpoint(); got plan root ${other.nodeName}")
      }

  /** Free the storage behind a `localCheckpoint()`ed Dataset. Iterative
    * algorithms (connected components, k-means) checkpoint every round;
    * `Dataset.unpersist` can't reach checkpoint storage (it only talks to
    * the cache manager), so superseded rounds would otherwise accumulate
    * for the life of the session.
    *
    * CONTRACT: the argument must be the Dataset returned DIRECTLY by
    * `localCheckpoint()` — its plan root is the checkpoint's LogicalRDD.
    * A derived frame (`ck.select(...)`) is rejected rather than walked:
    * walking would also unpersist any OTHER still-live checkpoint embedded
    * in the plan, truncating a lineage someone still depends on, and the
    * failure would surface later as an unrelated action dying on missing
    * blocks. */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.Dataset[_]): Unit =
    directCheckpoint(df, "unpersistLocalCheckpoint").rdd
      .unpersist(blocking = false)

  /** Bytes the block manager holds (memory + disk) for the storage
    * behind a `localCheckpoint()`ed Dataset — read from the context's
    * storage info, no job (the filtered `getRDDStorageInfo` is
    * `private[spark]`). Same argument contract as
    * [[unpersistLocalCheckpoint]]. */
  def pinnedBytes(df: org.apache.spark.sql.Dataset[_]): Long = {
    val rdd = directCheckpoint(df, "pinnedBytes").rdd
    rdd.sparkContext.getRDDStorageInfo(_.id == rdd.id)
      .map(i => i.memSize + i.diskSize).sum
  }

  /** Best-effort harness-side companion: free the frame's storage IFF its
    * plan root is a direct local checkpoint (queries like q66/q80/q103/
    * q104 return one under their storage contract); any other frame is
    * left untouched. Returns whether anything was freed. Lets Bench/Verify
    * honor the consume-then-free contract generically without knowing
    * which queries pin results.
    *
    * Guard: a LogicalRDD root alone is not proof of a checkpoint — a
    * `createDataFrame(rdd)` frame has one too, and unpersisting an RDD the
    * caller still owns would be a silent data hazard. Only an RDD actually
    * HOLDING storage (level != NONE) is freed; a plain LogicalRDD is left
    * untouched. */
  def freeIfDirectCheckpoint(df: org.apache.spark.sql.Dataset[_]): Boolean =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD
            if l.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE =>
          l.rdd.unpersist(blocking = false); true
        case _ => false
      }
}
