package graft.core

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Distributed prefix sums and ranks without a partition-less window: the
  * two-round MapReduce prefix-sum shape (range partition, local scan, a
  * small offset table broadcast back). Every task touches ~n/P rows at any
  * input size; the only global structure is one row per (range partition,
  * group). */
object Prefix {
  private val Reserved = Set("pid", "weight", "local_before", "offset", "before")

  /** `df`'s rows plus a Long `before` column: the sum of `weight` (a
    * non-null Long) over the rows strictly earlier in the total order
    * `order`, restarting at each value of the non-null `group` columns.
    * With weight `lit(1L)`, `before` is the 0-based rank.
    *
    *  1. `repartitionByRange` on `group ++ order` into
    *     `spark.sql.shuffle.partitions` partitions, sorted within each.
    *  2. One local pass accumulates `weight` per (partition, group) run,
    *     keyed by the physical partition id.
    *  3. A `groupBy(pid[, group])` total table, turned into running
    *     offsets by a window ordered by `pid`, is broadcast back.
    *
    * The local pass is pinned in `pins`: the offsets branch and the join
    * branch both consume it keyed on the partition id, and two
    * independently planned range exchanges sample their own boundaries.
    * Without the pin the two branches agree only while Spark reuses one
    * exchange for both (`spark.sql.exchange.reuse`); with the pin they
    * read one materialized partitioning under every conf. `order` must be
    * a total order within each group for `before` to be deterministic. */
  def before(pins: Pins, df: DataFrame, group: Seq[String],
             order: Seq[Column], weight: Column): DataFrame = {
    val clash = df.columns.filter(Reserved)
    require(clash.isEmpty,
      s"Prefix.before: reserved column(s) ${clash.mkString(", ")}")
    val p = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val cols = df.columns.toSeq.map(col)
    val keys = group.map(col) ++ order
    val in = df.select(cols :+ weight.cast(LongType).as("weight"): _*)
      .repartitionByRange(p, keys: _*)
      .sortWithinPartitions(keys: _*)
    val wi = in.schema.fieldIndex("weight")
    val gi = group.map(in.schema.fieldIndex)
    val schema = StructType(in.schema.fields ++ Seq(
      StructField("pid", IntegerType, nullable = false),
      StructField("local_before", LongType, nullable = false)))
    val local = pins.pin(in.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var prev: Row = null
      var acc = 0L
      it.map { r =>
        require(!gi.exists(r.isNullAt), "Prefix.before: null group value")
        if (prev != null && gi.exists(i => r.get(i) != prev.get(i))) acc = 0L
        prev = r
        val before = acc
        acc += r.getLong(wi)
        Row.fromSeq(r.toSeq :+ pid :+ before)
      }
    }(Encoders.row(schema)))

    val offsets = local.groupBy(col("pid") +: group.map(col): _*)
      .agg(sum(col("weight")).as("total"))
      .select(col("pid") +: group.map(col) :+
        coalesce(
          sum(col("total")).over(Window.partitionBy(group.map(col): _*)
            .orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("offset"): _*)
    local.join(broadcast(offsets), "pid" +: group)
      .select(cols :+ (col("offset") + col("local_before")).as("before"): _*)
  }
}
