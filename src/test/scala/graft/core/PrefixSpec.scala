package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** `Prefix.before` against the single-window definition it replaces:
  * `sum(weight)` over the rows strictly earlier in the order, per group.
  * Every case runs under several range-partition counts and with
  * exchange reuse on and off — the conf the pinned local pass makes
  * irrelevant. */
class PrefixSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** n rows over 6 input partitions: 5 groups of n/5 rows each, so at
    * n=12k every group spans several range partitions at P=32; `a` has 50
    * values (ties) broken by `b`, a permutation of the ids; a quarter of
    * the weights are zero. */
  private def frame(n: Long): DataFrame =
    spark.range(0, n, 1, 6).select(
      col("id"),
      concat(lit("g"), (col("id") % 5).cast("string")).as("g"),
      ((col("id") * 7919) % 50).as("a"),
      ((col("id") * 104729) % n).as("b"),
      when(col("id") % 4 === 0, lit(0L)).otherwise(col("id") % 13).as("w"))

  /** id → `before`, by the engine and by the single window. */
  private def both(df: DataFrame, group: Seq[String], order: Seq[Column],
                   weight: Column): (Map[Long, Long], Map[Long, Long]) = {
    val got = Pins.scope { pins =>
      Prefix.before(pins, df, group, order, weight)
        .select(col("id"), col("before")).collect()
    }
    val w = Window.partitionBy(group.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = df.select(col("id"),
        coalesce(sum(weight).over(w), lit(0L)).as("before")).collect()
    def m(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    (m(got), m(want))
  }

  private def sweep(body: String => Unit): Unit = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.exchange.reuse")
    val saved = keys.map(k => k -> spark.conf.get(k))
    try {
      for (p <- Seq("1", "3", "32"); reuse <- Seq("true", "false")) {
        spark.conf.set(keys(0), p)
        spark.conf.set(keys(1), reuse)
        body(s"P=$p reuse=$reuse")
      }
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("grouped weighted prefix sums equal the single window across " +
      "partition counts and exchange reuse") {
    val df = frame(12000)
    sweep { at =>
      val (got, want) = both(df, Seq("g"), Seq(col("a"), col("b")), col("w"))
      assert(got.size == 12000, at)
      assert(got == want, s"$at: ${got.toSeq.filter(e => want(e._1) != e._2).take(3)}")
    }
  }

  test("ungrouped descending rank equals row_number - 1") {
    val df = frame(12000)
    sweep { at =>
      val (got, want) = both(df, Nil, Seq(col("a").desc, col("b")), lit(1L))
      assert(got == want, at)
      assert(got.values.toSet == (0L until 12000L).toSet, at)
    }
  }

  test("more range partitions than rows leaves empty partitions and the " +
      "same sums; a null group value fails") {
    // 7 rows at P=32: at least 25 range partitions hold nothing
    val df = frame(7)
    sweep { at =>
      val (got, want) = both(df, Seq("g"), Seq(col("a"), col("b")), col("w"))
      assert(got.size == 7 && got == want, at)
    }
    val nullGroup = frame(7).withColumn("g", lit(null).cast("string"))
    val e = intercept[org.apache.spark.SparkException](Pins.scope { pins =>
      Prefix.before(pins, nullGroup, Seq("g"), Seq(col("b")), col("w"))
    })
    assert(e.getMessage.contains("null group value"))
  }

  test("the pinned local pass is freed when the caller's scope exits") {
    val before = persistent
    val n = Pins.scope { pins =>
      val out = Prefix.before(pins, frame(2000), Seq("g"), Seq(col("b")), col("w"))
      assert((persistent -- before).size == 1, "the local pass is not pinned")
      out.count()
    }
    assert(n == 2000)
    assert((persistent -- before).isEmpty, s"leaked ${persistent -- before}")
  }
}
