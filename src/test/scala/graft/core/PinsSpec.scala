package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** The pin scope's lifetime rule, checked against the context's own
  * persistent-RDD table: whatever a scope still holds is freed on exit,
  * on the throwing path as well as the returning one. Other suites on the
  * shared session may hold pins of their own, so every check diffs
  * against the set taken before the body ran. */
class PinsSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def frame(n: Long): DataFrame =
    spark.range(n).select(col("id"), (col("id") % 3).as("k"))

  test("a body that throws after pinning leaves no new persistent RDD") {
    val before = persistent
    val e = intercept[IllegalStateException] {
      Pins.result { pins =>
        val a = pins.pin(frame(10))
        pins.pin(a.groupBy(col("k")).count())
        assert((persistent -- before).size == 2, "the two pins are not held")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert((persistent -- before).isEmpty,
      s"throwing body leaked ${persistent -- before}")
  }

  test("on success the returned result is the only new pin") {
    val before = persistent
    val out = Pins.result { pins =>
      val a = pins.pin(frame(20))
      val b = pins.own(frame(30).localCheckpoint())
      a.unionByName(b).groupBy(col("k")).agg(count(lit(1)).as("n"))
    }
    val added = persistent -- before
    assert(added.size == 1, s"expected only the result pinned, got $added")
    assert(out.collect().map(_.getLong(1)).sum == 50L)
    org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(out)
    assert((persistent -- before).isEmpty, "result not freeable")
  }

  test("a loop that releases each superseded round never holds more than two rounds") {
    val before = persistent
    var peak = 0
    val rounds = Pins.scope { pins =>
      var cur = pins.pin(frame(8))
      for (_ <- 1 to 5) {
        val next = pins.pin(cur.select((col("id") + 1).as("id"), col("k")))
        peak = math.max(peak, (persistent -- before).size)
        pins.release(cur)
        cur = next
      }
      assert((persistent -- before).size == 1, "superseded rounds still held")
      pins.disown(cur)
    }
    assert(peak == 2, s"peak rounds held: $peak")
    assert((persistent -- before).size == 1, "disowned round was freed")
    assert(rounds.agg(min(col("id"))).head().getLong(0) == 5L)
    org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(rounds)
    assert((persistent -- before).isEmpty)
  }
}
