package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** q160 — incremental PageRank at the ingest posture.
  *
  * Three properties pin it:
  *  1. THE Δ-GRAPH THEOREM (the oracle's premise): the edge list
  *     assembled incrementally — standing base pairs minus the
  *     newly-over-cap losses, plus the batch-probed additions — equals
  *     a from-scratch [[GraphRank.rareTrigramEdges]] build over the
  *     full corpus, edge for edge, degree for degree.
  *  2. MACHINERY IDENTITY: driving the shared iteration engine COLD
  *     (uniform start, q129's schedule) over the incremental edges
  *     reproduces q129's from-scratch output bit-for-bit — the only
  *     delta the incremental path introduces is the start vector.
  *  3. WARM-START VALUE: the warm vector after `incrIters` rounds is
  *     within a small L1 distance of the cold full-schedule rebuild —
  *     the ingest round buys near-rebuild ranks at batch cost.
  */
class IncrementalPageRankSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private val dir = SparkTest.sf0001

  test("incremental edge list equals the from-scratch full-corpus build") {
    val docs = graft.core.Tables(spark, dir, "documents")
    val b = org.apache.spark.sql.graftbridge.Bridge
    def edgeSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // q160's maxDf, and a cap inside this fixture's trigram df spectrum
    // (it tops out at 6) so the batch pushes standing grams over it
    for (maxDf <- Seq(50, 3)) {
      val (incr, want) = graft.core.Pins.scope { pins =>
        val (fullEdges, _, _) =
          GraphRank.q160Internals(pins, spark, dir, maxDf = maxDf)
        val scratch =
          pins.own(GraphRank.rareTrigramEdges(docs, maxDf, 3))
        (edgeSet(fullEdges), edgeSet(scratch))
      }
      assert(incr.nonEmpty, "incremental graph is empty — fixture degenerate")
      assert((incr diff want).isEmpty,
        s"incremental edges not in rebuild: ${(incr diff want).take(5)}")
      assert((want diff incr).isEmpty,
        s"rebuild edges missed incrementally: ${(want diff incr).take(5)}")
      // non-vacuity of the Δ machinery itself: the batch really added
      // edges relative to the standing base graph
      val baseOnly = GraphRank.rareTrigramEdges(
        docs.where(col("doc_id") % 10 < 7), maxDf, 3)
      val baseEdges = edgeSet(baseOnly).map(e => (e._1, e._2))
      b.unpersistLocalCheckpoint(baseOnly)
      assert(want.size > baseEdges.size,
        "batch added no edges — incremental path untested")
      // and at the low cap the removal path too: some standing base↔base
      // edge is gone from the full graph (its shared grams went over cap)
      if (maxDf == 3)
        assert((baseEdges diff want.map(e => (e._1, e._2))).nonEmpty,
          "no standing edge lost to the batch — removal path untested")
    }
  }

  test("cold start over the incremental graph reproduces q129 exactly") {
    val b = org.apache.spark.sql.graftbridge.Bridge
    val got = graft.core.Pins.scope { pins =>
      val (fullEdges, _, fullVerts) = GraphRank.q160Internals(pins, spark, dir)
      val nFull = graft.core.Tables(spark, dir, "documents").count()
      val r0 = GraphRank.Scale / nFull
      val cold = pins.own(GraphRank.iterateRanks(fullVerts, fullEdges,
        fullVerts.select(col("doc_id"), lit(r0).as("r")), 5))
      cold.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    val q129 = GraphRank.q129(spark, dir)
    val want = q129.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    b.unpersistLocalCheckpoint(q129)
    assert(got == want,
      "cold run over incremental edges diverges from from-scratch q129")
  }

  test("q160 output is partition-count invariant (integer recurrence, P=3 vs P=5)") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    val b = org.apache.spark.sql.graftbridge.Bridge
    try {
      val runs = Seq("3", "5").map { p =>
        spark.conf.set(key, p)
        val out = GraphRank.q160(spark, dir)
        val rows = out.collect().map(_.toSeq).toSeq
        b.unpersistLocalCheckpoint(out)
        rows
      }
      assert(runs(0) == runs(1), "q160 output depends on partition count")
    } finally spark.conf.set(key, saved)
  }

  test("warm-started ranks land near the cold full-schedule rebuild") {
    val q160 = GraphRank.q160(spark, dir)
    val warm = q160.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = org.apache.spark.sql.graftbridge.Bridge
    b.unpersistLocalCheckpoint(q160)
    val q129 = GraphRank.q129(spark, dir)
    val cold = q129.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    b.unpersistLocalCheckpoint(q129)
    assert(warm.keySet == cold.keySet)
    val l1 = warm.map { case (id, r) => math.abs(r - cold(id)) }.sum.toDouble
    // 0.85^3 contraction on the start-vector gap: the warm 3-round vector
    // must sit within a few percent of the 5-round rebuild's total mass
    assert(l1 / GraphRank.Scale <= 0.10,
      f"warm ranks ${l1 / GraphRank.Scale}%.4f of total mass away from rebuild")
  }
}
