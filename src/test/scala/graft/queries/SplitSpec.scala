package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest
import graft.dedup.{Components, Dedup}

/** q175 leak-proof split: the property the oracle's 3-row summary can't
  * show — every near-dup cluster lands WHOLLY inside one split, and the
  * guard is non-vacuous: a doc-level hash split DOES straddle at least
  * one real cluster on this fixture. */
class SplitSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private val dir = SparkTest.sf0001

  test("q175: clusters never straddle splits; doc-level hashing would have") {
    val pairs = Dedup.minhashVerifiedPairs(spark, dir, 0.5, 0.7)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val labels = Components.connectedComponents(pairs)
    try {
      val perDoc = labels
        .select(col("id").as("doc_id"), col("comp"))
        .withColumn("cluster_split", Curation.splitOfComp(col("comp")))
        .withColumn("doc_split", Curation.splitOfComp(col("doc_id")))
      // (a) leak-proof: every cluster has exactly one cluster-level split
      val straddling = perDoc.groupBy(col("comp"))
        .agg(countDistinct(col("cluster_split")).as("ns"))
        .where(col("ns") > 1).count()
      assert(straddling === 0L, "a cluster straddles splits")
      // (b) non-vacuous: some multi-doc cluster's members get DIFFERENT
      // doc-level splits — the leakage the cluster-level rule prevents
      val docLevelLeaks = perDoc.groupBy(col("comp"))
        .agg(countDistinct(col("doc_split")).as("ns"),
          count(lit(1)).as("n"))
        .where(col("n") > 1 && col("ns") > 1).count()
      assert(docLevelLeaks > 0L,
        "fixture has no cluster that a doc-level split would straddle — " +
          "the guard is vacuous here")
      // (c) the summary partitions the corpus
      val df = Curation.q175(spark, dir)
      val rows = df.collect()
      org.apache.spark.sql.graftbridge.Bridge.freeIfDirectCheckpoint(df)
      val nDocs = graft.core.Tables(spark, dir, "documents").count()
      assert(rows.map(_.getLong(2)).sum === nDocs)
      assert(rows.map(_.getString(0)).toSet.subsetOf(
        Set("train", "val", "test")))
    } finally org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(labels)
  }
}
