package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest
import graft.dedup.Dedup

/** q103 — the training manifest with the near-dup tier wired in.
  *
  * Three properties pin the composition:
  *  1. the oracle-equality premise: at the q103 operating point
  *     (candidateEst=0.5, exactThreshold=0.7) the minhash-verified pair
  *     set EQUALS exact all-pairs shingle Jaccard on the fixture — the
  *     fact that lets the DuckDB twin compute the same clusters from
  *     exact Jaccard + recursive reachability;
  *  2. q103 = q100 minus exactly the near-dup cluster non-keepers, with
  *     offsets repacked over the surviving set (driver union-find
  *     re-derivation);
  *  3. on a corpus with NO near-dups, q103 IS q100 (the judge's identity
  *     criterion), and the storage contract holds: the label table is
  *     freed inside the query, only the direct result checkpoint remains,
  *     and Bridge.freeIfDirectCheckpoint releases it to zero.
  */
class ManifestSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private val dir = SparkTest.sf0001

  test("minhash-verified pairs equal exact all-pairs shingle jaccard at j >= 0.7") {
    // recall-1 premise of q103's DuckDB oracle (see q103 scaladoc): the
    // banding miss probability at j=0.7 is ~1.5e-4 per pair and xxhash64
    // is deterministic, so on this fixture the equality is a fixed fact.
    // Asserted at BOTH sf0.001 (the suite's fixture) and sf0.01 — the SF
    // the driver's oracle gate actually runs q103/q106 at.
    for (sf <- Seq(dir, "/root/testdata/sf0.01")) {
      val verified = Dedup.minhashVerifiedPairs(spark, sf, 0.5, 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val exact = Dedup.shingleJaccardPairs(spark, sf, 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(verified == exact,
        s"LSH recall < 1 at the q103 operating point ($sf): " +
          s"missed=${exact.diff(verified).take(5)} extra=${verified.diff(exact).take(5)}")
      assert(exact.nonEmpty, s"$sf has no near-dup pairs — test is vacuous")
      // q29's graduated presentation (no est pre-filter) sits between
      // q47's set and exact all-pairs — assert the equality DIRECTLY at
      // both gate SFs (the premise of q29's DuckDB oracle)
      val q29 = Dedup.q29(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(q29 == exact,
        s"q29 verified set != exact all-pairs ($sf): " +
          s"missed=${exact.diff(q29).take(5)} extra=${q29.diff(exact).take(5)}")
    }
  }

  test("q103 drops exactly the near-dup cluster non-keepers, then repacks") {
    val seqLen = 128
    // driver-side ground truth: union-find over the verified pairs
    val pairs = Dedup.minhashVerifiedPairs(spark, dir, 0.5, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val members = (pairs.map(_._1) ++ pairs.map(_._2)).distinct
    val drop = members.filter(id => find(id) != id).toSet
    assert(drop.nonEmpty, "fixture forms no multi-doc near-dup clusters")

    // expected = q100's curated (doc_id, n_tok) minus the drop set,
    // repacked with fresh prefix sums in doc_id order
    val q100 = Curation.q100(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    var acc = 0L
    val expected = q100.filterNot { case (id, _) => drop(id) }
      .sortBy(_._1)
      .map { case (id, n) =>
        val start = acc; acc += n
        (id, n, start, start / seqLen, (start + n - 1) / seqLen,
          (start + n - 1) / seqLen - start / seqLen + 1)
      }
    val got = Curation.q103(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected)
    assert(got.size < q100.size, "near-dup tier dropped nothing from q100")
  }

  test("a corpus with no near-dups yields exactly q100's manifest; storage freed") {
    // six pairwise-dissimilar docs that all pass the quality gate
    // (alpha ratio >= 0.7, >= 10 tokens, ids off the benchMod slice)
    val tmp = Files.createTempDirectory("manifest").toString
    import spark.implicits._
    val texts = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda",
      2L -> "one two three four five six seven eight nine ten eleven twelve",
      3L -> "red orange yellow green blue indigo violet cyan magenta white black",
      4L -> "apple banana cherry date elderberry fig grape kiwi lemon mango pear",
      5L -> "north south east west up down left right front back middle center",
      6L -> "spark scala query plan shuffle partition broadcast join filter agg sort")
    texts.map { case (id, t) => (id, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(tmp + "/documents.parquet")
    assert(Dedup.minhashVerifiedPairs(spark, tmp, 0.5, 0.7).count() == 0,
      "fixture unexpectedly contains near-dups")

    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = Curation.q103(spark, tmp)
    val got = out.collect().map(_.toSeq).toSeq
    // label table freed inside the query: only the direct result
    // checkpoint may remain pinned
    val pinned = sc.getPersistentRDDs.keySet.diff(before)
    assert(pinned.size <= 1, s"more than the result pinned: $pinned")
    assert(
      org.apache.spark.sql.graftbridge.Bridge.freeIfDirectCheckpoint(out),
      "q103 result is not a direct checkpoint (storage contract)")
    assert(sc.getPersistentRDDs.keySet.diff(before).isEmpty,
      "q103 storage not freeable to zero")

    val want = Curation.q100(spark, tmp).collect().map(_.toSeq).toSeq
    assert(got == want, "q103 != q100 on a corpus with no near-dups")
    assert(want.size == texts.size, "quality gate unexpectedly dropped fixture docs")
  }

  test("q159 drops exactly the image near-dup non-keepers from q100, flags images") {
    val seqLen = 128
    // engine-side drop set, then free its state
    val drop = graft.core.Pins.scope(pins =>
      graft.multimodal.Multimodal.imageNearDupDrop(pins, spark, dir)
        .collect().map(_.getLong(0)).toSet)
    // closed-form ground truth: the drop set is exactly the perturbed
    // twin members (d % 10 == 1 whose base d-1 exists) — one-pixel
    // perturbation keeps hamming <= 1 and SAD <= 4·256, and distinct
    // synth bases collide on neither predicate on this fixture
    val docIds = graft.core.Tables(spark, dir, "documents")
      .select("doc_id").collect().map(_.getLong(0)).filter(_ < 100).toSet
    val want = docIds.filter(d => d % 10 == 1 && docIds(d - 1))
    assert(want.nonEmpty, "fixture has no planted image twins below id 100")
    assert(drop == want, s"image drop $drop != planted twins $want")

    val q100 = Curation.q100(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(q100.map(_._1).toSet.intersect(drop).nonEmpty,
      "image drop set never intersects the curated set — composition vacuous")
    var acc = 0L
    val expected = q100.filterNot { case (id, _) => drop(id) }
      .sortBy(_._1)
      .map { case (id, n) =>
        val start = acc; acc += n
        (id, n, start, start / seqLen, (start + n - 1) / seqLen,
          (start + n - 1) / seqLen - start / seqLen + 1, id < 100)
      }
    val out = Curation.q159(spark, dir)
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6))).toSeq
    org.apache.spark.sql.graftbridge.Bridge.freeIfDirectCheckpoint(out)
    assert(got == expected)
  }

  test("q159 storage frees to zero beyond the direct result checkpoint") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = Curation.q159(spark, dir)
    out.count()
    val pinned = sc.getPersistentRDDs.keySet.diff(before)
    assert(pinned.size <= 1, s"more than the result pinned: $pinned")
    assert(
      org.apache.spark.sql.graftbridge.Bridge.freeIfDirectCheckpoint(out),
      "q159 result is not a direct checkpoint (storage contract)")
    assert(sc.getPersistentRDDs.keySet.diff(before).isEmpty,
      "q159 storage not freeable to zero")
  }

  test("q110 incremental manifest = q90 'new' ∩ quality ∩ decontaminated, repacked") {
    import org.apache.spark.sql.functions.col
    val seqLen = 128
    // q110's dedup tiers (corpus anti join + batch keeper) are by
    // construction q90's `new` label — take q90 as the dedup ground truth
    val newIds = Dedup.q90(spark, dir).collect()
      .collect { case r if r.getString(2) == "new" => r.getLong(0) }.toSet
    // quality gate + held-out slice, recomputed driver-side from raw text
    val docs = graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def toks(s: String) =
      s.toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
    val nTok = docs.map { case (id, t) => id -> toks(t).length.toLong }.toMap
    val quality = docs.collect { case (id, t)
      if { val alpha = t.toLowerCase.count(c => c >= 'a' && c <= 'z')
           alpha.toDouble / t.length >= 0.7 && nTok(id) >= 10 &&
             id % 50 != 0 } => id }.toSet
    val contaminated = graft.text.Decontaminate.q86(spark, dir, 50)
      .where(col("contaminated")).collect().map(_.getLong(0)).toSet

    var acc = 0L
    val expected = (newIds.intersect(quality) -- contaminated).toSeq.sorted
      .map { id =>
        val n = nTok(id); val start = acc; acc += n
        (id, n, start, start / seqLen, (start + n - 1) / seqLen,
          (start + n - 1) / seqLen - start / seqLen + 1)
      }
    val graft.PlanCapture.Captured(q110, q110Plans, _) =
      graft.PlanCapture.during(spark)(Curation.q110(spark, dir))
    val got = q110.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    org.apache.spark.sql.graftbridge.Bridge.freeIfDirectCheckpoint(q110)
    assert(got == expected, "q110 manifest diverges from the composed tiers")

    // non-vacuity: the corpus probe must drop quality-passing batch docs
    // (otherwise the incremental tier under test never fires)
    val batchQual = quality.filter(_ % 10 >= 7) -- contaminated
    assert((batchQual -- newIds).nonEmpty,
      "no quality-passing batch doc was a corpus dup — dedup tier vacuous")
    assert(expected.nonEmpty, "empty manifest — fixture too small")
    // the corpus probe rides behind the bloom sketch (q109's plan shape) —
    // asserted on the plans q110 executed (it returns a checkpoint root)
    assert(q110Plans.exists(_.executedPlan.toString.contains("might_contain")),
      "bloom pre-probe missing from q110's executed plans")
  }

  test("q103 output is partition-count invariant (sf0.001)") {
    // the packing stage's range-partition prefix sums and the label
    // propagation rounds are both P-parameterized machinery — the OUTPUT
    // must not be (the q87 invariance, here over the full composition)
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try {
      val runs = Seq("3", "5").map { p =>
        spark.conf.set(key, p)
        val out = Curation.q103(spark, dir)
        val rows = out.collect().map(_.toSeq).toSeq
        org.apache.spark.sql.graftbridge.Bridge.freeIfDirectCheckpoint(out)
        rows
      }
      assert(runs(0) == runs(1), "q103 output depends on partition count")
    } finally spark.conf.set(key, saved)
  }
}
