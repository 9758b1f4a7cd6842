package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTest

/** Storage-layout tier invariants (q133/q134). Value-level correctness is
  * oracle-gated; here we pin the properties the oracle can't see. */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private val dir = SparkTest.sf0001

  test("z-value interleave is a bijection on 16-bit pairs (sampled) and preserves locality prefixes") {
    import spark.implicits._
    // Round-trip: de-interleave z back to (x, y) for a deterministic
    // sample of the 32-bit pair space; equality proves bit placement.
    val pairs = (0 until 2000).map { i =>
      val x = (i * 2654435761L) & 0xFFFFL
      val y = (i * 40503L + 17L) & 0xFFFFL
      (x, y)
    }
    val df = pairs.toDF("x", "y")
      .withColumn("z", Layout.zValue(col("x"), col("y")))
    val bad = df.withColumn("x2",
        (0 until 16).map(i => shiftleft(shiftright(col("z"), 2 * i)
          .bitwiseAND(lit(1L)), i)).reduce(_.bitwiseOR(_)))
      .withColumn("y2",
        (0 until 16).map(i => shiftleft(shiftright(col("z"), 2 * i + 1)
          .bitwiseAND(lit(1L)), i)).reduce(_.bitwiseOR(_)))
      .where(col("x") =!= col("x2") || col("y") =!= col("y2"))
      .count()
    assert(bad === 0L)
    // Locality: equal high-8-bit prefixes of BOTH dims ⇒ equal high-16
    // bits of z (the property that makes z-range files skippable on
    // either dimension's range predicate).
    val viol = df
      .withColumn("zf", shiftright(col("z"), 16))
      .withColumn("xp", shiftright(col("x"), 8))
      .withColumn("yp", shiftright(col("y"), 8))
      .groupBy(col("xp"), col("yp"))
      .agg(countDistinct(col("zf")).as("nf"))
      .where(col("nf") > 1).count()
    assert(viol === 0L)
  }

  test("q133 manifest rows partition the orders table and the probe prunes strictly") {
    val m = Layout.q133(spark, dir)
    val agg = m.agg(sum("n_rows"),
      coalesce(sum(when(col("would_scan"), col("n_rows"))), lit(0L)),
      count(lit(1)), sum(when(col("would_scan"), 1L).otherwise(0L))).head()
    val total = agg.getLong(0)
    val scanned = agg.getLong(1)
    val files = agg.getLong(2)
    val scannedFiles = agg.getLong(3)
    val orders = graft.core.Tables(spark, dir, "orders").count()
    assert(total === orders, "manifest must cover every order exactly once")
    // the z-order clustering must actually let the probe skip files
    assert(scannedFiles < files, s"probe skipped nothing ($scannedFiles/$files)")
    assert(scanned < total)
  }

  test("q134 SCD2 output has non-overlapping validity and exactly one current row per key") {
    val out = Layout.q134(spark, dir)
    val perKey = out.groupBy("c_custkey").agg(
      sum(when(col("is_current"), 1L).otherwise(0L)).as("n_current"),
      count(lit(1)).as("n_rows"),
      // a closed row must end exactly where the newer row starts
      sum(when(col("valid_to").isNotNull, 1L).otherwise(0L)).as("n_closed"))
    assert(perKey.where(col("n_current") =!= 1L).count() === 0L)
    assert(perKey.where(col("n_rows") > 2L).count() === 0L)
    // updated keys: closed.valid_to == opened.valid_from
    val updated = out.where(col("valid_to").isNotNull)
      .select(col("c_custkey"), col("valid_to"))
      .join(out.where(col("is_current") && col("valid_from") =!= lit("1990-01-01").cast("date"))
        .select(col("c_custkey"), col("valid_from")), Seq("c_custkey"))
    assert(updated.where(col("valid_to") =!= col("valid_from")).count() === 0L)
    assert(updated.count() > 0L, "fixture must exercise the update path")
  }

  test("q161 bucketed join+agg runs with ZERO exchanges off co-located bucketed scans") {
    val agg = Layout.q161Agg(spark, dir)
    agg.write.format("noop").mode("overwrite").save()
    val plan = agg.queryExecution.executedPlan.toString
    // the whole point of the bucketed layout: join + per-key aggregate
    // with no Exchange of any kind (shuffle, broadcast, or reused)
    assert(!plan.contains("Exchange"),
      s"q161 join+agg subtree must be exchange-free, got:\n$plan")
    assert(plan.contains("Bucketed: true"),
      "both scans must read the bucketed layout")
    assert(plan.contains("SortMergeJoin"),
      "co-located join should be the merge join over bucketed sides")
  }

  test("q171 fact scan carries a dynamicpruning PartitionFilter (DPP live)") {
    val agg = Layout.q171Agg(spark, dir)
    agg.write.format("noop").mode("overwrite").save()
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"orders scan must be dynamically partition-pruned, got:\n$plan")
  }

  test("q178 epoch-loader read: manifest scan is dynamically shard-pruned AND the fetch join shuffles nothing") {
    val agg = Layout.q178Agg(spark, dir)
    agg.write.format("noop").mode("overwrite").save()
    val plan = agg.queryExecution.executedPlan.toString
    // lever 1 (q171 applied to the manifest): the epoch's focus shards
    // arrive at runtime from the shard-directory dim — the manifest scan
    // must carry a dynamicpruning PartitionFilter, not read all S shards
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"manifest scan must be dynamically partition-pruned, got:\n$plan")
    // lever 2 (q161 applied to the fetch): manifest⋈documents on the
    // co-located doc_id buckets — no shuffle exchange anywhere in the
    // loader read (the only Exchange is the broadcast of the 16-row dim)
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning") &&
      !plan.contains("Exchange SinglePartition"),
      s"epoch-loader read must not shuffle, got:\n$plan")
    assert(plan.contains("SortMergeJoin"),
      "fetch join should be the merge join over bucketed sides")
    assert(plan.contains("Bucketed: true"),
      "both fetch sides must read the bucketed layout")
    // the read returns only focus-shard rows (shard ≡ 1 mod 4)
    val shards = agg.select(col("shard")).distinct().collect().map(_.getInt(0))
    assert(shards.nonEmpty && shards.forall(_ % 4 == 1),
      s"focus predicate leaked shards: ${shards.toSeq}")
  }

  test("q173 snake sharding conserves docs, near-equal doc counts, token spread bounded") {
    val df = Layout.q173(spark, dir)
    val out = df.collect()
    try {
      val nDocs = graft.core.Tables(spark, dir, "documents").count()
      assert(out.map(_.getLong(1)).sum === nDocs,
        "every document lands in exactly one shard")
      val counts = out.map(_.getLong(1))
      assert(counts.max - counts.min <= 2,
        s"snake hands each shard one doc per half-sweep; got ${counts.toSeq}")
      val toks = out.map(_.getLong(2))
      val maxDoc = out.map(_.getLong(3)).max
      // serpentine bound: each down-up sweep adds one large + one small
      // doc per shard, so the total spread never exceeds ~2 documents'
      // worth of the largest size class
      assert(toks.max - toks.min <= 2 * maxDoc,
        s"token spread ${toks.max - toks.min} exceeds 2×max-doc $maxDoc")
      val mean = toks.sum.toDouble / toks.length
      assert((toks.max - toks.min) / mean < 0.2,
        s"relative spread ${(toks.max - toks.min) / mean} too high for snake assignment")
    } finally org.apache.spark.sql.graftbridge.Bridge
      .freeIfDirectCheckpoint(df)
  }

  test("q173 shard assignment is partition-count invariant (P=3 vs P=5)") {
    // the global rank comes from range partitioning + local ranks + a
    // P-row offset table; P moves the partition BOUNDARIES, but the
    // (n_tok DESC, doc_id) order is total, so the composed global rank —
    // and every shard summary derived from it — must be identical
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    val b = org.apache.spark.sql.graftbridge.Bridge
    try {
      val runs = Seq("3", "5").map { p =>
        spark.conf.set(key, p)
        val df = Layout.q173(spark, dir)
        val rows = df.collect().map(_.toSeq).toSeq
        b.freeIfDirectCheckpoint(df)
        rows
      }
      assert(runs(0) == runs(1), "q173 output depends on partition count")
      assert(runs(0).nonEmpty)
    } finally spark.conf.set(key, saved)
  }

  test("q187 shard checksums equal a driver-side recomputation and bind to q173's totals") {
    import org.apache.spark.sql.functions.col
    val df187 = Layout.q187(spark, dir)
    val out = df187.collect()
    org.apache.spark.sql.graftbridge.Bridge.freeIfDirectCheckpoint(df187)
    val df173 = Layout.q173(spark, dir)
    val q173 = df173.collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    org.apache.spark.sql.graftbridge.Bridge.freeIfDirectCheckpoint(df173)
    assert(out.length == 16)
    // totals bind to the q173 summary (same assignment, same corpus)
    out.foreach { r =>
      val (nd, tt) = q173(r.getInt(0))
      assert(r.getLong(1) == nd && r.getLong(2) == tt,
        s"shard ${r.getInt(0)} totals diverge from q173")
    }
    // content sums equal a fully independent JVM recomputation of the
    // digest arithmetic over the same assignment
    val M = BigInt("4611686018427387903")
    val rows = graft.core.Pins.scope(pins =>
      Layout.snakeAssign(pins, spark, dir, 16)
        .select(col("doc_id"), col("n_tok"), col("shard"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))))
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect = rows.groupBy(_._3).map { case (s, rs) =>
      s -> rs.map { case (id, n, _) =>
        val hex = md.digest(s"$id:$n".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        BigInt(hex, 16)
      }.sum.mod(M)
    }
    out.foreach { r =>
      assert(BigInt(r.getLong(3)) == expect(r.getInt(0)),
        s"shard ${r.getInt(0)} checksum != independent recomputation")
    }
  }

  test("q188 incremental receipts equal the monolithic recompute, batch delta conserved") {
    import org.apache.spark.sql.functions.col
    val incr = Layout.q188(spark, dir).collect()
    val full = Layout.q188Full(spark, dir).collect().map(_.toSeq).toSeq
    // the q160/q177 bind: standing ⊕ batch must BE the full recompute
    assert(incr.map(r => Seq(r.get(0), r.get(1), r.get(2), r.get(3))).toSeq
      == full, "incremental ledger diverged from monolithic recompute")
    // the batch delta is non-vacuous and conserves the slice count
    val nBatch = graft.core.Tables(spark, dir, "documents")
      .where(col("doc_id") % 10 >= 7).count()
    assert(incr.map(_.getLong(4)).sum == nBatch)
    assert(incr.count(_.getLong(4) > 0) > 8,
      "hash sharding should spread the batch over most shards")
  }

  test("q185 point-in-time read resolves every order to exactly one version, both boundary sides hit") {
    import org.apache.spark.sql.functions.col
    val out = Layout.q185(spark, dir).collect()
    val nOrders = graft.core.Tables(spark, dir, "orders").count()
    // total and unique: the version intervals partition each key's
    // timeline, so the join is exactly one-to-one on facts
    assert(out.length.toLong == nOrders,
      s"${out.length} resolved rows for $nOrders orders")
    assert(out.map(_.getLong(0)).distinct.length == out.length,
      "an order resolved to more than one dim version")
    // the fixture's order dates straddle the 1995-06-01 version
    // boundary for updated customers: both the closed old version and
    // the opened new version must actually be used
    val updated = out.filter(_.getLong(1) % 10 == 3)
    assert(updated.exists(!_.getBoolean(5)),
      "no order resolved to a CLOSED version — boundary never exercised")
    assert(updated.exists(r => r.getBoolean(5) &&
      r.getDate(4).toString == "1995-06-01"),
      "no order resolved to the OPENED version")
    // interval containment on every row
    out.foreach { r =>
      assert(r.getDate(4).compareTo(r.getDate(2)) <= 0,
        s"valid_from after order date: $r")
    }
    // spot equivalence with q52-style semantics: an updated customer's
    // pre-batch order carries the OLD balance, post-batch the NEW one
    val dim = Layout.q134(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDate(3).toString) -> r.getDouble(2)).toMap
    updated.take(50).foreach { r =>
      val expect = dim((r.getLong(1), r.getDate(4).toString))
      assert(r.getDouble(3) == expect, s"balance mismatch: $r")
    }
  }

  test("q193 compaction plan equals a driver-side sequential replay, spans ordered+disjoint") {
    import org.apache.spark.sql.functions.col
    val b = org.apache.spark.sql.graftbridge.Bridge
    val cap = 4096L
    val df = Layout.q193(spark, dir, cap)
    val bins = df.collect()
    b.freeIfDirectCheckpoint(df)
    // golden replay: the plan IS "concat in doc_id order, cut at cap"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val expect = docs.map { case (id, sz) =>
      val bin = acc / cap; acc += sz; (bin, id, sz)
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (bin, members) =>
      (bin, members.length.toLong, members.map(_._3).sum,
        members.map(_._2).min, members.map(_._2).max)
    }
    assert(bins.length == expect.length, "bin count")
    bins.zip(expect).foreach { case (got, (bin, n, bytes, first, last)) =>
      assert(got.getLong(0) == bin && got.getLong(1) == n &&
        got.getLong(2) == bytes && got.getLong(3) == first &&
        got.getLong(4) == last, s"bin $bin mismatch: $got")
    }
    // order-preserving cut ⇒ doc spans are disjoint and strictly ordered
    bins.sliding(2).foreach {
      case Array(a, c) => assert(a.getLong(4) < c.getLong(3),
        s"bins ${a.getLong(0)}/${c.getLong(0)} spans overlap")
      case _ =>
    }
    // every bin overshoots cap by LESS than one member file; non-final
    // bins that don't overshoot end exactly where the next starts
    assert(bins.map(_.getLong(2)).sum == docs.map(_._2).sum,
      "compaction must conserve bytes")
  }

  test("q193 compaction plan is partition-count invariant (P=3 vs P=5)") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    val b = org.apache.spark.sql.graftbridge.Bridge
    try {
      val runs = Seq("3", "5").map { p =>
        spark.conf.set(key, p)
        val df = Layout.q193(spark, dir)
        val rows = df.collect().map(_.toSeq).toSeq
        b.freeIfDirectCheckpoint(df)
        rows
      }
      assert(runs(0) == runs(1), "q193 output depends on partition count")
      assert(runs(0).nonEmpty)
    } finally spark.conf.set(key, saved)
  }

  test("q196 incremental compaction is partition-count invariant (P=3 vs P=5)") {
    // both prefix passes (standing and batch) range-partition on doc_id;
    // P moves partition boundaries but the composed offsets are a total
    // order, so the merged ledger must be identical
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    val b = org.apache.spark.sql.graftbridge.Bridge
    try {
      val runs = Seq("3", "5").map { p =>
        spark.conf.set(key, p)
        val df = Layout.q196(spark, dir)
        val rows = df.collect().map(_.toSeq).toSeq
        b.freeIfDirectCheckpoint(df)
        rows
      }
      assert(runs(0) == runs(1), "q196 output depends on partition count")
      assert(runs(0).nonEmpty)
    } finally spark.conf.set(key, saved)
  }

  test("q201 runtime-filtered join: identical to the plain join, probes via a scalar-subquery bloom, and prunes the fact side hard") {
    val pruned = Layout.q201Join(spark, dir, pruned = true)
    val got = pruned.collect().map(_.toSeq).toSeq
    val want = Layout.q201Join(spark, dir, pruned = false)
      .collect().map(_.toSeq).toSeq
    assert(got == want,
      "bloom pruning changed the join result — exactness broken")
    assert(got.nonEmpty, "fixture predicate selected nothing — vacuous")
    // plan shape: the probe predicate is the runtime-filter expression,
    // sketch riding as a scalar subquery (q109's plan discipline applied
    // to a JOIN's fact side)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), "bloom probe missing from plan")
    assert(plan.toLowerCase.contains("subquery"),
      "bloom sketch is not a scalar subquery")
    // effectiveness: the sketch must strip the overwhelming share of the
    // fact scan BEFORE the join shuffle (FP rate of the sized sketch is
    // far under the selectivity here)
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .where(col("o_orderpriority") === "1-URGENT" &&
        year(col("o_orderdate")) === 1996)
      .select(col("o_orderkey"))
    val bloom = o.agg(
      bridge.bloomFilterAgg(col("o_orderkey"), 100000L).as("bloom"))
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val total = l.count()
    val survived = l.where(
      bridge.bloomMightContain(bloom, col("l_orderkey"))).count()
    assert(survived.toDouble / total < 0.2,
      s"bloom kept $survived of $total fact rows — pruning is not doing its job")
  }

  test("q224 merge-on-read equals the eager delete, with both planner actions live") {
    val dir = SparkTest.sf0001
    val out = Layout.q224(spark, dir).collect()
    assert(out.nonEmpty)
    val actions = out.map(_.getString(4)).toSet
    assert(actions == Set("rewrite", "keep"),
      s"planner decision vacuous: only $actions fired on the fixture")
    // merge-on-read totals == the eagerly-rewritten table's totals: the
    // DV-filtered scan serves the same aggregate a full rewrite would
    val eager = graft.streaming.EventStreams
      .retentionClass(graft.core.Tables(spark, dir, "events"))
      .where(col("ret_class") =!= "expired")
      .agg(count(lit(1)),
        sum(col("value").cast(org.apache.spark.sql.types
          .DecimalType(18, 4))))
      .head()
    val mor = (out.map(r => r.getLong(1) - r.getLong(2)).sum,
      out.map(_.getDouble(5)).sum)
    assert(mor._1 == eager.getLong(0),
      s"live row totals diverge: DV ${mor._1} vs eager ${eager.getLong(0)}")
    assert(math.abs(mor._2 - eager.getDecimal(1).doubleValue()) < 0.05 * out.length,
      "live value totals diverge beyond per-file rounding")
  }
}
