package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** Semantics + plan-shape checks for the round-2 operators (Advanced).
  * Value-level parity is gated by the DuckDB oracle; here we pin the
  * algebraic properties and the scale-relevant plan shapes. */
class AdvancedSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private val dir = SparkTest.sf0001

  test("q52 as-of LOCF equals the naive join+argmax definition") {
    val got = Advanced.q52(spark, dir)

    // Naive oracle: all (purchase, click<=ts) pairs, keep latest click.
    val e = graft.core.Tables(spark, dir, "events")
    val clicks = e.where(col("event_type") === "click")
      .groupBy(col("user_id").as("cu"), col("ts").as("cts"))
      .agg(max(col("event_id")).as("click_id"))
    val p = e.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("cts").desc_nulls_last)
    val naive = p.join(clicks,
        p("user_id") === clicks("cu") && clicks("cts") <= p("ts"), "left_outer")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        col("click_id").as("asof_click_id"),
        col("cts").cast("timestamp_ntz").as("asof_click_ts"))
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty,
      "LOCF as-of differs from naive argmax")
  }

  test("q52 plan is one window over a union — no pair-join blowup") {
    val plan = Advanced.q52(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan.take(600))
    assert(!plan.contains("CartesianProduct"), "cartesian in as-of plan")
  }

  test("q53 bands partition the price domain (counts sum to table size)") {
    val total = graft.core.Tables(spark, dir, "lineitem").count()
    val banded = Advanced.q53(spark, dir)
      .agg(sum(col("n"))).collect()(0).getLong(0)
    assert(banded == total, s"banded $banded != lineitem $total")
  }

  test("q53 broadcasts the band table (BNLJ, fact side never shuffles)") {
    val plan = Advanced.q53(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("q54 grouping sets yields per-priority + per-status marginals only") {
    val o = graft.core.Tables(spark, dir, "orders")
    val nPrio = o.select(col("o_orderpriority")).distinct.count()
    val nStat = o.select(col("o_orderstatus")).distinct.count()
    assert(Advanced.q54(spark, dir).count() == nPrio + nStat)
  }

  test("q55 pivot columns are static (no distinct-values pre-pass)") {
    val cols = Advanced.q55(spark, dir).columns.toSeq
    assert(cols == Seq("o_orderpriority",
      "F_n", "F_total", "O_n", "O_total", "P_n", "P_total"), cols.toString)
  }

  test("q56 first order per customer has null days_since_prev") {
    val df = Advanced.q56(spark, dir).cache()
    val nCust = df.select(col("o_custkey")).distinct.count()
    val nNull = df.where(col("days_since_prev").isNull).count()
    assert(nNull == nCust, s"$nNull null gaps for $nCust customers")
    df.unpersist()
  }

  test("q57 ntile buckets are balanced within one row") {
    val sizes = Advanced.q57(spark, dir)
      .groupBy(col("quartile")).count().collect().map(_.getLong(1))
    assert(sizes.length == 4 && sizes.max - sizes.min <= 1, sizes.mkString(","))
  }

  test("q58 matches the collect-then-filter definition") {
    val c = graft.core.Tables(spark, dir, "customer")
    val avg = c.agg(sum(col("c_acctbal")) / count(lit(1))).collect()(0).getDouble(0)
    val expected = c.where(col("c_acctbal") > avg).count()
    assert(Advanced.q58(spark, dir).count() == expected)
  }

  test("q61 two-pass scaled ranking equals q57's single-window output at P=4 and P=32") {
    // q61 derives its range-partition count from the session conf; the
    // output must be P-invariant (partition boundaries shift, ranks don't)
    // and must not depend on Spark reusing one range exchange for both
    // consumers of the local pass (sf0.01 P=4 is where that showed)
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.exchange.reuse")
    val saved = keys.map(k => k -> spark.conf.get(k))
    try {
      for ((d, p, reuse) <- Seq((dir, "4", "true"), (dir, "32", "true"),
                                (SparkTest.sf001, "4", "false"))) {
        spark.conf.set(keys(0), p)
        spark.conf.set(keys(1), reuse)
        val exact = Advanced.q57(spark, d).collect().map(_.toSeq).toSeq
        val scaled = Advanced.q61(spark, d).collect().map(_.toSeq).toSeq
        assert(scaled == exact, s"mismatch at $d P=$p reuse=$reuse")
      }
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q59 bag identity: common + only_orders = per-key order multiplicity") {
    val o = graft.core.Tables(spark, dir, "orders")
      .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("n_orders"))
    val bad = Advanced.q59(spark, dir)
      .join(o, Seq("k"), "left_outer")
      .where(coalesce(col("n_orders"), lit(0L)) =!=
        col("n_common") + col("n_only_orders"))
    assert(bad.isEmpty, bad.collect().take(3).mkString(";"))
  }

  test("q197 variant: TRY semantics on the absent path, totals conserve") {
    val rows = Advanced.q197(spark, dir).collect()
    assert(rows.nonEmpty)
    // try_variant_get on a path no payload carries must be NULL for
    // EVERY row (never a throw, never a zero) — n_missing ≡ n
    rows.foreach { r =>
      assert(r.getLong(6) === r.getLong(1),
        s"${r.getString(0)}: try_variant_get missed ${r.getLong(1) - r.getLong(6)} rows")
      assert(r.getInt(3) >= 0 && r.getInt(4) >= r.getInt(3), "k bounds")
    }
    val total = spark.read.parquet(s"$dir/events.parquet").count()
    assert(rows.map(_.getLong(1)).sum === total,
      "variant parse must not drop or duplicate events")
  }

  test("q198 recursive CTE: chains terminate at single-digit roots, depth ledger consistent") {
    val rows = Advanced.q198(spark, dir).collect()
    val byDepth = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    val keys = spark.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
    // depth 0 = every seed; deeper levels shrink to the keys still >= 10
    assert(byDepth(0) === keys.length.toLong)
    def depthOf(k: Long): Int = { var n = k; var d = 0
      while (n >= 10) { n /= 10; d += 1 }; d }
    val expect = keys.flatMap(k => 0 to depthOf(k))
      .groupBy(identity).map { case (d, xs) => d -> xs.length.toLong }
    assert(byDepth === expect, "per-depth chain counts diverge from a local replay")
    assert(rows.map(_.getInt(0)).max <= 6, "runaway recursion")
  }

  test("q203 sorted-group fold equals the window/collect twin and conserves events") {
    val typed = Advanced.q203(spark, dir).collect().map(_.toSeq).toSeq
    val window = Advanced.q203Window(spark, dir).collect().map(_.toSeq).toSeq
    assert(typed == window,
      "mapPartitions secondary sort diverges from the collect_list twin")
    assert(typed.nonEmpty)
    val nEvents = spark.read.parquet(s"$dir/events.parquet").count()
    assert(typed.map(_(1).asInstanceOf[Long]).sum == nEvents,
      "journeys must partition the event table")
    // the path is genuinely ordered work, not a bag: at least one user
    // has a multi-event journey
    assert(typed.exists(_(1).asInstanceOf[Long] >= 2L))
  }

  test("q207 cogroup ledger equals the full-outer-join twin; hand fixture exercises the orphan branch") {
    val typed = Advanced.q207(spark, dir).collect().map(_.toSeq).toSeq
    val joined = Advanced.q207Join(spark, dir).collect().map(_.toSeq).toSeq
    assert(typed == joined,
      "typed cogroup fold diverges from the outer-join formulation")
    val statuses = typed.map(_(1)).toSet
    assert(statuses.contains("matched") && statuses.contains("no_lines"),
      s"fixture statuses $statuses — reconciliation paths not exercised")
    // the corpus has no orphan lines; prove that branch with a hand
    // fixture through the SAME kernel
    import spark.implicits._
    val o = Seq(1L, 2L).toDS()
    val l = Seq((1L, 2.0, 1.5), (1L, 3.0, 2.25), (3L, 4.0, 0.10)).toDS()
    val got = Advanced.reconcileLedger(o, l).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "matched", 2L, 5L, 375L),
      (2L, "no_lines", 0L, 0L, 0L),
      (3L, "orphan_lines", 1L, 4L, 10L)))
  }

  test("q211 lateral top-n equals the window twin and decorrelates to a set-based plan") {
    val lateral = Advanced.q211(spark, dir)
    val got = lateral.collect().map(_.toSeq).toSeq
    val want = Advanced.q211Window(spark, dir).collect().map(_.toSeq).toSeq
    assert(got == want,
      "lateral subquery diverges from the window formulation")
    assert(got.nonEmpty)
    // every order contributes at most 2 rows
    assert(got.groupBy(_.head).values.forall(_.size <= 2))
    // decorrelation evidence: the executed plan is a window + join, not
    // a per-row subquery execution
    val plan = lateral.queryExecution.executedPlan.toString
    assert(plan.contains("Window"),
      s"lateral should decorrelate into a rank window, got:\n$plan")
  }

  test("q232 skyline: the linear sweep equals the quadratic dominance definition") {
    val got = Advanced.q232(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // independent driver-side quadratic replay of the textbook definition
    val docs = spark.read.parquet(s"$dir/documents.parquet").collect()
      .map { r =>
        val toks = r.getAs[String]("text").toLowerCase
          .split("[^a-z]+").filter(_.nonEmpty)
        (r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars"),
          toks.distinct.length.toLong)
      }
    val want = docs.filter { case (_, c, v) =>
      !docs.exists { case (_, c2, v2) =>
        (c2 < c && v2 >= v) || (c2 <= c && v2 > v)
      }
    }.toSet
    assert(got == want, "sweep formulation diverges from dominance definition")
    assert(got.nonEmpty)
    // the frontier is internally non-dominating and strictly tradeoff-
    // ordered: sorted by length, vocabulary must strictly increase
    val sorted = got.toSeq.sortBy(_._2)
    sorted.sliding(2).foreach {
      case Seq((_, c1, v1), (_, c2, v2)) =>
        if (c1 < c2) assert(v2 > v1, "longer frontier doc must buy vocab")
        else assert(v1 == v2, "equal-length frontier docs tie on vocab")
      case _ =>
    }
  }

  test("q233 Poisson bootstrap: weight-for-weight replay and CI sanity") {
    def tokenHash(s: String): Long = {
      var p = 0L
      var i = 0
      while (i < s.length) { p = p * 31 + s.charAt(i); i += 1 }
      var x = p
      x ^= (x >>> 30); x *= 0xBF58476D1CE4E5B9L
      x ^= (x >>> 27); x *= 0x94D049BB133111EBL
      x ^= (x >>> 31)
      x
    }
    val cdf = Seq(0.36787944117144233, 0.7357588823428847,
      0.9196986029286058, 0.9810118431238463, 0.9963401531726563,
      0.9994058151824183, 0.999916758850712)
    val row = Advanced.q233(spark, dir).collect().head
    val docs = spark.read.parquet(s"$dir/documents.parquet").collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("text").toLowerCase.split("[^a-z]+")
          .count(_.nonEmpty).toLong))
    // full mechanism replay: weights, resample means, order statistics
    val means = (0 until 32).flatMap { b =>
      var wt = 0L; var sw = 0L
      docs.foreach { case (id, tok) =>
        val u = (tokenHash(s"bs|$b|$id") >>> 11).toDouble / 9007199254740992.0
        val w = cdf.indexWhere(u < _) match { case -1 => 7L; case k => k.toLong }
        wt += w * tok; sw += w
      }
      if (sw > 0) Some((b, wt.toDouble / sw.toDouble)) else None
    }
    val ranked = means.sortBy(m => (m._2, m._1)).map(_._2)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getLong(0) === docs.length.toLong)
    assert(row.getLong(1) === means.length.toLong)
    assert(row.getDouble(2) ===
      r6(docs.map(_._2).sum.toDouble / docs.length))
    assert(row.getDouble(3) === r6(ranked.head), "ci_lo is rank-1 mean")
    assert(row.getDouble(4) === r6(ranked(30)), "ci_hi is rank-31 mean")
    // the interval is a genuine interval around the point estimate here
    assert(row.getDouble(3) < row.getDouble(4))
    assert(row.getDouble(2) >= row.getDouble(3) &&
      row.getDouble(2) <= row.getDouble(4))
  }
}
