package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** The evaluation/monitoring tier (q251–q254): driver replays of the
  * metric definitions (NDCG from first principles, CUSUM as the literal
  * max(0, ·) recurrence the window identity must equal), plus the
  * structural invariants each metric is trusted for. */
class EvalSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private val dir = SparkTest.sf0001

  test("q251 NDCG/RR match a first-principles driver replay of the " +
      "metric over the engine's own candidate scores") {
    val terms = Seq("scan", "merge", "sort", "filter", "vector", "hash")
    val out = Eval.q251(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    assert(out.keySet == terms.toSet)

    // rebuild (term, doc, tf) from raw text on the driver
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val tf = docs.map { case (id, text) =>
      id -> text.toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
        .groupBy(identity).map { case (w, a) => w -> a.length }
    }
    val dl = tf.map { case (id, m) => id -> m.values.sum.toLong }.toMap
    val nDocs = tf.count(_._2.nonEmpty)
    val avgdl = dl.values.sum.toDouble / nDocs
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dec8(x: Double) =
      BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP)
    terms.foreach { term =>
      val cand = tf.flatMap { case (id, m) =>
        m.get(term).map(c => (id, c)) }
      val dfT = cand.length
      val idf = math.log(1.0 + (nDocs - dfT + 0.5) / (dfT + 0.5))
      val scored = cand.map { case (id, c) =>
        val tfNorm = (c * 2.2) / (c + 1.2 * (0.25 + 0.75 * dl(id) / avgdl))
        val rel = if (c >= 6) 3 else if (c >= 4) 2 else if (c >= 2) 1 else 0
        (id, r6(idf * tfNorm), rel)
      }
      val gain = Map(0 -> 0L, 1 -> 1L, 2 -> 3L, 3 -> 7L)
      def dcgOf(ranked: Seq[(Long, Int)]): BigDecimal =
        ranked.zipWithIndex.map { case ((_, rel), i) =>
          dec8(gain(rel).toDouble /
            (math.log(i + 2.0) / 0.6931471805599453))
        }.sum
      val got10 = scored.sortBy { case (id, s, _) => (-s, id) }.take(10)
        .map { case (id, _, rel) => (id, rel) }
      val ideal10 = scored.sortBy { case (id, _, rel) => (-rel, id) }
        .take(10).filter(_._3 > 0).map { case (id, _, rel) => (id, rel) }
      val wantNdcg =
        if (ideal10.isEmpty) 0.0
        else r6((dcgOf(got10.toSeq) / dcgOf(ideal10.toSeq)).toDouble)
      val firstRel = got10.toSeq.zipWithIndex
        .collectFirst { case (((_, rel)), i) if rel >= 1 => i + 1 }
      val wantRr = firstRel.map(r => r6(1.0 / r)).getOrElse(0.0)
      val (nRel, ndcg, rr) = out(term)
      assert(nRel == scored.count(_._3 > 0).toLong, s"$term n_rel")
      assert(ndcg == wantNdcg, s"$term ndcg: $ndcg vs $wantNdcg")
      assert(rr == wantRr, s"$term rr: $rr vs $wantRr")
      // a trusted metric's invariants: bounded, and the ranking is
      // actually imperfect somewhere or perfect everywhere consistently
      assert(ndcg > 0.0 && ndcg <= 1.0)
    }
    // non-vacuity: BM25 order must disagree with relevance order for at
    // least one query (else the metric never discriminates)
    assert(out.values.exists(_._2 < 1.0),
      "every query scored NDCG 1.0 — metric vacuous on this fixture")
  }

  test("q252 χ² matches a full-grid driver replay; dof and bounds hold") {
    val row = Eval.q252(spark, dir).collect().head
    val (ns, nl, dof, chi2) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(ns == docs.select("source").distinct().count())
    assert(nl == docs.select("lang").distinct().count())
    assert(dof == (ns - 1) * (nl - 1))
    assert(chi2 >= 0.0)
    // driver replay of the statistic over the full grid
    val cells = docs.groupBy("source", "lang").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val srcs = cells.keys.map(_._1).toSeq.distinct
    val langs = cells.keys.map(_._2).toSeq.distinct
    val rt = srcs.map(s => s ->
      cells.filter(_._1._1 == s).values.sum).toMap
    val ct = langs.map(l => l ->
      cells.filter(_._1._2 == l).values.sum).toMap
    val n = cells.values.sum.toDouble
    def dec8(x: Double) =
      BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP)
    val want = BigDecimal(
      (for (s <- srcs; l <- langs) yield {
        val e = rt(s) * ct(l) / n
        val o = cells.getOrElse((s, l), 0L).toDouble
        dec8((o - e) * (o - e) / e)
      }).sum.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(chi2 == want, s"chi2 $chi2 vs replay $want")
  }

  test("q253 two-pass Gini equals the single-window form, is partition-" +
      "invariant, and sits in [0, 1)") {
    // every (P, exchange reuse) input must give the same row
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.exchange.reuse")
    val saved = keys.map(k => k -> spark.conf.get(k))
    try {
      val runs = for (p <- Seq("3", "7"); reuse <- Seq("true", "false")) yield {
        spark.conf.set(keys(0), p)
        spark.conf.set(keys(1), reuse)
        Eval.q253(spark, dir).collect().head
      }
      assert(runs.distinct.size == 1, s"gini not partition-invariant: $runs")
      val (n, tot, gini) =
        (runs(0).getLong(0), runs(0).getLong(1), runs(0).getDouble(2))
      assert(gini >= 0.0 && gini < 1.0)
      // single-window replay (fixture-scale)
      val toks = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          size(graft.text.TextAnalysis.toks(col("text"))).as("tok"))
        .collect().map(r => (r.getLong(0), r.getInt(1).toLong))
      assert(n == toks.length.toLong && tot == toks.map(_._2).sum)
      val sorted = toks.sortBy { case (id, tk) => (tk, id) }
      val s1 = sorted.zipWithIndex
        .map { case ((_, tk), i) => (i + 1).toLong * tk }.sum
      val want = BigDecimal(
        2.0 * s1 / (n.toDouble * tot.toDouble) - (n + 1.0) / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(gini == want, s"gini $gini vs replay $want")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q255 strata partition the pooled counts exactly and every " +
      "direction/reversed flag is consistent with its own counts") {
    val rows = Eval.q255(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getInt(7), r.getBoolean(8))).toMap
    assert(rows.keySet == Set("heavy", "light", "pooled"))
    val h = rows("heavy"); val l = rows("light"); val p = rows("pooled")
    // the stratifier must PARTITION each arm: pooled = heavy + light
    assert(p._1 == h._1 + l._1 && p._2 == h._2 + l._2 &&
      p._3 == h._3 + l._3 && p._4 == h._4 + l._4,
      "strata do not partition the pooled counts")
    // direction is the exact cross-product sign of its own counts
    rows.foreach { case (s, (na, ca, nb, cb, d, rev)) =>
      val want = (ca * nb) compare (cb * na)
      assert(d == want.sign, s"$s dir $d vs sign $want")
      if (s == "pooled") assert(!rev, "pooled row flagged reversed")
      else assert(rev == (d != 0 && p._5 != 0 && d != p._5),
        s"$s reversed flag inconsistent")
    }
    // the q236 tie-out: pooled counts equal the unstratified A/B test's
    val ab = Stats.q236(spark, dir).collect().head
    assert((p._1, p._2, p._3, p._4) ==
      (ab.getLong(0), ab.getLong(1), ab.getLong(2), ab.getLong(3)),
      "pooled row diverges from q236")
  }

  test("q256 jackknife matches a first-principles driver replay") {
    val row = Eval.q256(spark, dir).collect().head
    val (g, theta, se) =
      (row.getLong(0), row.getDouble(1), row.getDouble(2))
    val per = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"),
        size(graft.text.TextAnalysis.toks(col("text"))).as("tok"))
      .collect().map(r => (r.getString(0), r.getInt(1).toLong))
      .groupBy(_._1).map { case (s, a) => (s, a.length.toLong,
        a.map(_._2).sum) }.toSeq
    val td = per.map(_._2).sum; val tt = per.map(_._3).sum
    assert(g == per.size.toLong)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def d8(x: Double) =
      BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP)
    assert(theta == r6(tt.toDouble / td))
    val ths = per.map { case (_, nd, tk) =>
      d8((tt - tk).toDouble / (td - nd)) }
    val thbar = ths.sum.toDouble / g
    val ss = ths.map(th => d8((th.toDouble - thbar) *
      (th.toDouble - thbar))).sum.toDouble
    val want = r6(math.sqrt((g - 1).toDouble / g * ss))
    assert(se == want, s"jk_se $se vs replay $want")
    assert(se >= 0.0)
  }

  test("q257 RBO ledger is internally exact: overlaps monotone and " +
      "bounded, agreement consistent, cumulative matches the definition") {
    val rows = Eval.q257(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == (1 to 20))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def d8(x: Double) =
      BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP)
    var prevOv = 0L
    var cum = BigDecimal(0)
    rows.foreach { case (d, ov, agr, rbo) =>
      assert(ov >= prevOv && ov <= d, s"d=$d overlap $ov out of bounds")
      assert(ov - prevOv <= 2, s"d=$d overlap jumped by ${ov - prevOv}")
      prevOv = ov
      assert(agr == r6(ov.toDouble / d))
      cum += d8((1.0 - 0.9) * math.pow(0.9, d - 1) * (ov.toDouble / d))
      assert(rbo == r6(cum.toDouble), s"d=$d rbo $rbo vs ${r6(cum.toDouble)}")
    }
    // non-vacuity: the base and full rankings must agree somewhere and
    // disagree somewhere (else the drift metric is degenerate here)
    assert(rows.last._2 > 0, "zero overlap at k — rankings disjoint")
    assert(rows.last._2 < 20, "identical top-k — drift metric vacuous")
  }

  test("q258 ECE/MCE match a driver replay over the q240 bins") {
    val row = Eval.q258(spark, dir).collect().head
    val (nd, nb, ece, mce) = (row.getLong(0), row.getLong(1),
      row.getDouble(2), row.getDouble(3))
    val bins = graft.text.Classifier.q240(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(nd == bins.map(_._2).sum && nb == bins.length.toLong)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def d8(x: Double) =
      BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP)
    val gaps = bins.map { case (binLo, n, passRate) =>
      val conf = d8(1.0 / (1.0 + math.exp((binLo + 25).toDouble / -2000.0)))
      (n, math.abs(passRate - conf.toDouble))
    }
    val wantEce = r6(gaps.map { case (n, g) => d8(g * n) }.sum.toDouble /
      gaps.map(_._1).sum)
    assert(ece == wantEce, s"ece $ece vs replay $wantEce")
    assert(mce == r6(gaps.map(_._2).max))
    assert(ece >= 0.0 && ece <= mce + 1e-12 && mce <= 1.0)
  }

  test("q254 window-identity CUSUM equals the literal max(0, ·) " +
      "recurrence replayed on the driver") {
    val rows = Eval.q254(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)
    // the day spine must be gap-free (zero-filled)
    assert(rows.last._1 - rows.head._1 + 1 == rows.length.toLong)
    val n = rows.map(_._2)
    val mean = n.sum / rows.length
    val k = math.max(1L, mean / 20L)
    var hi = 0L; var lo = 0L
    rows.foreach { case (day, ni, gotHi, gotLo, alarm) =>
      hi = math.max(0L, hi + (ni - mean - k))
      lo = math.max(0L, lo + (mean - k - ni))
      assert(gotHi == hi, s"day $day cusum_hi $gotHi vs recurrence $hi")
      assert(gotLo == lo, s"day $day cusum_lo $gotLo vs recurrence $lo")
      assert(alarm == (hi > 4 * k || lo > 4 * k), s"day $day alarm")
    }
    // non-vacuity: the series must move at least one cusum off zero
    assert(rows.exists(r => r._3 > 0 || r._4 > 0),
      "both cusums flat at 0 — fixture degenerate")
  }
}
