package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Pins, Prefix, Tables}
import graft.functions.TokenHashExpr.tokenHash

/** Evaluation & monitoring operators — the ledger a pipeline owner reads
  * to judge RETRIEVAL QUALITY (q251: NDCG/MRR, the standard ranked-
  * retrieval metrics — Järvelin & Kekäläinen 2002 TOIS for DCG; public
  * literature), DISTRIBUTIONAL STRUCTURE (q252: Pearson χ² independence;
  * q253: Gini concentration), and SEQUENTIAL DRIFT (q254: two-sided
  * CUSUM, Page 1954 Biometrika). The reference has no evaluation surface
  * at all (its only metric is wc counts); this tier is north-star
  * surface: a training-data pipeline ships eval ledgers with every
  * release (the q95 corpus-card convention).
  */
object Eval {
  import Tables.{apply => t}

  private val Ln2 = 0.6931471805599453d

  private def dec8(c: Column): Column =
    round(c, 8).cast(DecimalType(18, 8))

  /** q251 — RANKED-RETRIEVAL EVALUATION: NDCG@10 and reciprocal rank for
    * six single-term BM25 queries against a GRADED term-frequency
    * relevance standard (rel = 3 at tf ≥ 6, 2 at tf ≥ 4, 1 at tf ≥ 2,
    * else 0 — deliberately NOT the ranking's own score: BM25 length
    * normalization and idf reorder documents away from raw tf, so the
    * metric is non-trivial and a broken ranker moves it).
    *
    * Exactness discipline: per-rank DCG terms are
    * `(2^rel − 1) / (ln(rank+1)/ln 2)` — the gain is an exact integer
    * (SHIFTLEFT), rank ∈ 1..10 so ln sees ten small integers, and each
    * term is rounded to 8 dp and summed as DECIMAL (the q94 idiom);
    * IDCG ranks the SAME candidate set by (rel DESC, doc_id) so the
    * ratio is deterministic; ndcg/rr round to 6 dp at the end. The
    * shared ln(2) literal keeps the log base out of either engine's
    * hands (the q229 convention).
    *
    * Scale shape: ONE tokenizing scan feeds the q74 pivoted per-doc
    * aggregate (dl + one tf column per term — algebraic, partial-agged);
    * corpus stats ride back as a 1-row broadcast; the per-doc row then
    * EXPLODES to its (term, score, rel) hits in the same codegen span
    * (r13 — formerly a |terms|-branch union of filtered projections,
    * each branch re-reading the aggregate, consumed by three separate
    * window/aggregate subtrees: 238 Exchange nodes in the dumped plan);
    * both the retrieval and the ideal ranking are rank windows
    * PARTITIONED BY TERM over docs that hit the term (never global),
    * sharing the ONE term-keyed exchange, cut at 10 inside a single
    * combined aggregate (DCG terms and first-rel under the rank cut,
    * IDCG under the ideal-rank cut, n_rel over all hits — sums of
    * 8dp-DECIMAL terms and conditional mins are order-independent, so
    * the fused form is value-identical to the three-subtree one); the
    * final ledger is |terms| rows. */
  def q251(spark: SparkSession, dir: String,
           terms: Seq[String] =
             Seq("scan", "merge", "sort", "filter", "vector", "hash"),
           kCut: Int = 10): DataFrame = {
    val (perDoc, stats) = Ranking.queryAgg(spark, dir, terms)
    val scored = perDoc.crossJoin(broadcast(stats))
    val k1 = 1.2d
    val b = 0.75d
    // one stacked (term, doc_id, tf, score, rel) relation — the per-doc
    // row explodes to its per-term hits in-row (each element the same
    // expressions the former union legs projected), then one filter
    // keeps the terms the doc actually hits
    val perTerm = scored
      .select(col("doc_id"), explode(array(terms.indices.map { i =>
        val tfv = col(s"tf_$i").cast(DoubleType)
        val dfv = col(s"df_$i").cast(DoubleType)
        val idf = log(lit(1.0d) +
          (col("n_docs").cast(DoubleType) - dfv + 0.5d) / (dfv + 0.5d))
        val tfNorm = (tfv * lit(k1 + 1.0d)) /
          (tfv + lit(k1) * (lit(1.0d - b) +
            lit(b) * col("dl").cast(DoubleType) / col("avgdl")))
        struct(lit(terms(i)).as("term"), col(s"tf_$i").as("tf"),
          round(idf * tfNorm, 6).as("score"),
          when(col(s"tf_$i") >= 6L, 3)
            .when(col(s"tf_$i") >= 4L, 2)
            .when(col(s"tf_$i") >= 2L, 1)
            .otherwise(0).as("rel"))
      }: _*)).as("h"))
      .where(col("h.tf") > 0L)
      .select(col("h.term").as("term"), col("doc_id"),
        col("h.tf").as("tf"), col("h.score").as("score"),
        col("h.rel").as("rel"))
    // gain 2^rel − 1 over the bounded grade domain, spelled as a CASE so
    // both engines share the exact integer (no shift/pow portability)
    def dcgTerm(rankCol: Column): Column = {
      val gain = when(col("rel") === 3, 7L).when(col("rel") === 2, 3L)
        .when(col("rel") === 1, 1L).otherwise(0L)
      dec8(gain.cast(DoubleType) /
        (log(rankCol.cast(DoubleType) + lit(1.0d)) / lit(Ln2)))
    }
    // retrieval: BM25 order; ideal: relevance order over the SAME set —
    // two rank windows sharing the one term-keyed exchange, folded by a
    // single aggregate (each metric conditioned on its own rank cut;
    // the decimal sums and conditional mins are order-independent, so
    // the fusion is value-identical to the former three subtrees)
    val w = Window.partitionBy(col("term"))
    val ranked = perTerm
      .withColumn("rank", row_number().over(
        w.orderBy(col("score").desc, col("doc_id"))))
      .withColumn("irank", row_number().over(
        w.orderBy(col("rel").desc, col("doc_id"))))
    ranked.groupBy(col("term"))
      .agg(
        sum(when(col("rank") <= kCut, dcgTerm(col("rank")))).as("dcg8"),
        min(when(col("rank") <= kCut && col("rel") >= 1, col("rank")))
          .as("first_rel"),
        sum(when(col("irank") <= kCut && col("rel") > 0,
          dcgTerm(col("irank")))).as("idcg8"),
        sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_rel"))
      .select(col("term"), col("n_rel"),
        when(col("idcg8") > 0,
          round(col("dcg8").cast(DoubleType) /
            col("idcg8").cast(DoubleType), 6))
          .otherwise(0.0d).as("ndcg10"),
        when(col("first_rel").isNotNull,
          round(lit(1.0d) / col("first_rel").cast(DoubleType), 6))
          .otherwise(0.0d).as("rr10"))
      .orderBy(col("term"))
  }

  /** q252 — PEARSON χ² INDEPENDENCE test of source × lang over the
    * document corpus: is language assignment independent of source? The
    * mixture reviewer's follow-up to q229 (concentration) and q93
    * (divergence): a source that over-produces one language skews any
    * language-balanced sample drawn per-source.
    *
    * The statistic runs over the FULL source × lang grid (zero-observed
    * cells still contribute their expectation — dropping them biases χ²
    * down), built as a bounded cross join of the two distinct sides.
    * Expected counts are one double division of exact integer products
    * (rowTot·colTot/n); per-cell terms follow the q157 8dp-DECIMAL
    * lane. Output: one row (n_sources, n_langs, dof, chi2).
    *
    * Scale shape: one partial-agged (source, lang) count, two bounded
    * marginal aggregates, a |sources|×|langs| grid — nothing after the
    * first aggregate grows with the corpus. */
  def q252(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    val o = d.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("o"))
    val rs = o.groupBy(col("source")).agg(sum(col("o")).as("rt"))
    val cs = o.groupBy(col("lang")).agg(sum(col("o")).as("ct"))
    val n = o.agg(sum(col("o")).as("n"))
    val grid = rs.crossJoin(cs)
      .join(o, Seq("source", "lang"), "left_outer")
      .crossJoin(broadcast(n))
      .select(col("source"), col("lang"), col("rt"), col("ct"), col("n"),
        coalesce(col("o"), lit(0L)).as("o"))
    val e = (col("rt") * col("ct")).cast(DoubleType) /
      col("n").cast(DoubleType)
    grid.agg(
        countDistinct(col("source")).as("ns"),
        countDistinct(col("lang")).as("nl"),
        sum(dec8((col("o").cast(DoubleType) - e) *
          (col("o").cast(DoubleType) - e) / e)).as("chi8"))
      .select(col("ns").as("n_sources"), col("nl").as("n_langs"),
        ((col("ns") - 1) * (col("nl") - 1)).as("dof"),
        round(col("chi8").cast(DoubleType), 6).as("chi2"))
  }

  /** q253 — GINI CONCENTRATION of token mass across documents: how
    * unequal is the per-document length distribution — the one number
    * that says whether the corpus's token budget lives in a few
    * megadocs (packing and sampling both behave badly there) or is
    * spread evenly. Gini = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over x sorted
    * ascending (rank i = 1..n, ties broken by doc_id — a unique total
    * order, so both engines agree exactly).
    *
    * Scale shape: the global rank is [[graft.core.Prefix.before]] keyed
    * by (tok, doc_id) — never a partition-less window; Σ(i·xᵢ)
    * accumulates in DECIMAL(38,0)
    * (rank·count products overflow BIGINT at 100 TB row counts — the
    * q228 sufficient-statistics discipline); the final expression is
    * two double divisions in pinned order. */
  def q253(spark: SparkSession, dir: String): DataFrame = Pins.result { pins =>
    val toks = t(spark, dir, "documents")
      .select(col("doc_id").cast(LongType),
        size(graft.text.TextAnalysis.toks(col("text")))
          .cast(LongType).as("tok"))
    val rnk = col("before") + lit(1L)
    Prefix.before(pins, toks, Nil, Seq(col("tok"), col("doc_id")), lit(1L))
      .agg(count(lit(1)).as("n"),
        sum(col("tok").cast(DecimalType(38, 0))).as("s0"),
        // cast BOTH operands to decimal BEFORE multiplying — a Long
        // rank·count product overflows at exactly the 100 TB row counts
        // the decimal lane exists for (the oracle multiplies HUGEINTs)
        sum(rnk.cast(DecimalType(38, 0)) *
          col("tok").cast(DecimalType(38, 0))).as("s1"))
      .select(col("n").as("n_docs"),
        col("s0").cast(LongType).as("total_tokens"),
        round(
          lit(2.0d) * col("s1").cast(DoubleType) /
            (col("n").cast(DoubleType) * col("s0").cast(DoubleType)) -
            (col("n") + 1).cast(DoubleType) / col("n").cast(DoubleType),
          6).as("gini"))
  }

  /** q254 — TWO-SIDED CUSUM drift monitor (Page 1954) over the
    * zero-filled daily event-count series: the sequential change
    * detector a volume monitor runs — a sustained shift accumulates in
    * one of the cusums long before any single day breaches a naive
    * threshold, while day-to-day noise inside the allowance `k` decays
    * back to 0.
    *
    * The recurrence S_i = max(0, S_{i−1} + y_i) is NOT a window
    * aggregate — but it has the classic prefix identity
    * `S_i = P_i − min(0, min_{j≤i} P_j)` with P the running sum of y,
    * so both cusums compute as TWO windows over the day spine (running
    * sum + running min) — exact integer arithmetic, replayed
    * identically by the oracle. The spine is calendar-bounded (the
    * q217 exception class: windows over ≤ days rows, never corpus
    * rows); corpus-scale work is exactly one partial-agged daily
    * count. Allowance k = max(1, mean/20), alarm threshold h = 4k —
    * deterministic integer functions of the series itself. */
  def q254(spark: SparkSession, dir: String): DataFrame = {
    val days = t(spark, dir, "events")
      .select(graft.streaming.EventStreams.epochMicros(col("ts")).as("us"))
      .select(expr("us DIV 86400000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    val span = days.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = span
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(days, Seq("day"), "left_outer")
      .select(col("day"), coalesce(col("n"), lit(0L)).as("n"))
    val tot = grid.agg(sum(col("n")).as("t"), count(lit(1)).as("nd"))
    // mean and allowance k: exact integer DIVs of the series' own totals
    val g = grid.crossJoin(broadcast(tot))
      .select(col("day"), col("n"), expr("t DIV nd").as("mean"))
      .withColumn("k", greatest(lit(1L), expr("mean DIV 20")))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // stage 1: the two prefix sums (windows cannot nest — materialize
    // P before the running min reads it)
    val p = g.select(col("day"), col("n"), col("k"),
      sum(col("n") - col("mean") - col("k")).over(w).as("p_hi"),
      sum(col("mean") - col("k") - col("n")).over(w).as("p_lo"))
    // stage 2: S_i = P_i − min(0, min_{j≤i} P_j) — the max(0, ·+·)
    // recurrence's prefix identity
    p.select(col("day"), col("n"), col("k"),
        (col("p_hi") - least(lit(0L), min(col("p_hi")).over(w)))
          .as("cusum_hi"),
        (col("p_lo") - least(lit(0L), min(col("p_lo")).over(w)))
          .as("cusum_lo"))
      .select(col("day"), col("n"), col("cusum_hi"), col("cusum_lo"),
        (col("cusum_hi") > lit(4L) * col("k") ||
          col("cusum_lo") > lit(4L) * col("k")).as("alarm"))
      .orderBy(col("day"))
  }

  /** q255 — SIMPSON'S-PARADOX audit of the q236 A/B comparison: the
    * pooled conversion-rate direction next to the per-stratum
    * directions, stratified by user activity (events above/below the
    * corpus mean — the classic confounder: heavy users convert more
    * AND can land unevenly in arms). A stratum whose direction opposes
    * the pooled one gets `reversed = true` — the flag that tells an
    * experimenter the pooled read is an aggregation artifact. Shares
    * q236's exact kernels verbatim: the splitmix64 arm coin and the
    * heavy-purchaser conversion bit; rates are single double divisions
    * of exact integers; direction is the integer sign. EvalSpec binds
    * the ledger to the weighted-mean identity (each arm's pooled count
    * is the sum of its stratum counts — a broken stratifier cannot
    * pass it).
    *
    * Scale shape: one per-user aggregate, one 1-row mean broadcast,
    * then a 3-row ledger (two strata + pooled). */
  def q255(spark: SparkSession, dir: String): DataFrame = {
    val users = t(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        (lit(5L) *
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          > count(lit(1))).as("conv"))
      .select(col("user_id"), col("n_ev"), col("conv"),
        pmod(tokenHash(concat(lit("ab|"), col("user_id").cast("string"))),
          lit(2L)).as("arm"))
    val mean = users.agg(sum(col("n_ev")).as("te"),
      count(lit(1)).as("nu"))
    val strat = users.crossJoin(broadcast(mean))
      .select(col("arm"), col("conv"),
        when(col("n_ev") > expr("te DIV nu"), "heavy").otherwise("light")
          .as("stratum"))
    val perStratum = strat.groupBy(col("stratum"))
      .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 0L && col("conv"), 1L).otherwise(0L))
          .as("conv_a"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 1L && col("conv"), 1L).otherwise(0L))
          .as("conv_b"))
    val pooled = perStratum
      .agg(sum(col("n_a")).as("n_a"), sum(col("conv_a")).as("conv_a"),
        sum(col("n_b")).as("n_b"), sum(col("conv_b")).as("conv_b"))
      .select(lit("pooled").as("stratum"), col("n_a"), col("conv_a"),
        col("n_b"), col("conv_b"))
    def d(c: Column) = c.cast(DoubleType)
    // direction: sign of rate_a − rate_b as an exact integer comparison
    // of cross products (no float subtraction feeds a boolean)
    val dirCol =
      when(col("conv_a") * col("n_b") > col("conv_b") * col("n_a"), 1)
        .when(col("conv_a") * col("n_b") < col("conv_b") * col("n_a"), -1)
        .otherwise(0)
    val all = perStratum
      .select(col("stratum"), col("n_a"), col("conv_a"), col("n_b"),
        col("conv_b"))
      .unionByName(pooled)
      .select(col("stratum"), col("n_a"), col("conv_a"), col("n_b"),
        col("conv_b"),
        when(col("n_a") > 0, round(d(col("conv_a")) / d(col("n_a")), 6))
          .as("rate_a"),
        when(col("n_b") > 0, round(d(col("conv_b")) / d(col("n_b")), 6))
          .as("rate_b"),
        dirCol.as("dir"))
    val pooledDir = all.where(col("stratum") === "pooled")
      .select(col("dir").as("pooled_dir"))
    all.crossJoin(broadcast(pooledDir))
      .select(col("stratum"), col("n_a"), col("conv_a"), col("n_b"),
        col("conv_b"), col("rate_a"), col("rate_b"), col("dir"),
        (col("stratum") =!= "pooled" && col("dir") =!= 0 &&
          col("pooled_dir") =!= 0 && col("dir") =!= col("pooled_dir"))
          .as("reversed"))
      .orderBy(col("stratum"))
  }

  /** q256 — LEAVE-ONE-SOURCE-OUT JACKKNIFE of the corpus tokens-per-doc
    * ratio (Quenouille/Tukey; public literature): how much does the
    * headline density estimate depend on any single source? θ₍ᵢ₎ drops
    * source i's tokens and docs from the totals; the jackknife SE is
    * √((g−1)/g · Σ(θ₍ᵢ₎ − θ̄)²). The release-review companion to q229:
    * concentration says who dominates the mass, the jackknife says how
    * fragile the derived statistic is to them.
    *
    * Exactness: per-source sufficient statistics are exact integers;
    * each θ₍ᵢ₎ is one double division, rounded to 8 dp; θ̄ and the
    * squared deviations follow the 8dp-DECIMAL sum lane; final 6 dp.
    *
    * Scale shape: one partial-agged per-source aggregate (g rows), a
    * 1-row broadcast of the totals, then g-row arithmetic — nothing
    * after the first aggregate grows with the corpus. */
  def q256(spark: SparkSession, dir: String): DataFrame = {
    val per = t(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("nd"),
        sum(size(graft.text.TextAnalysis.toks(col("text")))
          .cast(LongType)).as("tk"))
    val tot = per.agg(sum(col("nd")).as("td"), sum(col("tk")).as("tt"),
      count(lit(1)).as("g"))
    val thetas = per.crossJoin(broadcast(tot))
      .select(col("g"), col("td"), col("tt"),
        round((col("tt") - col("tk")).cast(DoubleType) /
          (col("td") - col("nd")).cast(DoubleType), 8).as("th"))
    val mean = thetas
      .agg(max(col("g")).as("g"), max(col("td")).as("td"),
        max(col("tt")).as("tt"),
        sum(dec8(col("th"))).as("sum8"))
      .select(col("g"), col("td"), col("tt"),
        (col("sum8").cast(DoubleType) / col("g").cast(DoubleType))
          .as("thbar"))
    thetas.select(col("th"))
      .crossJoin(broadcast(mean))
      .agg(max(col("g")).as("g2"), max(col("td")).as("td2"),
        max(col("tt")).as("tt2"),
        sum(dec8((col("th") - col("thbar")) * (col("th") - col("thbar"))))
          .as("ss8"))
      .select(col("g2").as("n_sources"),
        round(col("tt2").cast(DoubleType) / col("td2").cast(DoubleType), 6)
          .as("theta"),
        round(sqrt((col("g2") - 1).cast(DoubleType) /
            col("g2").cast(DoubleType) *
            col("ss8").cast(DoubleType)), 6).as("jk_se"))
  }

  /** q257 — RANK-BIASED OVERLAP (Webber, Moffat & Zobel 2010 TOIS;
    * public literature) between the BM25 top-k computed over the BASE
    * corpus slice (doc_id % 10 < 7) and over the FULL corpus, for the
    * q74 fixed query: the top-weighted similarity of two rankings — the
    * drift metric an index owner reads after an ingest reshapes df/avgdl
    * (did the head of the ranking move, or only the tail?). Per depth d:
    * overlap@d = |topd(base) ∩ topd(full)|, agreement = overlap/d, and
    * the cumulative truncated RBO Σ (1−p)·p^(d−1)·agreement with
    * persistence p = 0.9.
    *
    * Exactness: both rankings order by the 6dp-rounded BM25 then doc_id
    * (the q74 discipline); overlaps are exact integers (a shared doc
    * counts toward depth d iff max(rank_a, rank_b) ≤ d); p-powers are
    * data-independent literals; per-depth terms 8dp-DECIMAL, cumulative
    * over the k-row spine, 6 dp at the end.
    *
    * Scale shape: two q74 single-scan pivoted aggregates (one per
    * corpus variant), each cut to top-k via TakeOrdered BEFORE its
    * ≤k-row rank window (the q96 exception class); everything after is
    * arithmetic over ≤ k rows. */
  def q257(spark: SparkSession, dir: String,
           terms: Seq[String] = Seq("scan", "data", "merge"),
           k: Int = 20, p: Double = 0.9): DataFrame = {
    def topK(docs: DataFrame, rankName: String): DataFrame = {
      val (perDoc, stats) = Ranking.queryAggOf(docs, terms)
      val scored = perDoc.crossJoin(broadcast(stats))
        .select(col("doc_id"), Ranking.bm25Col(terms).as("score"))
        .where(col("score") > 0.0)
      scored.orderBy(col("score").desc, col("doc_id")).limit(k)
        .withColumn(rankName, row_number().over(
          Window.orderBy(col("score").desc, col("doc_id")))
          .cast(IntegerType))
        .select(col("doc_id"), col(rankName))
    }
    val docs = t(spark, dir, "documents")
    val joined = topK(docs.where(col("doc_id") % 10 < 7), "ra")
      .join(topK(docs, "rb"), Seq("doc_id"))
      .select(greatest(col("ra"), col("rb")).as("mr"))
    val spine = spark.range(1, k + 1).select(col("id").as("d"))
    val overlap = spine.join(joined, col("mr") <= col("d"), "left_outer")
      .groupBy(col("d"))
      .agg(sum(when(col("mr").isNotNull, 1L).otherwise(0L)).as("overlap"))
    val w = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    overlap
      .select(col("d"), col("overlap"),
        round(col("overlap").cast(DoubleType) / col("d").cast(DoubleType),
          6).as("agreement"),
        dec8(lit(1.0d - p) * pow(lit(p), col("d") - 1) *
          (col("overlap").cast(DoubleType) / col("d").cast(DoubleType)))
          .as("term8"))
      .select(col("d").cast(IntegerType).as("d"), col("overlap"),
        col("agreement"),
        round(sum(col("term8")).over(w).cast(DoubleType), 6).as("rbo_cum"))
      .orderBy(col("d"))
  }

  /** q258 — EXPECTED CALIBRATION ERROR of the q126 classifier against
    * the q147 rule gate (Naeini et al. 2015 AAAI; public literature):
    * q240 reports the per-bin reliability table — this is the number a
    * release gate thresholds on: ECE = Σ (n_b/N)·|acc_b − conf_b| and
    * MCE = max|acc_b − conf_b|, with the bin's CONFIDENCE the logistic
    * of its midpoint score on a fixed scale (conf = 1/(1+e^(−mid/2000))
    * — the score-to-probability map declared with the metric; both
    * engines compute e^x of the same integer-derived double and the 8dp
    * round absorbs libm ulp wobble, the q74 ln discipline).
    *
    * Scale shape: rides q240's fixed-bin aggregate (≤ 801 bins at any
    * corpus size); everything after the per-bin fold is arithmetic over
    * the bin table. */
  def q258(spark: SparkSession, dir: String): DataFrame = {
    val bins = graft.text.Classifier.q240(spark, dir)
    val conf = lit(1.0d) / (lit(1.0d) +
      exp((col("bin_lo") + 25L).cast(DoubleType) / lit(-2000.0d)))
    val gap = abs(col("pass_rate") - round(conf, 8))
    bins
      .select(col("n_docs"), col("bin_lo"), col("pass_rate"), gap.as("g"))
      .agg(sum(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_bins"),
        sum(dec8(col("g") * col("n_docs").cast(DoubleType))).as("w8"),
        round(max(col("g")), 6).as("mce"))
      .select(col("n_docs"), col("n_bins"),
        round(col("w8").cast(DoubleType) / col("n_docs").cast(DoubleType),
          6).as("ece"),
        col("mce"))
  }
}
