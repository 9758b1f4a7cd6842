package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}

import graft.core.Tables

/** Data-quality constraint audit — the validation gate a corpus passes
  * BEFORE any training pipeline consumes it. The reference's only data
  * contract is implicit (its apps assume `"key value"` lines and crash
  * otherwise, /root/reference/src/main/test-mr.sh golden diffs); a 100 TB
  * engine needs the contract explicit and checked as a first-class
  * operator, because a constraint violation discovered mid-training costs
  * a full re-run.
  *
  * Architecture (the Deequ/"unit tests for data" shape, Schelter et al.
  * 2018, VLDB — public literature): every ROW-LOCAL check over a table is
  * compiled into ONE shared aggregate pass (`sum(when(violated, 1))` per
  * check — the scan is read once no matter how many checks ride it);
  * cross-table referential checks are anti-joins (broadcast when the
  * parent is a dimension, shuffle otherwise — Catalyst picks); uniqueness
  * is a count-distinct with map-side partials. Output is the audit ledger:
  * one row per check with violation and population counts.
  */
object Audit {
  import Tables.{apply => t}

  /** The document-table row checks, shared by the batch audit and the
    * streaming ingest-gate twin (EventStreams.auditIngest). */
  private[graft] def documentChecks: Seq[(String, Column)] = Seq(
    "doc_text_nonempty" -> (col("text").isNull || length(col("text")) === 0),
    "doc_len_consistent" -> (col("n_chars") =!= length(col("text"))))

  /** Fold N named row-predicates over one table into a single aggregate
    * pass, then explode the 1-row result into (check_name, violations)
    * ledger rows. Streaming-safe: one aggregate + a projection. */
  private[graft] def rowChecks(df: DataFrame, tbl: String,
      checks: Seq[(String, Column)]): DataFrame = {
    val aggs = checks.map { case (name, bad) =>
      sum(when(bad, 1L).otherwise(0L)).as(name)
    } :+ count(lit(1)).as("__total")
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(checks.map { case (name, _) =>
        struct(lit(name).as("check_name"), col(name).as("violations"))
      }: _*)).as("c"), col("__total"))
      .select(col("c.check_name"), lit(tbl).as("tbl"),
        col("c.violations"), col("__total").as("total"))
  }

  /** One referential-integrity ledger row: child rows whose `childKey`
    * has no match in the parent's `parentKey`. Null child keys count as
    * violations too (a null FK is a missing parent). */
  private def fkCheck(name: String, child: DataFrame, childKey: String,
      childTbl: String, parent: DataFrame, parentKey: String): DataFrame = {
    val orphans = child.select(col(childKey))
      .join(parent.select(col(parentKey).as(childKey)), Seq(childKey),
        "left_anti")
    orphans.agg(count(lit(1)).as("violations"))
      .crossJoin(child.agg(count(lit(1)).as("total")))
      .select(lit(name).as("check_name"), lit(childTbl).as("tbl"),
        col("violations"), col("total"))
  }

  /** One uniqueness ledger row: duplicate key instances =
    * count(*) − count(distinct key). */
  private def uniqueCheck(name: String, df: DataFrame, key: String,
      tbl: String): DataFrame =
    df.agg(
        (count(lit(1)) - countDistinct(col(key))).as("violations"),
        count(lit(1)).as("total"))
      .select(lit(name).as("check_name"), lit(tbl).as("tbl"),
        col("violations"), col("total"))

  /** q162 — the corpus constraint audit: 12 checks over 5 tables.
    * Row-local domain/range/completeness checks share one scan per table;
    * FK checks are anti-joins; uniqueness is count-distinct; the
    * embeddings dimension-uniformity check compares every row against the
    * table's min dimension (a 1-row broadcast, the scalar-subquery
    * pattern). Output: (check_name, tbl, violations, total, pass). */
  def q162(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    val d = t(spark, dir, "documents")
    val e = t(spark, dir, "embeddings")

    val liChecks = rowChecks(li, "lineitem", Seq(
      "li_qty_range" -> (col("l_quantity") < 1.0 || col("l_quantity") > 50.0),
      "li_returnflag_domain" -> !col("l_returnflag").isin("A", "N", "R"),
      "li_price_nonneg" -> (col("l_extendedprice") < 0.0),
      "li_discount_range" -> (col("l_discount") < 0.0 || col("l_discount") > 1.0)))
    val oChecks = rowChecks(o, "orders", Seq(
      "ord_date_complete" -> col("o_orderdate").isNull,
      "ord_status_domain" -> !col("o_orderstatus").isin("O", "F", "P")))
    val dChecks = rowChecks(d, "documents", documentChecks)

    val minDim = e.agg(min(size(col("embedding"))).as("min_dim"))
    val eDim = e.crossJoin(broadcast(minDim))
      .agg(
        sum(when(size(col("embedding")) =!= col("min_dim"), 1L)
          .otherwise(0L)).as("violations"),
        count(lit(1)).as("total"))
      .select(lit("emb_dim_uniform").as("check_name"),
        lit("embeddings").as("tbl"), col("violations"), col("total"))

    Seq(
      liChecks, oChecks, dChecks,
      fkCheck("ord_custkey_fk", o, "o_custkey", "orders", c, "c_custkey"),
      fkCheck("li_orderkey_fk", li, "l_orderkey", "lineitem", o, "o_orderkey"),
      uniqueCheck("cust_key_unique", c, "c_custkey", "customer"),
      uniqueCheck("doc_id_unique", d, "doc_id", "documents"),
      eDim)
      .reduce(_.unionByName(_))
      .withColumn("pass", col("violations") === 0L)
      .orderBy(col("check_name"))
  }

  /** q191 — CORPUS DRIFT MONITOR (population stability index): compare
    * the incoming batch slice against the standing corpus
    * over three marginal distributions a curation gate watches — source
    * mix, language mix, and the document-length histogram — and emit the
    * PSI ledger that decides "retrain the quality classifier / reweight
    * the mixture" BEFORE a drifted batch contaminates an epoch. PSI is
    * the standard index (banking scorecard literature; equivalently the
    * symmetrised discrete KL): Σ_b (p_cur − p_ref)·ln(p_cur / p_ref),
    * with 0.1/0.25 as the conventional warn/act thresholds.
    *
    * Smoothing: Laplace 0.5 per bucket over the UNION bucket set, so a
    * bucket present in only one slice contributes a finite term (no
    * ln 0) and both engines smooth identically.
    *
    * Slice: md5-hash of doc_id mod 10 ≥ 7 — NOT the doc_id % 10 ingest
    * convention the incremental tier uses (q106/q160/q177), because the
    * fixture interleaves doc_id ≡ source (mod 20): any residue-class
    * slice on raw doc_id IS a total source shift, and the monitor would
    * read the calendar as drift (baseline source-PSI 7.4 — saturated —
    * measured before this slice switched to the hash). The hash slice
    * is the fixture's stand-in for "yesterday vs today drawn from the
    * same pipeline"; in production the slice is the ingest timestamp.
    *
    * Scale shape: ONE scan of documents explodes each row into its 3
    * (feature, bucket) memberships — a map-only 3× row amplification —
    * then a hash aggregate on the (feature, bucket) key space (|sources|
    * + |langs| + 10 buckets, i.e. tiny) with map-side partials; bucket
    * probabilities need the per-feature totals, a ≤3-row aggregate
    * broadcast back. No window, no second scan; a 10⁹-doc batch costs
    * one pass + a KB-scale shuffle. Per-feature PSI totals ride the
    * same bucket aggregate through the q88 decimal treatment (round 6 →
    * DECIMAL sum) so the sum is order-independent.
    *
    * Output: one row per (feature, bucket) with slice counts, smoothed
    * probabilities, and the PSI contribution, plus one `__psi_total`
    * row per feature carrying the headline index. */
  private[graft] def q191IsCur: Column =
    pmod(conv(substring(md5(col("doc_id").cast(StringType)), 1, 8), 16, 10)
      .cast(LongType), lit(10L)) >= 7L

  /** The 3-way (feature, bucket) membership explode over a documents
    * row — shared by the batch monitor (q191) and the streaming drift
    * face (EventStreams.driftStream) so both watch the SAME marginals. */
  private[graft] def featureBuckets: Column =
    explode(array(
      struct(lit("source").as("feature"), col("source").as("bucket")),
      struct(lit("lang").as("feature"), col("lang").as("bucket")),
      struct(lit("len_bin").as("feature"),
        least(floor(col("n_chars").cast(DoubleType) / 500.0d), lit(9.0d))
          .cast(LongType).cast(StringType).as("bucket"))))

  def q191(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    val isCur = q191IsCur
    val feat = d.select(isCur.as("is_cur"), featureBuckets.as("fb"))
      .select(col("fb.feature"), col("fb.bucket"), col("is_cur"))
    val counts = feat.groupBy(col("feature"), col("bucket"))
      .agg(sum(when(!col("is_cur"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("is_cur"), 1L).otherwise(0L)).as("n_cur"))
    val totals = counts.groupBy(col("feature"))
      .agg(sum(col("n_ref")).as("tot_ref"), sum(col("n_cur")).as("tot_cur"),
        count(lit(1)).as("nb"))
    // smoothed probabilities and the per-bucket PSI term — both engines
    // evaluate the IDENTICAL expression tree, so the doubles agree to
    // the final round (the q138 discipline)
    val pRef = (col("n_ref").cast(DoubleType) + 0.5d) /
      (col("tot_ref").cast(DoubleType) + col("nb").cast(DoubleType) * 0.5d)
    val pCur = (col("n_cur").cast(DoubleType) + 0.5d) /
      (col("tot_cur").cast(DoubleType) + col("nb").cast(DoubleType) * 0.5d)
    val withP = counts.join(broadcast(totals), Seq("feature"))
      .select(col("feature"), col("bucket"), col("n_ref"), col("n_cur"),
        pRef.as("praw"), pCur.as("craw"))
      .withColumn("term", (col("craw") - col("praw")) *
        log(col("craw") / col("praw")))
    val buckets = withP.select(col("feature"), col("bucket"),
      col("n_ref"), col("n_cur"),
      round(col("praw"), 6).as("p_ref"), round(col("craw"), 6).as("p_cur"),
      round(col("term"), 6).as("psi"))
    val featureTotals = withP.groupBy(col("feature"))
      .agg(sum(col("n_ref")).as("n_ref"), sum(col("n_cur")).as("n_cur"),
        sum(round(col("term"), 6).cast(DecimalType(20, 6))).as("psi_dec"))
      .select(col("feature"), lit("__psi_total").as("bucket"),
        col("n_ref"), col("n_cur"),
        lit(1.0d).as("p_ref"), lit(1.0d).as("p_cur"),
        col("psi_dec").cast(DoubleType).as("psi"))
    buckets.unionByName(featureTotals)
      .orderBy(col("feature"), col("bucket"))
  }

  /** q195 — SAME-PASS PIPELINE METRICS (`Dataset.observe`): the receipt
    * a production curation job publishes — row count, byte totals,
    * length extremes, quality-drop count — collected by observation
    * aggregates that ride the SAME executor pass as the job itself,
    * instead of a second full scan (at 100 TB the naive "run the job,
    * then run SELECT COUNT(*), SUM(...) over the output" doubles the
    * I/O bill; `observe` makes the metrics free). The observed pipeline
    * is a real two-stage curation: exact-dedup keeper election (min
    * doc_id per content fingerprint — q22's kernel) then a length gate;
    * the observation point sits on the SURVIVOR stream, after both
    * stages.
    *
    * The query drives the pipeline through a count() action (standing
    * in for the manifest write a real job performs), then returns the
    * observed metrics as the 1-row receipt. Only the final metric row
    * crosses to the driver — the aggregation itself is distributed,
    * merged per task by the exec-side AggregatingAccumulator. Oracle:
    * DuckDB replays keeper election + gate + the same aggregates, so
    * the hash check proves the observed numbers equal a from-scratch
    * recomputation — the "free metrics are the TRUE metrics" bind. */
  def q195(spark: SparkSession, dir: String, minChars: Long = 100L): DataFrame = {
    val d = t(spark, dir, "documents")
    val keepers = d
      .withColumn("fp", md5(col("text")))
      .withColumn("keeper",
        min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .where(col("doc_id") === col("keeper"))
    val survivors = keepers.where(col("n_chars") >= minChars)
    val obs = org.apache.spark.sql.Observation("q195_receipt")
    val observed = survivors.observe(obs,
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("tot_chars"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"))
    val driven = observed.count() // the job's action; metrics ride it
    val row = obs.get
    import spark.implicits._
    Seq((driven,
        row("n_docs").asInstanceOf[Long],
        row("tot_chars").asInstanceOf[Long],
        row("min_chars").asInstanceOf[Long],
        row("max_chars").asInstanceOf[Long]))
      .toDF("n_written", "n_docs", "tot_chars", "min_chars", "max_chars")
  }

  /** q200 — CORPUS RELEASE SIGN-OFF: the one-table receipt a dataset
    * release ships beside the data — the ledger a consumer reads
    * BEFORE trusting 100 TB of parquet. Each section summarizes a
    * first-class operator already oracled on its own, composed into a
    * single long-form (section, metric, value) artifact:
    * corpus size, exact-duplicate count, integrity checks (key
    * uniqueness, length consistency — q162's row-local kernels),
    * ingest-drift headline PSIs (q191's `__psi_total` rows, reused as
    * a DataFrame, not re-derived), split sizes (q45's deterministic
    * buckets), retention posture (q189's classification), and the
    * order-free content checksum (q187's commutative digest sum over
    * the whole corpus) — the number a loader compares before an epoch.
    *
    * Scale shape: every section is a scan + algebraic aggregate with
    * map-side partials or a reuse of an already-scale-shaped kernel;
    * the union is a few dozen rows. One release pays a handful of
    * passes over documents/events and emits a KB. */
  def q200(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    def sec(s: String, m: String, v: Column): Column =
      struct(lit(s).as("section"), lit(m).as("metric"),
        v.cast(DoubleType).as("value"))
    val docStats = d.agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("tot_chars"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_exact_dupes"),
        (count(lit(1)) - countDistinct(col("doc_id"))).as("doc_id_dupes"),
        sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
          .as("len_mismatches"),
        pmod(sum(conv(substring(md5(concat_ws(":", col("doc_id"),
            col("n_chars"))), 1, 15), 16, 10).cast(LongType)
          .cast(DecimalType(38, 0))),
          lit(new java.math.BigDecimal("4611686018427387903")))
          .cast(LongType).as("content_sum"))
      .select(explode(array(
        sec("corpus", "n_docs", col("n_docs")),
        sec("corpus", "tot_chars", col("tot_chars")),
        sec("dedup", "n_exact_dupes", col("n_exact_dupes")),
        sec("integrity", "doc_id_dupes", col("doc_id_dupes")),
        sec("integrity", "len_mismatches", col("len_mismatches")),
        sec("checksum", "content_sum", col("content_sum")))).as("r"))
    val drift = q191(spark, dir)
      .where(col("bucket") === "__psi_total")
      .select(struct(lit("drift").as("section"),
        concat(lit("psi_"), col("feature")).as("metric"),
        col("psi").cast(DoubleType).as("value")).as("r"))
    val split = d.groupBy(
        when((col("doc_id") * 48271L) % 2147483647L % 100 < 90, "train_docs")
          .otherwise("valid_docs").as("metric"))
      .agg(count(lit(1)).as("n"))
      .select(struct(lit("split").as("section"), col("metric"),
        col("n").cast(DoubleType).as("value")).as("r"))
    val retention = graft.streaming.EventStreams
      .retentionClass(t(spark, dir, "events"))
      .groupBy(concat(lit("n_"), col("ret_class")).as("metric"))
      .agg(count(lit(1)).as("n"))
      .select(struct(lit("retention").as("section"), col("metric"),
        col("n").cast(DoubleType).as("value")).as("r"))
    docStats.unionByName(drift).unionByName(split).unionByName(retention)
      .select(col("r.section"), col("r.metric"), col("r.value"))
      .orderBy(col("section"), col("metric"))
  }

  /** q228 — FEATURE CORRELATION AUDIT: the pairwise Pearson matrix over
    * per-document shape features (chars, tokens, distinct tokens,
    * longest token). The corpus-card scalars (q95) and the per-column
    * profile (q46) describe features in isolation; a curation pass also
    * needs their JOINT structure — a quality classifier (q126) trained
    * on near-collinear features double-counts evidence, and a filter
    * threshold tuned on one feature silently moves another when |r|≈1.
    *
    * Exactness discipline: every feature is an INTEGER; all five
    * sufficient statistics (Σx, Σy, Σxy, Σx², Σy²) accumulate as
    * DECIMAL(38,0) — exact and order-independent under partial
    * aggregation, and the type a 100 TB corpus needs (BIGINT sums of
    * n·Σxy-scale terms overflow around 10^18; the decimal lane and
    * DuckDB's HUGEINT both hold the exact integer). The r numerator and
    * variance terms combine EXACTLY in decimal, cast once to double,
    * then sqrt/divide in the same operation order in both engines —
    * bit-identical at 6 dp.
    *
    * Scale shape: one scan computes the feature vector; explode to
    * (doc_id, feat, v) and an equi-join on doc_id (feat < feat — 6 pairs
    * per doc, linear) feed ONE map-side-partial aggregate over 6 groups.
    * No window, no collect, no second scan. */
  def q228(spark: SparkSession, dir: String): DataFrame = {
    val tk = graft.text.TextAnalysis.toks(col("text"))
    val feats = t(spark, dir, "documents").select(col("doc_id"),
      col("n_chars").as("chars"),
      size(tk).cast(LongType).as("toks"),
      size(array_distinct(tk)).cast(LongType).as("vocab"),
      coalesce(array_max(transform(tk, w => length(w))), lit(0))
        .cast(LongType).as("wmax"))
    val stacked = feats.select(col("doc_id"), explode(array(
        struct(lit("chars").as("feat"), col("chars").as("v")),
        struct(lit("toks").as("feat"), col("toks").as("v")),
        struct(lit("vocab").as("feat"), col("vocab").as("v")),
        struct(lit("wmax").as("feat"), col("wmax").as("v")))).as("f"))
      .select(col("doc_id"), col("f.feat"), col("f.v"))
    val dec = DecimalType(38, 0)
    val agg = stacked.as("a").join(stacked.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.feat") < col("b.feat"))
      .groupBy(col("a.feat").as("feat_x"), col("b.feat").as("feat_y"))
      .agg(count(lit(1)).as("n"),
        sum(col("a.v").cast(dec)).as("sx"),
        sum(col("b.v").cast(dec)).as("sy"),
        sum((col("a.v") * col("b.v")).cast(dec)).as("sxy"),
        sum((col("a.v") * col("a.v")).cast(dec)).as("sxx"),
        sum((col("b.v") * col("b.v")).cast(dec)).as("syy"))
    val num = col("n").cast(dec) * col("sxy") - col("sx") * col("sy")
    val vx = col("n").cast(dec) * col("sxx") - col("sx") * col("sx")
    val vy = col("n").cast(dec) * col("syy") - col("sy") * col("sy")
    agg.select(col("feat_x"), col("feat_y"), col("n").as("n_docs"),
        when(vx > 0 && vy > 0,
          round(num.cast(DoubleType) /
            (sqrt(vx.cast(DoubleType)) * sqrt(vy.cast(DoubleType))), 6)
            + lit(0.0))
          .as("r"))
      .orderBy(col("feat_x"), col("feat_y"))
  }

  /** q229 — SOURCE-MIX DIVERSITY card: concentration and entropy of the
    * corpus's token mass across sources, in one release-receipt row.
    * q88 reports the per-source shares; this is the summary a mixture
    * reviewer actually thresholds on: Herfindahl (Σp² — the collision
    * probability of two random tokens coming from the same source), its
    * reciprocal (effective number of equally-sized sources), the top
    * share, and Shannon entropy in bits. A mixture plan (q128) that
    * claims "20 sources" but measures 3.2 effective sources here is
    * domineered by a head source — the single number that catches it.
    *
    * Exactness discipline: shares are one double division of exact
    * integers (identical in both engines); the Σp² and Σ−p·log2 p terms
    * follow the q157 idiom — rounded to 18 dp, summed as DECIMAL(28,18)
    * (exact, order-independent), final 6 dp rounding after one cast. The
    * effective-source count divides from the UNROUNDED decimal sum so
    * both engines share the operation order. 18 dp (not the tier's usual
    * 8) because p² underflows an 8 dp lane once #sources ≳ 10⁴ — every
    * term would round to 0 and 1/Σp² would divide by zero; at 18 dp the
    * lane holds to ~10⁹ sources, past any plausible source registry.
    * A ZERO-token source (all-non-[a-z] docs) has p = 0: its entropy
    * term is gated to NULL on both sides (DuckDB ln(0) would otherwise
    * abort the oracle where Spark log(0) returns NULL) so it contributes
    * exactly 0 to the sum in both engines.
    *
    * Scale shape: one map-side token-count aggregate to #sources rows,
    * a 1-row broadcast total, and a second tiny aggregate — nothing
    * grows with the corpus except the first scan. */
  def q229(spark: SparkSession, dir: String): DataFrame = {
    val perSrc = t(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(sum(size(graft.text.TextAnalysis.toks(col("text")))
        .cast(LongType)).as("tok"))
    val tot = perSrc.agg(sum(col("tok")).as("t"), count(lit(1)).as("ns"))
    val p = perSrc.crossJoin(broadcast(tot))
      .select(col("ns"), col("t"),
        (col("tok").cast(DoubleType) / col("t").cast(DoubleType)).as("p"))
    def dec18(c: Column) = round(c, 18).cast(DecimalType(28, 18))
    p.agg(max(col("ns")).as("n_sources"),
        max(col("t")).as("total_tokens"),
        round(max(col("p")), 6).as("top_share"),
        sum(dec18(col("p") * col("p"))).as("hhi8"),
        // nats via ln (same function name in both engines — the q157
        // idiom); bits by a shared ln(2) LITERAL, not each engine's own.
        // p = 0 gated out (NULL → sum skips) identically on both sides.
        sum(when(col("p") > 0,
          dec18(-(col("p") * log(col("p")))))).as("ent8"))
      .select(col("n_sources"), col("total_tokens"),
        col("top_share"),
        round(col("hhi8").cast(DoubleType), 6).as("hhi"),
        round(lit(1.0) / col("hhi8").cast(DoubleType), 6)
          .as("effective_sources"),
        round(col("ent8").cast(DoubleType) / lit(0.6931471805599453), 6)
          .as("entropy_bits"))
  }
}
