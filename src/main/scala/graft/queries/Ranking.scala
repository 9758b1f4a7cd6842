package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Pins

/** Term-weighting / relevance-ranking operators over `documents` — the
  * retrieval side of a training-data pipeline (dedup picks what to drop,
  * ranking picks what to keep / surface). The reference has no scoring of
  * any kind (its apps are count/index aggregations, mrapps/wc.go,
  * indexer.go); these compose the q19/q20 token machinery with windowed
  * top-k and exact-decimal reductions.
  *
  * Float discipline (same as q67): every per-term double is computed in
  * ONE deterministic arithmetic order shared with the oracle SQL, summed
  * exactly as DECIMAL when an order-dependent float sum would otherwise
  * appear, and ROUND(..,6)-ed at the boundary. `ln` is the one
  * non-correctly-rounded primitive (measured: 4/5001 idf inputs differ
  * by 1 ulp between JVM and DuckDB libm) — the 6-decimal round absorbs
  * ulp wobble, and ranking ties break on the ROUNDED score then the term,
  * never on raw float order.
  */
object Ranking {

  /** (doc_id, word, tf) — term frequency per document. One explode + one
    * partial-agg shuffle keyed by (doc_id, word). */
  private def tf(spark: SparkSession, dir: String): DataFrame =
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))

  /** q73 — TF-IDF: top-5 terms per document by smoothed tf-idf
    * (sklearn-style idf = ln((N+1)/(df+1)) + 1, N = all documents).
    *
    * Plan shape at 100 TB: ONE linear pipeline over one scan. An earlier
    * form computed df by re-grouping `tf` and joining back — Catalyst
    * specialized the two consumptions into canonically distinct subtrees
    * and the tokenizer ran per branch (6 parquet scans, zero reuse —
    * same finding as q74). df is instead a window count over
    * `partitionBy(word)` ON the tf aggregate: per-word document frequency
    * with no join and no second tokenize (the winnowPairs trick). Honest
    * bound: a word's window partition is its document frequency — corpus-
    * scale for a stop word, and windows have no map-side partials; salt
    * the hot words (SkewUtils) if that ever outgrows a task. The doc
    * count is a 1-row broadcast off a column-pruned count-only scan; the
    * per-doc top-5 is a bounded row_number window partitioned by doc_id.
    * Every shuffle is keyed ((doc,word) → word → doc) and the first is
    * partial-aggregated; nothing global except the 1-row count. */
  def q73(spark: SparkSession, dir: String): DataFrame = {
    val t = tf(spark, dir)
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("word"))))
    val nDocs = graft.core.Tables(spark, dir, "documents")
      .agg(count(lit(1)).as("n_docs"))
    val score = round(
      col("tf").cast(DoubleType) *
        (log((col("n_docs").cast(DoubleType) + 1.0d) /
          (col("df").cast(DoubleType) + 1.0d)) + 1.0d), 6)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    t.crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("word").as("term"), col("tf"), col("df"),
        score.as("score"))
      .withColumn("rank", row_number().over(w).cast(IntegerType))
      .where(col("rank") <= 5)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Shared q74/q96 machinery: ONE per-doc aggregate (dl + a pivoted tf
    * column per query term) and the 1-row corpus stats over it (n_docs,
    * avgdl, per-term df) — the single-scan shape both rankers score
    * from. */
  private[queries] def queryAgg(spark: SparkSession, dir: String,
                       terms: Seq[String]): (DataFrame, DataFrame) =
    queryAggOf(graft.core.Tables(spark, dir, "documents"), terms)

  /** [[queryAgg]] over an explicit documents frame — the corpus-variant
    * entry the ranking-drift tier (q257) scores base vs full with. */
  private[queries] def queryAggOf(docs: DataFrame,
                       terms: Seq[String]): (DataFrame, DataFrame) = {
    val perDocAggs = count(lit(1)).as("dl") +:
      terms.indices.map(i =>
        sum(when(col("word") === terms(i), 1L).otherwise(0L)).as(s"tf_$i"))
    val perDoc = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("doc_id"))
      .agg(perDocAggs.head, perDocAggs.tail: _*)
    val statAggs = Seq(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl")) ++
      terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0L, 1L).otherwise(0L)).as(s"df_$i"))
    (perDoc, perDoc.agg(statAggs.head, statAggs.tail: _*))
  }

  /** Per-doc BM25 column (k1 = 1.2, b = 0.75) over [[queryAgg]] columns:
    * 8-decimal-rounded per-term parts summed as DECIMAL, rounded to 6. */
  private[queries] def bm25Col(terms: Seq[String]): Column = {
    val k1 = 1.2d
    val b = 0.75d
    def part(i: Int): Column = {
      val tfv = col(s"tf_$i").cast(DoubleType)
      val dfv = col(s"df_$i").cast(DoubleType)
      val idf = log(lit(1.0d) +
        (col("n_docs").cast(DoubleType) - dfv + 0.5d) / (dfv + 0.5d))
      val tfNorm = (tfv * lit(k1 + 1.0d)) /
        (tfv + lit(k1) * (lit(1.0d - b) + lit(b) * col("dl").cast(DoubleType) / col("avgdl")))
      // a term absent from the doc contributed no row in the join form —
      // here it contributes an exact decimal zero
      when(col(s"tf_$i") > 0L, round(idf * tfNorm, 8).cast(DecimalType(18, 8)))
        .otherwise(lit(0).cast(DecimalType(18, 8)))
    }
    round(terms.indices.map(part).reduce(_ + _).cast(DoubleType), 6)
  }

  private def hitsCol(terms: Seq[String]): Column =
    terms.indices
      .map(i => when(col(s"tf_$i") > 0L, 1).otherwise(0))
      .reduce(_ + _)

  /** Per-doc summed query tf-idf (q73's smoothed idf over the same
    * [[queryAgg]] columns; N = docs with ≥1 token). Same float
    * discipline as [[bm25Col]]. */
  private def tfidfCol(terms: Seq[String]): Column = {
    def part(i: Int): Column =
      when(col(s"tf_$i") > 0L,
        round(col(s"tf_$i").cast(DoubleType) *
          (log((col("n_docs").cast(DoubleType) + 1.0d) /
            (col(s"df_$i").cast(DoubleType) + 1.0d)) + 1.0d), 8)
          .cast(DecimalType(18, 8)))
        .otherwise(lit(0).cast(DecimalType(18, 8)))
    round(terms.indices.map(part).reduce(_ + _).cast(DoubleType), 6)
  }

  /** q74 — BM25 ranking (k1 = 1.2, b = 0.75) of all documents against a
    * fixed conjunctive-or query ("scan data merge"), top 25.
    *
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) over N = docs with ≥1
    * token; per-(doc,term) partial scores are rounded to 8 decimals and
    * summed as DECIMAL (a fixed-order 3-term decimal sum — exact, so
    * order-independence is trivial).
    *
    * ONE-SCAN shape: an earlier form branched `tf` three ways (query-term
    * rows, per-doc length, corpus stats) and Catalyst specialized each
    * branch with a different pushed filter — canonically distinct subtrees,
    * so nothing was reusable and the tokenizer ran per branch (measured:
    * 8 parquet scans in the executed plan, zero ReusedExchange). Since the
    * query has a FIXED handful of terms, everything those branches compute
    * folds into one per-doc aggregate: dl plus one pivoted tf column per
    * term (sum-of-indicator — algebraic, partial-agg'd). Corpus stats
    * (n_docs, avgdl, per-term df) are one global aggregate OVER that
    * per-doc table riding back as a 1-row broadcast, and the score is pure
    * per-row arithmetic — no joins anywhere. Executed plan: one scan, one
    * (doc_id) shuffle reused by both consumers (AQE stage reuse), a 1-row
    * broadcast, a top-k sink — QueriesSpec pins it. */
  def q74(spark: SparkSession, dir: String,
          terms: Seq[String] = Seq("scan", "data", "merge")): DataFrame = {
    val (perDoc, stats) = queryAgg(spark, dir, terms)
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        bm25Col(terms).as("bm25"),
        hitsCol(terms).cast(IntegerType).as("n_terms_hit"))
      .where(col("n_terms_hit") > 0)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(25)
  }

  /** q96 — reciprocal-rank fusion (k = 60) of the BM25 and summed-tf-idf
    * rankings for the fixed query — the standard hybrid-retrieval merge
    * (fuse rankers that disagree on scale by rank, not score). BOTH
    * rankings score off the ONE [[queryAgg]] per-doc aggregate (identical
    * subtrees → AQE stage reuse, the q74 shape); each list is cut to its
    * top-`listK` with TakeOrdered BEFORE its row_number window, so the
    * two partition-less windows see ≤ listK rows by construction (the
    * declared-bounded exception class, like q61's offset table). Absent
    * ranks fuse as 0 contribution (integer 0 marker, never NULL — the
    * driver's hash compare is null-fragile across engines). */
  def q96(spark: SparkSession, dir: String,
          terms: Seq[String] = Seq("scan", "data", "merge"),
          listK: Int = 25, kRrf: Int = 60): DataFrame = {
    val (perDoc, stats) = queryAgg(spark, dir, terms)
    val scored = perDoc.crossJoin(broadcast(stats))
      .where(hitsCol(terms) > 0)
      .select(col("doc_id"),
        bm25Col(terms).as("bm25"), tfidfCol(terms).as("tfidf"))
    def ranked(score: String, rankName: String): DataFrame =
      scored.orderBy(col(score).desc, col("doc_id")).limit(listK)
        .withColumn(rankName,
          row_number().over(
            Window.orderBy(col(score).desc, col("doc_id")))
            .cast(IntegerType))
        .select(col("doc_id"), col(rankName))
    val contrib = (rank: Column) =>
      when(rank > 0,
        round(lit(1.0d) / (lit(kRrf.toDouble) + rank), 8)
          .cast(DecimalType(18, 8)))
        .otherwise(lit(0).cast(DecimalType(18, 8)))
    ranked("bm25", "bm25_rank")
      .join(ranked("tfidf", "tfidf_rank"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("bm25_rank"), lit(0)).as("bm25_rank"),
        coalesce(col("tfidf_rank"), lit(0)).as("tfidf_rank"))
      .withColumn("rrf", round(
        (contrib(col("bm25_rank")) + contrib(col("tfidf_rank")))
          .cast(DoubleType), 6))
      .orderBy(col("rrf").desc, col("doc_id"))
  }

  /** q94 — bigram-LM document scoring (the CCNet-style "perplexity
    * filter"): train an add-one-smoothed bigram language model on the
    * corpus itself and score every document by its per-bigram negative
    * log likelihood. Documents whose nll sits far above the corpus norm
    * are noise/gibberish; far below are boilerplate — the classic
    * keep-the-middle quality signal, and unlike q25's surface ratios it
    * reads SEQUENCE typicality.
    *
    * One tokenizing aggregate `(doc_id, w1, w2) → c_d` feeds everything
    * — the corpus bigram and context counts are WINDOWS over it
    * (spec-asserted single Generate). Honest bound: a window partition
    * holds one row per (doc, w1, w2) triple sharing the key — for a STOP
    * context ("the") that is corpus-scale, and unlike the groupBy form a
    * window has no map-side partial, so the hot key funnels through one
    * window-sort task. The single-scan shape is the right default (the
    * re-grouped form re-tokenized the corpus ×3); at true stop-word skew
    * the mitigation is the library's salted two-phase aggregate
    * (SkewUtils) on the hot keys before the window — the same trade q73's
    * df-window documents. The smoothing vocabulary `V` is a
    * DECLARED model hyperparameter (like BM25's k1/b): a corpus-derived V
    * needs a global distinct — a second reduction branch whose pruned
    * subtree defeats exchange reuse and re-tokenizes the corpus (measured:
    * 2–3 scans) — and production perplexity filters (CCNet) score
    * against a FIXED model anyway. Each per-bigram contribution
    * `c_d · −ln((c_b+1)/(c_u+V))` is rounded to 8 decimals and summed
    * as DECIMAL (the q74 float discipline). */
  def q94(spark: SparkSession, dir: String,
          vocabSize: Int = 1 << 16): DataFrame = {
    // corpus counts as WINDOWS over the one (doc, w1, w2) aggregate —
    // re-grouping + joining back planned THREE tokenizing scans
    // (per-branch column pruning specializes the subtrees past exchange
    // reuse; the q73/q93 lesson). Window partitions are bounded by a
    // bigram's doc frequency / a context's row count — vocabulary-scale,
    // never corpus-scale. At true stop-word skew the SHIPPED mitigation
    // is q104: the same scoring off the materialized bigram aggregate
    // with salted joins, spec-proven equal (SkewSpec).
    val win = bigramCounts(spark, dir)
      .withColumn("c_b",
        sum(col("c_d")).over(Window.partitionBy(col("w1"), col("w2"))))
      // (w1)-partition = every (doc, w1, *) row of one context — see the
      // stop-context skew note in the scaladoc
      .withColumn("c_u",
        sum(col("c_d")).over(Window.partitionBy(col("w1"))))
    win
      .select(col("doc_id"), col("c_d"),
        nllTerm(vocabSize).as("term"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c_d")).cast(LongType).as("n_bigrams"),
        round(sum(col("term")).cast(DoubleType) /
          sum(col("c_d")).cast(DoubleType), 6).as("nll"))
      .orderBy(col("doc_id"))
  }

  /** The one tokenizing aggregate both LM scorers consume:
    * `(doc_id, w1, w2) → c_d` bigram occurrence counts. */
  private def bigramCounts(spark: SparkSession, dir: String): DataFrame =
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id"),
        filter(split(lower(col("text")), "[^a-z]+"), w => w =!= "").as("tk"))
      .where(size(col("tk")) >= 2) // sequence(1, 0) would DESCEND in Spark
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(tk) - 1),
          |  i -> struct(element_at(tk, i) as w1, element_at(tk, i + 1) as w2))"""
          .stripMargin)).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_d"))

  /** Per-bigram add-one-smoothed nll contribution off (c_d, c_b, c_u)
    * columns — shared verbatim by q94 and q104 so their equality is an
    * equality of PLANS feeding identical arithmetic. */
  private def nllTerm(vocabSize: Int): Column = {
    val prob = (col("c_b").cast(DoubleType) + 1.0d) /
      (col("c_u").cast(DoubleType) + lit(vocabSize.toDouble))
    round(col("c_d").cast(DoubleType) * -log(prob), 8)
      .cast(DecimalType(18, 8))
  }

  /** q104 — q94's bigram-LM scoring at STOP-WORD-SKEW shape: the shipped
    * mitigation q94's scaladoc names. q94's honest bound is its `(w1)`
    * context window — a stop context's partition is corpus-scale and a
    * window has no map-side partials, so the hot key funnels through one
    * window-sort task. Here the one tokenizing `(doc_id, w1, w2)`
    * aggregate is materialized ONCE (localCheckpoint — the "trained
    * model", the barrier that keeps single-tokenize without relying on
    * exchange reuse across differently-pruned branches), the corpus
    * counts are ordinary algebraic `groupBy().sum()`s over it (map-side
    * partials collapse each task's hot-key rows to one partial — the
    * two-phase aggregate windows cannot do), and the counts ride back via
    * SkewUtils.saltedJoin on (w1, w2) then (w1): the bigram side's salt
    * spreads a hot context over `nSalts` shuffle partitions while the
    * vocabulary-sized count tables replicate ×nSalts. Same arithmetic,
    * same output as q94 (spec-proven equal, SkewSpec; same oracle SQL).
    * The scored result (one slim row per doc) is the checkpoint; the
    * bigram model is freed once it materializes. */
  def q104(spark: SparkSession, dir: String,
           vocabSize: Int = 1 << 16, nSalts: Int = 8): DataFrame =
    Pins.result { pins =>
      val bg = pins.pin(bigramCounts(spark, dir))
      val cb = bg.groupBy(col("w1"), col("w2")).agg(sum(col("c_d")).as("c_b"))
      val cu = bg.groupBy(col("w1")).agg(sum(col("c_d")).as("c_u"))
      graft.core.SkewUtils.saltedJoin(
        graft.core.SkewUtils.saltedJoin(bg, cb, Seq("w1", "w2"), nSalts),
        cu, Seq("w1"), nSalts)
        .select(col("doc_id"), col("c_d"), nllTerm(vocabSize).as("term"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("c_d")).cast(LongType).as("n_bigrams"),
          round(sum(col("term")).cast(DoubleType) /
            sum(col("c_d")).cast(DoubleType), 6).as("nll"))
        .orderBy(col("doc_id"))
    }

  /** q119 — SPARSE tf-idf cosine near-dup pairs via inverted-index join:
    * the hashing-free sibling of the minhash (q29) and embedding (q31)
    * near-dup tiers. Features are word TRIGRAMS (the q66 shingle unit —
    * the fixture's 31-word vocabulary makes unigram space degenerate;
    * trigram vocabulary is ~16k at sf0.01 and grows with the corpus), each
    * weighted tf·idf with q73's smoothed idf, and a pair's score is the
    * exact cosine in that weighted space.
    *
    * Determinism (the q67/q73 discipline, pushed one step further):
    * weights are quantized to INTEGER 1e-4 units at birth —
    * round(tf·idf·10⁴) as BIGINT — so every norm (Σw²) and dot product
    * (Σw₁w₂) is EXACT int64 arithmetic with no accumulation-order
    * sensitivity in either engine; magnitudes stay < 2⁵³ (weights ≤ ~10⁷,
    * docs ≤ ~10³ grams), so the final int64→double conversions are exact
    * and the only float ops are two correctly-rounded sqrts and one
    * divide, rounded to 6.
    *
    * Plan shape at 100 TB: postings self-join keyed on the GRAM (the
    * inverted-index / LSH-bucket shape, never all-pairs), with ubiquitous
    * grams dropped by a docfreq cap BEFORE the join — per-bucket cost
    * ≤ maxDf², total linear in corpus size (the q65 stop-fingerprint
    * argument; boilerplate trigrams are exactly what the cap drops and
    * the idf weight would near-zero anyway). The df count is a window
    * over the gram-keyed aggregate (no rejoin, one tokenize — the q73
    * lesson); norms ride a doc-keyed join against the bounded per-doc
    * norm table. */
  /** (doc_id, gram, tfv) — word-trigram term frequencies per document,
    * the shared feature table of the sparse-cosine tier (q119/q124 and
    * the streaming ingest face). */
  private[graft] def gramCountsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        filter(split(lower(col("text")), "[^a-z]+"), w => w =!= "").as("tk"))
      .where(size(col("tk")) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("tk")) - 2),
          i => concat_ws(" ", slice(col("tk"), i, lit(3))))).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("tfv"))

  private def gramCounts(spark: SparkSession, dir: String): DataFrame =
    gramCountsOf(graft.core.Tables(spark, dir, "documents"))

  /** The sparse tier's weight: tf·idf quantized to int64 1e-4 units —
    * ONE shared expression so q119, q124, and the streaming face are
    * arithmetic-identical (and identical to the DuckDB oracles). */
  private[graft] def sparseWeight(tfv: Column, df: Column, nDocs: Column): Column =
    round(tfv.cast(DoubleType) *
      (log((nDocs.cast(DoubleType) + 1.0d) /
        (df.cast(DoubleType) + 1.0d)) + 1.0d) * 10000.0d)
      .cast(LongType)

  /** The sparse-cosine pair kernel shared by q119 and the q131 k-NN
    * graph: candidate pairs from the df-capped trigram inverted index,
    * exact int64 dot/norms, one rounded divide. ONE postings subtree
    * carrying everything a pair needs: the doc norm is a WINDOW over the
    * doc partition (not a separate groupBy branch), so the self-join's
    * two sides are canonically identical — the tokenize→agg→df-window→
    * weight→norm-window pipeline computes once and the b-side is a
    * ReusedExchange (the winnowPairs shape; the first form with a
    * separate norms aggregate + two norm joins executed 10 parquet
    * scans, this one 2). Returns (d1 < d2, cosine rounded 6). */
  private def sparsePairs(spark: SparkSession, dir: String,
                          maxDf: Int): DataFrame = {
    val nDocs = graft.core.Tables(spark, dir, "documents")
      .agg(count(lit(1)).as("n_docs"))
    val postings = gramCounts(spark, dir)
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gram"))))
      .where(col("df") <= maxDf)
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("gram"),
        sparseWeight(col("tfv"), col("df"), col("n_docs")).as("wi"))
      .withColumn("n2",
        sum(col("wi") * col("wi")).over(Window.partitionBy(col("doc_id"))))
    postings.as("a").join(postings.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.n2").as("na"), col("b.n2").as("nb"))
      .agg(sum(col("a.wi") * col("b.wi")).as("dot"))
      .select(col("d1"), col("d2"),
        round(col("dot").cast(DoubleType) /
          (sqrt(col("na").cast(DoubleType)) * sqrt(col("nb").cast(DoubleType))),
          6).as("cosine"))
  }

  def q119(spark: SparkSession, dir: String,
           tau: Double = 0.5, maxDf: Int = 50): DataFrame =
    sparsePairs(spark, dir, maxDf)
      .where(col("cosine") >= tau)
      .orderBy(col("d1"), col("d2"))

  /** q131 — sparse k-NN GRAPH: each document's k most-similar documents
    * by the q119 cosine (the neighbor structure a graph-based ANN index
    * or a "see also"/link-suggestion stage is built from). Candidates
    * stay bounded by the inverted-index join; the per-doc top-k runs on
    * the bounded [[graft.functions.TopKAggregator]] keyed by the cosine
    * in integer MICRO-units (round(cosine·1e6) of the already-rounded-6
    * double — exact in both engines), neighbor id ascending on ties —
    * no per-doc rank window, ≤ k rows shipped per doc per partition.
    * A weak floor (τ ≥ `minCos`) keeps noise edges out of the graph. */
  def q131(spark: SparkSession, dir: String, k: Int = 3,
           minCos: Double = 0.2, maxDf: Int = 50): DataFrame = {
    import spark.implicits._
    val agg = new graft.functions.TopKAggregator(k)
    val sym = sparsePairs(spark, dir, maxDf)
      .where(col("cosine") >= minCos)
      .select(col("d1"), col("d2"),
        round(col("cosine") * 1000000.0d).cast(LongType).as("cos_u"))
    sym.select(col("d1").as("doc_id"), col("d2").as("nbr"), col("cos_u"))
      .unionByName(
        sym.select(col("d2").as("doc_id"), col("d1").as("nbr"), col("cos_u")))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg.toColumn.name("top"))
      .toDF("doc_id", "top")
      .select(col("doc_id"), posexplode(col("top")))
      .select(
        col("doc_id"),
        (col("pos") + 1).cast(IntegerType).as("rank"),
        col("col._1").as("nbr_id"),
        round(col("col._2").cast(DoubleType) / 1000000.0d, 6).as("cosine"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** q152 — TRIANGLE COUNT + global clustering coefficient over the
    * q119 τ-similarity graph, by the degree-ordered node-iterator
    * (Suri & Vassilvitskii 2011, "Counting triangles and the curse of
    * the last reducer"): every edge is oriented from its
    * lower-(degree, id) endpoint to the higher, so each triangle is
    * counted exactly once AND the wedge join's per-key fan-out is
    * bounded by the ORIENTED out-degree — O(√m) for any degree
    * distribution — instead of the raw degree of a hub vertex (the
    * "last reducer" that serializes a naive wedge join on a power-law
    * graph). Wedges from the oriented list join back against it as a
    * plain (v, w) equi-join; everything is integer counting until the
    * one final coefficient division.
    *
    * Output: one row — nodes, edges, triangles, wedges (Σ d(d−1)/2
    * over undirected degrees), and clustering = 3·T / wedges. */
  def q152(spark: SparkSession, dir: String,
           tau: Double = 0.5, maxDf: Int = 50): DataFrame = {
    // reads the registry-owned edge pin (not freed)
    val (oriented, deg) =
      orientedFrom(cosineEdgesStanding(spark, dir, tau, maxDf))
    q152PlanBody(oriented, deg).localCheckpoint()
  }

  /** The tf-idf cosine similarity edge list shared by the triangle
    * family (q152/q154) — process-pinned via StandingState (the
    * fullGraphStanding argument: one materialized similarity graph,
    * many analytics). Registry-owned; callers must NOT free. */
  private def cosineEdgesStanding(spark: SparkSession, dir: String,
      tau: Double, maxDf: Int): DataFrame =
    graft.core.StandingState.of(spark, "cosedges", dir, tau, maxDf) {
      sparsePairs(spark, dir, maxDf)
        .where(col("cosine") >= tau)
        .select(col("d1"), col("d2"))
        .localCheckpoint()
    }

  /** Shared q152/q154 substrate over the pinned similarity edge list:
    * the undirected degrees and the (deg, id)-lexicographic low→high
    * orientation that bounds wedge fan-out at O(√m) on any degree
    * distribution (Suri–Vassilvitskii). One definition so an orientation
    * fix can never reach one triangle query and miss the other. */
  private def orientedFrom(e: DataFrame): (DataFrame, DataFrame) = {
    val deg = e.select(col("d1").as("v")).unionByName(e.select(col("d2").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val oriented = e
      .join(deg.select(col("v").as("d1"), col("deg").as("g1")), Seq("d1"))
      .join(deg.select(col("v").as("d2"), col("deg").as("g2")), Seq("d2"))
      .select(
        when(col("g1") < col("g2") ||
          (col("g1") === col("g2") && col("d1") < col("d2")),
          struct(col("d1").as("src"), col("d2").as("dst")))
          .otherwise(struct(col("d2").as("src"), col("d1").as("dst")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    (oriented, deg)
  }

  private def q152PlanBody(oriented: DataFrame, deg: DataFrame)
      : DataFrame = {
    val wedges = oriented.as("a").join(oriented.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .select(col("a.dst").as("v"), col("b.dst").as("w"))
    // the closing edge's orientation between v and w is rank-determined
    // but unknown here — probe BOTH directions as one EQUI-join (an OR
    // of conjunctions would plan as a CartesianProduct, the exact
    // last-reducer shape this operator exists to avoid; the hygiene
    // sweep caught it). At most one direction exists per wedge, so the
    // semi-join count is exact.
    val probes = wedges.select(col("v").as("src"), col("w").as("dst"))
      .unionByName(wedges.select(col("w").as("src"), col("v").as("dst")))
    val tri = probes.join(oriented, Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    // one oriented row per undirected edge, so n_edges = |oriented|
    val totals = oriented.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(
        count(lit(1)).as("n_nodes"),
        sum(expr("deg * (deg - 1) DIV 2")).as("n_wedges")))
    totals.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("n_wedges"),
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("n_triangles").cast(DoubleType) /
            col("n_wedges").cast(DoubleType), 6)).as("clustering"))
  }

  /** q154 — LOCAL clustering coefficient per node: q152's machinery kept
    * at triple granularity — for every vertex, the number of triangles
    * through it over its wedge count deg·(deg−1)/2. The per-document
    * read: a high-coefficient doc sits inside a dense duplication
    * neighborhood (a template family), a high-degree low-coefficient
    * doc is a hub stitching unrelated near-dup groups — exactly the two
    * cases a curation pass treats differently. Same bounded shapes as
    * q152 (pinned edge list, degree-ordered wedge join, equi semi
    * probe — here an inner join so each triangle's three vertices can
    * be credited); integer counting until the one final division. */
  def q154(spark: SparkSession, dir: String,
           tau: Double = 0.5, maxDf: Int = 50): DataFrame = {
    // registry-owned edge pin (the q152 note)
    val (oriented, deg) =
      orientedFrom(cosineEdgesStanding(spark, dir, tau, maxDf))
    q154PlanBody(oriented, deg).localCheckpoint()
  }

  private def q154PlanBody(oriented: DataFrame, deg: DataFrame)
      : DataFrame = {
    val wedges = oriented.as("a").join(oriented.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .select(col("a.src").as("u"), col("a.dst").as("v"), col("b.dst").as("w"))
    // both-direction probe as ONE equi-join (the q152 lesson); inner so
    // the triangle triple (u, src, dst) survives for per-vertex credit
    val triples = wedges
      .select(col("u"), col("v").as("src"), col("w").as("dst"))
      .unionByName(wedges.select(col("u"), col("w").as("src"), col("v").as("dst")))
      .join(oriented, Seq("src", "dst"))
    val perNode = triples
      .select(explode(array(col("u"), col("src"), col("dst"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
    val plan = deg.join(perNode, Seq("v"), "left_outer")
      .select(col("v").as("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2, round(
          coalesce(col("n_tri"), lit(0L)).cast(DoubleType) /
            expr("deg * (deg - 1) DIV 2").cast(DoubleType), 6))
          .as("local_cc"))
      .orderBy(col("doc_id"))
    plan
  }

  /** q124 — INCREMENTAL sparse near-dup: the q119 operator at the
    * daily-ingest shape, completing the batch+incremental pairing every
    * other dedup tier already has (exact q22/q90, minhash q29/q106,
    * bloom q109). The q106 split convention (doc_id % 10 < 7 = standing
    * corpus, rest = incoming batch) and labeling rule: each batch doc is
    * `neardup_corpus` if its cosine vs ANY corpus doc ≥ τ, else
    * `neardup_batch` if it matches any EARLIER-id batch doc (greedy
    * suppress — the deterministic ingest rule), else `new`.
    *
    * The model is the CORPUS's: idf comes from corpus document
    * frequency and the corpus doc count — the standing statistics a
    * production scorer holds between ingests — with q73's smoothing
    * making df = 0 (batch-novel grams) well-defined; those grams carry
    * weight in the batch doc's norm but can never contribute to a dot,
    * exactly the "novel content dilutes similarity" semantics wanted.
    * The df cap drops corpus-ubiquitous grams from the join space.
    *
    * Plan shape: everything scales with the BATCH except the one
    * gram-keyed probe of the standing postings (q90's irreducible probe
    * cost); corpus df rides as a window over the single gram table (a
    * conditional sum, so the corpus/batch split needs no second scan),
    * and both probes share the one weighted subtree. Determinism: the
    * q119 int64 weight quantization end-to-end. */
  def q124(spark: SparkSession, dir: String, tau: Double = 0.5,
           maxDf: Int = 50, mod: Int = 10, lt: Int = 7): DataFrame =
    Pins.result { pins =>
      // The weighted-vector model is pinned: it is probed three ways
      // (batch×corpus, batch×earlier-batch twice-sided) — without the pin
      // each probe branch re-planned the whole tokenize→df-window→weight→
      // norm-window pipeline (measured: 6 scans in the executed plan; the
      // model table spans the CORPUS, so at 100 TB that recompute dominates).
      val isCorpus = col("doc_id") % mod < lt
      val nDocs = graft.core.Tables(spark, dir, "documents")
        .where(isCorpus).agg(count(lit(1)).as("n_docs"))
      val weighted = pins.pin(gramCounts(spark, dir)
        .withColumn("corpus", isCorpus)
        .withColumn("df", sum(when(col("corpus"), 1L).otherwise(0L))
          .over(Window.partitionBy(col("gram"))))
        .where(col("df") <= maxDf)
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("gram"), col("corpus"),
          sparseWeight(col("tfv"), col("df"), col("n_docs")).as("wi"))
        .withColumn("n2",
          sum(col("wi") * col("wi")).over(Window.partitionBy(col("doc_id")))))
      val batch = weighted.where(!col("corpus"))
      def matchedIds(other: DataFrame, earlierOnly: Boolean): DataFrame = {
        val joined = batch.as("a").join(other.as("b"),
          col("a.gram") === col("b.gram") &&
            (if (earlierOnly) col("b.doc_id") < col("a.doc_id") else lit(true)))
        joined
          .groupBy(col("a.doc_id").as("in_id"), col("b.doc_id").as("other_id"),
            col("a.n2").as("na"), col("b.n2").as("nb"))
          .agg(sum(col("a.wi") * col("b.wi")).as("dot"))
          .where(round(col("dot").cast(DoubleType) /
            (sqrt(col("na").cast(DoubleType)) * sqrt(col("nb").cast(DoubleType))),
            6) >= tau)
          .select(col("in_id")).distinct()
      }
      val dupCorpus = matchedIds(weighted.where(col("corpus")), earlierOnly = false)
        .withColumn("dc", lit(1))
      val dupBatch = matchedIds(batch, earlierOnly = true)
        .withColumn("db", lit(1))
      graft.core.Tables(spark, dir, "documents")
        .where(!isCorpus)
        .select(col("doc_id"))
        .join(dupCorpus.withColumnRenamed("in_id", "doc_id"), Seq("doc_id"), "left_outer")
        .join(dupBatch.withColumnRenamed("in_id", "doc_id"), Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          when(col("dc").isNotNull, "neardup_corpus")
            .when(col("db").isNotNull, "neardup_batch")
            .otherwise("new").as("status"))
        .orderBy(col("doc_id"))
    }

  /** q138 — interpolated Kneser–Ney bigram model TRAINING: where
    * q94/q104 SCORE documents under an add-one model, this ships the
    * smoothed model itself — the table an n-gram LM pipeline materializes
    * once and serves everywhere. Discount D = 0.75;
    * `P_KN(w2|w1) = max(c−D,0)/c(w1) + D·N1+(w1·)/c(w1) · N1+(·w2)/N`
    * — the continuation-probability backoff that makes KN the standard
    * smoothing (Chen & Goodman 1999).
    *
    * Scale shape: ONE corpus-scale tokenize+aggregate (reusing q94's
    * single bigram scan, re-grouped corpus-wide with map-side partials);
    * everything after is vocabulary-scale — the follow/preceding
    * statistics are aggregates OF the bigram-type table, not the corpus,
    * and join back on w1/w2 with per-key fan-out bounded by bigram-type
    * counts. The 1-row type total is a broadcast fold. Top-200 output is
    * a TakeOrdered, not a global sort. */
  def q138(spark: SparkSession, dir: String,
           discount: Double = 0.75, topK: Int = 200): DataFrame = {
    val bg = bigramCounts(spark, dir)
      .groupBy(col("w1"), col("w2"))
      .agg(sum(col("c_d")).cast(LongType).as("cnt"))
    val follow = bg.groupBy(col("w1")).agg(
      sum(col("cnt")).cast(LongType).as("c1"),
      count(lit(1)).as("nf"))
    val prec = bg.groupBy(col("w2")).agg(count(lit(1)).as("np"))
    val types = bg.agg(count(lit(1)).as("tt"))
    val pkn =
      greatest(col("cnt").cast(DoubleType) - discount, lit(0.0d)) /
        col("c1").cast(DoubleType) +
      (lit(discount) * col("nf").cast(DoubleType) /
        col("c1").cast(DoubleType)) *
      (col("np").cast(DoubleType) / col("tt").cast(DoubleType))
    bg.join(follow, Seq("w1")).join(prec, Seq("w2"))
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), col("cnt"),
        round(pkn, 6).as("pkn"))
      .orderBy(col("cnt").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** q146 — Kneser–Ney perplexity SCORING: q138's interpolated-KN model
    * applied back over every document — per doc, the mean negative log
    * P_KN of its bigrams. Closes the train→apply loop q94 (add-one)
    * already has: the KN variant is what a CCNet-style quality filter
    * actually ranks with, because continuation-probability backoff stops
    * rare-context documents from being crushed by the smoothing floor.
    * Model and corpus are the same scan here (self-scoring), so every
    * document bigram has a model row and P_KN > 0 always (the backoff
    * term is strictly positive) — no unseen-event branch.
    *
    * Numeric discipline is q94's: the per-(doc, bigram) term
    * c_d · −ln(P_KN) is rounded to 8 dp and cast DECIMAL before the
    * per-doc sum (exact, order-independent), one final 6 dp round. The
    * double arithmetic for P_KN itself is written in the same operation
    * order as the oracle, so both engines feed ln() bit-identical input.
    *
    * Scale shape: ONE corpus tokenize into (doc, w1, w2, c_d) — the
    * q94/q138 shared scan, MATERIALIZED once (the q104/q210 model
    * barrier, r13: the lazy form re-planned the tokenize under the
    * bigram regroup, the follow/prec/type marginals and the scoring
    * side — 14 parquet scans in the executed plan; per-branch pruning
    * defeats exchange reuse, the q94 lesson); the model is
    * vocabulary-scale aggregates OF the pinned table (map-side partials
    * all the way down, 1-row type total broadcast); scoring is one
    * (w1, w2)-keyed join of the pinned table against the model and a
    * doc-keyed final aggregate. The scored result is the checkpoint; the
    * bigram table is freed once it materializes (q104's shape). */
  def q146(spark: SparkSession, dir: String,
           discount: Double = 0.75): DataFrame = Pins.result { pins =>
    val db = pins.pin(bigramCounts(spark, dir))
    val bg = db.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c_d")).cast(LongType).as("cnt"))
    val follow = bg.groupBy(col("w1")).agg(
      sum(col("cnt")).cast(LongType).as("c1"),
      count(lit(1)).as("nf"))
    val prec = bg.groupBy(col("w2")).agg(count(lit(1)).as("np"))
    val types = bg.agg(count(lit(1)).as("tt"))
    val pkn =
      greatest(col("cnt").cast(DoubleType) - discount, lit(0.0d)) /
        col("c1").cast(DoubleType) +
      (lit(discount) * col("nf").cast(DoubleType) /
        col("c1").cast(DoubleType)) *
      (col("np").cast(DoubleType) / col("tt").cast(DoubleType))
    val model = bg.join(follow, Seq("w1")).join(prec, Seq("w2"))
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), pkn.as("pkn"))
    db.join(model, Seq("w1", "w2"))
      .select(col("doc_id"), col("c_d"),
        round(col("c_d").cast(DoubleType) * -log(col("pkn")), 8)
          .cast(DecimalType(18, 8)).as("term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c_d")).as("n_bigrams"),
        round(sum(col("term")).cast(DoubleType) /
          sum(col("c_d")).cast(DoubleType), 6).as("kn_nll"))
      .orderBy(col("doc_id"))
  }

  /** q210 — PMI COLLOCATIONS (Church & Hanks 1990): the corpus's most
    * frequent bigrams scored by pointwise mutual information,
    * ln(p(w1,w2) / (p(w1)·p(w2))) — the association statistic that
    * separates true collocations ("machine learning") from bigrams that
    * are frequent only because both words are ("of the"). q75 counts the
    * bigrams; PMI is what a phrase-mining / tokenizer-seeding pass
    * actually ranks by.
    *
    * Numerics: counts are exact longs; the PMI argument is assembled in
    * a PINNED operation order — (c12·N) / (c1·c2), each factor cast to
    * double first — so both engines hand ln() the identical double
    * (the q191/q146 libm discipline), and the result rounds to 6 dp.
    * Scale shape: the bigram table derives once (pinned, freed after
    * the result materializes); left/right marginals are vocab-keyed
    * partial-aggregable groupBys joined back on vocab-sized keys; N is
    * a 1-row broadcast; the top-k is TakeOrderedAndProject. */
  def q210(spark: SparkSession, dir: String, minCount: Long = 5L,
           topK: Int = 30): DataFrame = Pins.result { pins =>
    val b = pins.pin(bigramCounts(spark, dir)
      .groupBy(col("w1"), col("w2")).agg(sum(col("c_d")).as("c12")))
    val left = b.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val right = b.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val n = b.agg(sum(col("c12")).as("nb"))
    b.where(col("c12") >= minCount)
      .join(left, Seq("w1"))
      .join(right, Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c12"),
        round(log(
          (col("c12").cast(DoubleType) * col("nb").cast(DoubleType)) /
            (col("c1").cast(DoubleType) * col("c2").cast(DoubleType))), 6)
          .as("pmi"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(topK)
  }
}
