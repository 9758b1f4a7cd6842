package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Pins, Prefix, Tables}
import graft.dedup.Dedup
import graft.text.TextAnalysis

/** End-to-end curation pipeline as ONE DataFrame graph — the shape of a
  * real training-data job: canonical dedup → quality filter → language ID
  * → per-(lang, source) accounting. Composes the library's operators with
  * no materialization barriers, so Catalyst plans the whole pipeline (one
  * pass over documents + one fingerprint shuffle + one final aggregate).
  */
object Curation {

  /** Deterministic per-row bucket in [0, 100): one Lehmer/Park-Miller
    * step `(id·48271) mod (2³¹−1)` then mod 100 — NOT rand():
    * reproducible across runs/retries/partitionings and engines (plain
    * 64-bit-safe integer arithmetic, no overflow for id < 2^44). The
    * multiplier-mod-prime step matters: a raw `(a·id+b) mod 100` LCG
    * bucket is periodic in id with period ≤ 20, which correlates with
    * any id-derived attribute (here source = f(doc_id)) and silently
    * turns per-ROW sampling into per-STRATUM all-or-nothing. */
  private def bucket100(id: org.apache.spark.sql.Column) =
    (id * 48271L) % 2147483647L % 100

  /** q45 — deterministic train/validation split, 90/10 by [[bucket100]]
    * (a rand() split breaks exactly-once under task retry). */
  def q45(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("source"),
        when(bucket100(col("doc_id")) < 90, "train")
          .otherwise("valid").as("split"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("split"), col("source"))

  /** q46 — column profiling over lineitem measures: the data-quality
    * pre-flight of any ingest pipeline. ONE scan: the four measure columns
    * are unpivoted with `stack` inside the same codegen stage, then the
    * stats are computed as an explicit TWO-LEVEL aggregate —
    * `groupBy(column, v)` with map-side partials, then `groupBy(column)`.
    * NOT `countDistinct` mixed with plain aggregates: that plans an
    * Expand (row doubling) + a regroup keyed by the 4-value `column`
    * alone, funnelling every row through 4 reducers — a measured ~10×
    * regression locally and a guaranteed bottleneck at scale. Here the
    * first shuffle is keyed by (column, v) — high-cardinality, evenly
    * spread — and the second sees only one row per distinct value. */
  def q46(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val stackArgs = cols.map(c => s"'$c', $c").mkString(", ")
    l.select(expr(s"stack(${cols.size}, $stackArgs) AS (`column`, v)"))
      .groupBy(col("column"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("column"))
      .agg(
        sum(col("cnt")).as("n"),
        sum(when(col("v").isNotNull, col("cnt")).otherwise(0L)).as("n_nonnull"),
        count(col("v")).as("n_distinct"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        // every row of a (column, v) group IS v, so the group's exact sum
        // is v·cnt — no decimal accumulator needed in the wide first
        // level, only one decimal multiply per DISTINCT value here. Exact
        // decimal total → double, one division + round: identical bit
        // pattern in both engines.
        round(
          sum(col("v").cast(DecimalType(12, 4)) * col("cnt"))
            .cast(DoubleType) /
          sum(when(col("v").isNotNull, col("cnt")).otherwise(0L)), 4)
          .as("mean_v"))
      .orderBy(col("column"))
  }

  /** q70 — deterministic STRATIFIED sampling: different keep-rate per
    * stratum (50% for even-numbered sources, 10% for odd), decided by the
    * same [[bucket100]] mix as q45 — the `sampleBy` semantics without
    * `rand()`: retry-stable, partitioning-independent, reproducible
    * across engines (and therefore oracle-checked, which seeded
    * `sampleBy` can never be). The pattern every training-data pipeline
    * uses to rebalance sources. */
  def q70(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("srcnum",
        regexp_extract(col("source"), "[0-9]+", 0).cast(IntegerType))
      .withColumn("bucket", bucket100(col("doc_id")))
      .where(
        (pmod(col("srcnum"), lit(2)) === 0 && col("bucket") < 50) ||
        (pmod(col("srcnum"), lit(2)) === 1 && col("bucket") < 10))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy(col("source"))

  /** q68 — frequent-items profiling (heavy hitters): single-pass
    * Karp/Misra-Gries style sketch via DataFrame.stat.freqItems — the
    * 100 TB answer to "what are the dominant event types / power users"
    * without a full groupBy+sort. Guarantee: every value with frequency
    * > support·n IS in the result (possible false positives, never false
    * negatives — spec-asserted against exact counts). Output sorted for
    * stable presentation; values are sketch-dependent → rows-only driver
    * check. */
  def q68(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    // sorted-csv scalar columns, not arrays: the driver's rows-check
    // hashes pandas values, and array cells are unhashable there
    // (CORRECTNESS_r03 q68 TypeError) — same flattening convention as q20
    ev.stat.freqItems(Seq("event_type", "user_id"), 0.1)
      .select(
        array_join(array_sort(col("event_type_freqItems")), ",")
          .as("frequent_event_types"),
        array_join(array_sort(col("user_id_freqItems").cast(ArrayType(StringType))), ",")
          .as("frequent_user_ids"))
  }

  /** q143 — count-min sketch over corpus token frequencies, audited
    * against exact counts. The mergeable 100 TB heavy-hitter shape: the
    * sketch is a fixed d×w counter grid (d = 4 rows, w = 16 buckets —
    * deliberately small so bucket collisions actually occur and the
    * min-over-rows estimator is exercised non-trivially); updates are
    * commutative integer adds, so the grid partial-aggregates map-side,
    * merges across executors/batches/streams by cell-wise addition, and
    * costs O(d·w) memory regardless of corpus size. Estimates carry the
    * one-sided CMS guarantee est ≥ true (spec-asserted).
    *
    * Token-to-bucket hashing is the portable poly31+splitmix64 kernel
    * ([[graft.functions.TokenHashExpr]]) with a "r#" domain-separation
    * prefix per sketch row — pure integer arithmetic a DuckDB oracle
    * recomputes losslessly, so unlike the built-in sketches (q38 HLL,
    * q60 quantile digest, q68 freqItems) this one is EXACTLY
    * oracle-checked end to end: counters, estimates, and overcounts.
    *
    * Plan shape: ONE tokenizing scan into a vocab aggregate; the d·w
    * grid, the top-k probe set, and the estimates all derive from that
    * (small) vocab table — the corpus is never re-scanned. */
  /** The d sketch cells of a word: (row, bucket) per hash row, via the
    * "r#"-domain-separated portable hash. */
  def cmCellsOf(word: org.apache.spark.sql.Column, d: Int, w: Int) = {
    import graft.functions.TokenHashExpr.tokenHash
    // The DuckDB oracle recomputes the bucket as UNSIGNED hash mod w;
    // Spark computes SIGNED pmod. The two agree for every 64-bit hash
    // value only when w divides 2^64, i.e. w is a power of two — pin
    // the contract so a caller can't silently break oracle-exactness.
    require(w > 0 && (w & (w - 1)) == 0,
      s"cmCellsOf: width $w must be a power of two (oracle hash-mod contract)")
    explode(array(
      (0 until d).map(r => struct(
        lit(r).as("r"),
        pmod(tokenHash(concat_ws("#", lit(r.toString), word)), lit(w.toLong))
          .as("bucket"))): _*))
  }

  /** The count-min grid of a document set: (r, bucket, cnt) — the
    * mergeable form. Grids of disjoint corpus slices (batches, streams,
    * executors) combine by cell-wise addition into exactly the
    * whole-corpus grid (spec-asserted), which is what makes CMS the
    * incremental-ingest counter. */
  def cmGrid(docs: DataFrame, d: Int = 4, w: Int = 16): DataFrame =
    docs
      .select(explode(TextAnalysis.toks(col("text"))).as("word"))
      .select(cmCellsOf(col("word"), d, w).as("c"))
      .groupBy(col("c.r").as("r"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** q148 — INCREMENTAL count-min: the q90/q106/q110 incremental-ingest
    * posture applied to the sketch tier. The standing corpus
    * (doc_id % 10 < 7) is summarized into its d×w grid once and
    * PERSISTED between ingests; each arriving batch (doc_id % 10 ≥ 7)
    * is sketched alone, and per-token arrival counts are answered from
    * the two grids — at production the base corpus is never rescanned
    * (in this self-contained plan both grids derive from ONE tokenizing
    * scan via per-word conditional sums). For the top-20
    * whole-corpus words: the estimated batch arrivals (min over rows of
    * the increment grid), the estimated standing count, and their sum —
    * which still bounds the whole-corpus count from above (each addend
    * carries the per-grid guarantee), and is TIGHTER than sketching the
    * union, since min(a)+min(b) ≤ min(a+b). At 100 TB the
    * nightly ingest job carries O(d·w) state per stream instead of a
    * corpus-scale recount; the streaming face accumulates the same grid
    * across triggers (spec-proven equal to the batch grid).
    *
    * One-sided guarantees hold per grid (est ≥ true for base, incr, and
    * total separately) — spec-asserted; all values oracle-exact via the
    * portable hash. */
  def q148(spark: SparkSession, dir: String, d: Int = 4, w: Int = 16,
           topK: Int = 20): DataFrame = {
    // ONE tokenizing scan: per-word slice counts via conditional sums
    // (the q143/q151 counts-first shape — the plan had 3 corpus scans as
    // two cmGrid branches + a probe branch before this). At production
    // the base grid is PERSISTED state between ingests; in-plan, both
    // grids derive from this single vocab aggregate.
    val cw = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(TextAnalysis.toks(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(
        sum(when(col("doc_id") % 10 < 7, 1L).otherwise(0L)).as("n_base"),
        sum(when(col("doc_id") % 10 >= 7, 1L).otherwise(0L)).as("n_incr"))
    val grids = cw
      .select(col("n_base"), col("n_incr"), cmCellsOf(col("word"), d, w).as("c"))
      .groupBy(col("c.r").as("r"), col("c.bucket").as("bucket"))
      .agg(sum(col("n_base")).as("base_cnt"), sum(col("n_incr")).as("incr_cnt"))
    val top = cw
      .select(col("word"), (col("n_base") + col("n_incr")).as("true_n"))
      .orderBy(col("true_n").desc, col("word")).limit(topK)
    top
      .select(col("word"), col("true_n"), cmCellsOf(col("word"), d, w).as("c"))
      .select(col("word"), col("true_n"),
        col("c.r").as("r"), col("c.bucket").as("bucket"))
      .join(broadcast(grids), Seq("r", "bucket"))
      .groupBy(col("word"), col("true_n"))
      .agg(min(col("base_cnt")).as("est_base"),
        min(col("incr_cnt")).as("est_incr"))
      .select(col("word"), col("true_n"), col("est_base"), col("est_incr"),
        (col("est_base") + col("est_incr")).as("est_total"))
      .orderBy(col("true_n").desc, col("word"))
  }

  /** q151 — CMS inner-product JOIN-SIZE estimation (Cormode &
    * Muthukrishnan 2005, §4.2): the size of the equi-join between two
    * relations on a key is Σ_key a(key)·b(key) — estimated WITHOUT
    * touching either relation again as min over sketch rows of the
    * cell-wise product of their count-min grids. The query-optimizer
    * statistic (AQE-style join planning) as a first-class operator:
    * here the two sides are the base/incremental corpus slices joined
    * on token equality. One-sided like every CMS read: each row's
    * product only ADDS collision cross-terms, so est ≥ true
    * (spec-asserted); exact value oracle-checked via the portable hash.
    *
    * Scale shape: ONE corpus pass into the per-word conditional-count
    * vocab aggregate; grids, per-row products, the min, and the exact
    * reference all derive from that table (the q143 counts-first shape).
    * The estimate itself costs O(d·w) per pair of relations — the point:
    * join-size questions over a 100 TB catalog come from stored grids,
    * not data. */
  def q151(spark: SparkSession, dir: String, d: Int = 4, w: Int = 16): DataFrame = {
    val cw = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(TextAnalysis.toks(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(
        sum(when(col("doc_id") % 10 < 7, 1L).otherwise(0L)).as("n_base"),
        sum(when(col("doc_id") % 10 >= 7, 1L).otherwise(0L)).as("n_incr"))
    val grid = cw
      .select(col("n_base"), col("n_incr"), cmCellsOf(col("word"), d, w).as("c"))
      .groupBy(col("c.r").as("r"), col("c.bucket").as("bucket"))
      .agg(sum(col("n_base")).as("bc"), sum(col("n_incr")).as("ic"))
    val est = grid.groupBy(col("r"))
      .agg(sum(col("bc") * col("ic")).as("prod"))
      .agg(min(col("prod")).as("est_join_size"))
    val truth = cw.agg(sum(col("n_base") * col("n_incr")).as("true_join_size"))
    truth.crossJoin(broadcast(est))
      .select(col("true_join_size"), col("est_join_size"),
        (col("est_join_size") - col("true_join_size")).as("overcount"))
  }

  def q143(spark: SparkSession, dir: String, d: Int = 4, w: Int = 16,
           topK: Int = 20): DataFrame = {
    def cellsOf(word: org.apache.spark.sql.Column) = cmCellsOf(word, d, w)
    val counts = Tables(spark, dir, "documents")
      .select(explode(TextAnalysis.toks(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    val cells = counts
      .select(col("word"), col("n"), cellsOf(col("word")).as("c"))
      .select(col("word"), col("n"), col("c.r").as("r"), col("c.bucket").as("bucket"))
    val counters = cells.groupBy(col("r"), col("bucket"))
      .agg(sum(col("n")).as("cnt"))
    val top = counts
      .orderBy(col("n").desc, col("word")).limit(topK)
      .withColumnRenamed("n", "true_n")
    top.join(cells.select(col("word"), col("r"), col("bucket")), Seq("word"))
      .join(counters, Seq("r", "bucket"))
      .groupBy(col("word"), col("true_n"))
      .agg(min(col("cnt")).as("est_n"))
      .select(col("word"), col("true_n"), col("est_n"),
        (col("est_n") - col("true_n")).as("overcount"))
      .orderBy(col("true_n").desc, col("word"))
  }

  /** q80 — PASSAGE-level dedup folded into curation: the consumer the
    * containment tier was missing. q65 (winnowed-fingerprint containment,
    * Dedup.winnowPairs) emits candidate pairs of documents sharing ≥
    * minShared selected fingerprints — boilerplate/license-header/quoted-
    * passage overlap that word-SET dedup (q44's fingerprint tier) cannot
    * see. Those pairs are collapsed to clusters by connected components
    * (q66's engine: A shares a passage with B, B with C ⇒ one cluster
    * even when A∩C was never emitted), the min doc_id per cluster is the
    * keeper, and the drop set is anti-joined out before per-source
    * accounting. Every stage is the 100 TB shape it reuses: fp-bucketed
    * pair generation, iterated label propagation, one anti-join on doc_id.
    * Winnow fingerprints are xxhash64-dependent → rows-only driver check;
    * the keep/drop partition is spec-proven equal to driver-side
    * union-find over the same pairs. */
  def q80(spark: SparkSession, dir: String,
          minShared: Int = 8, maxDocFreq: Int = 20): DataFrame =
    // consume the vertex-sized label table into the bounded per-source
    // aggregate, checkpoint THAT (one row per source), free the labels —
    // same storage discipline as q66
    Pins.result { pins =>
      val docs = Tables(spark, dir, "documents")
      val pairs = Dedup.winnowPairs(spark, dir, minShared, maxDocFreq)
        .select(col("d1").as("src"), col("d2").as("dst"))
      // members whose component label differs from their id are dropped;
      // isolated documents never enter the edge list and are kept
      val labels = pins.own(graft.dedup.Components.connectedComponents(pairs))
      val drop = labels
        .where(col("comp") =!= col("id"))
        .select(col("id").as("doc_id"), lit(1).as("dropped"))
      docs.join(drop, Seq("doc_id"), "left_outer")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(coalesce(col("dropped"), lit(0))).cast(IntegerType)
            .as("n_dropped"),
          (count(lit(1)) - sum(coalesce(col("dropped"), lit(0))))
            .cast(IntegerType).as("n_kept"))
        .orderBy(col("source"))
    }

  /** q113 — LINE-level boilerplate removal: the CCNet/RefinedWeb-style
    * dedup stage word-set and passage-fingerprint dedup both miss —
    * delete every line that repeats across ≥ `minDocs` distinct
    * documents (site headers, license banners, navigation chrome), keep
    * everything else, and re-emit the cleaned document.
    *
    * The fixture's texts are flat word streams, so the line structure is
    * DERIVED deterministically (both engines compute the identical
    * corpus, the q112 planting pattern): each doc becomes
    * [global header] ++ [per-source license line] ++
    * [shared quote block keyed doc_id % 100] ++ 15-word body chunks.
    * Three frequency classes result — the header (every doc) and the
    * license (25 docs/source) sit above the threshold and are removed;
    * the quote block (5 docs) and body chunks (unique) survive, proving
    * the threshold bites rather than nuking all repetition.
    *
    * Scale shape: lines shuffle ONCE keyed by a fixed-width digest of
    * the line (md5 here because it is engine-portable for the oracle;
    * production would use xxhash64), never by the line text; the
    * docfreq count is a two-phase aggregate over distinct (doc, key)
    * pairs; the boiler set — bounded above by total_lines / minDocs —
    * rides back as a BROADCAST, which also sidesteps the inherent skew
    * of probing on heavy-hitter keys (a global header's key appears in
    * every doc; a shuffle join on it would funnel one reducer).
    * Reassembly is one doc-keyed aggregate: sorted-struct collect of
    * surviving lines, order restored by position, never a window. */
  def q113(spark: SparkSession, dir: String, lineWords: Int = 15,
           minDocs: Int = 20): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val words = split(col("text"), " ")
    val nChunks = ceil(size(words).cast(DoubleType) / lineWords)
      .cast(IntegerType)
    val chunks = transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(words, i * lineWords + 1, lit(lineWords)), " "))
    val lines = docs
      .select(col("doc_id"),
        posexplode(concat(array(
          lit("common corpus boilerplate header"),
          concat(lit("license "), col("source"), lit(" all rights reserved")),
          concat(lit("shared quote block "), pmod(col("doc_id"), lit(100)))),
          chunks)).as(Seq("pos", "line")))
      .withColumn("lkey", md5(col("line")))
    val boiler = lines
      .select(col("doc_id"), col("lkey")).distinct()
      .groupBy(col("lkey"))
      .agg(count(lit(1)).as("docfreq"))
      .where(col("docfreq") >= minDocs)
      .select(col("lkey"), lit(1).as("boiler"))
    lines
      .join(broadcast(boiler), Seq("lkey"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        count(col("boiler")).as("n_boiler"),
        (count(lit(1)) - count(col("boiler"))).as("n_kept"),
        md5(array_join(transform(
          sort_array(collect_list(when(col("boiler").isNull,
            struct(col("pos"), col("line"))))),
          s => s.getField("line")), "\n")).as("cleaned_md5"))
      .orderBy(col("doc_id"))
  }

  /** q87 — sequence-packing accounting: where each document lands when the
    * corpus is concatenated in doc_id order and chunked into fixed
    * `seqLen`-token training sequences (the concat-then-chunk packing
    * every LLM pre-training run performs). Per document: token count, the
    * global token offset where it starts, and the first/last/count of the
    * training sequences it spans.
    *
    * The global running sum is [[graft.core.Prefix.before]] keyed by
    * doc_id, not a partition-less window: the single-task q57-style
    * `Window.orderBy` it replaces would funnel the whole corpus through
    * one reducer, while the prefix engine's only global structure is a
    * P-row offset table. */
  def q87(spark: SparkSession, dir: String, seqLen: Int = 128): DataFrame =
    pack(spark,
      Tables(spark, dir, "documents")
        .select(col("doc_id").cast(LongType),
          size(TextAnalysis.toks(col("text"))).cast(LongType).as("n_tok")),
      seqLen)

  /** The q87 packing engine over any `(doc_id, n_tok)` frame (q100 runs
    * it over the CURATED subset): token prefix sums in doc_id order,
    * arithmetic sequence spans. The prefix pass is pinned only while the
    * manifest materializes. */
  private[graft] def pack(spark: SparkSession, counts: DataFrame,
                            seqLen: Int): DataFrame =
    Pins.result(pins => packPlan(pins, spark, counts, seqLen))

  /** The pack plan BEFORE the result checkpoint; the prefix pass is pinned
    * in `pins` (see [[graft.core.Prefix.before]] for why a pin, not
    * exchange reuse, holds the offsets to the rows they shift). */
  private[queries] def packPlan(pins: Pins, spark: SparkSession,
                                counts: DataFrame, seqLen: Int): DataFrame =
    Prefix.before(pins, counts.where(col("n_tok") > 0), Nil,
        Seq(col("doc_id")), col("n_tok"))
      .select(
        col("doc_id"), col("n_tok"), col("before").as("start_tok"),
        // integral `div`: exact floor for the non-negative offsets here
        expr(s"before div $seqLen").cast(LongType).as("first_seq"),
        expr(s"(before + n_tok - 1) div $seqLen").cast(LongType)
          .as("last_seq"))
      .withColumn("n_seqs",
        (col("last_seq") - col("first_seq") + 1L).cast(LongType))
      .orderBy(col("doc_id"))

  /** q88 — source-mix design: per-source token accounting turned into
    * temperature-based sampling weights (`w ∝ tokens^(1/2)`, the
    * UnifiedQA / multilingual-LM mixing rule that up-weights small
    * sources without letting any source dominate) plus the expected
    * epoch count each source runs at for a fixed token budget. One small
    * aggregate + a 1-row broadcast total (the q73 pattern) — nothing
    * here grows with corpus size except the first token-count pass.
    *
    * Determinism: each per-source `sqrt` is IEEE-exact, ROUNDED to 6
    * decimals and summed as DECIMAL so the normalizing total is
    * order-independent; epochs derive from the ROUNDED weight so both
    * engines compute from identical inputs. */
  def q88(spark: SparkSession, dir: String,
          budgetTokens: Long = 1000000L): DataFrame = {
    val perSource = Tables(spark, dir, "documents")
      .select(col("source"),
        size(TextAnalysis.toks(col("text"))).cast(LongType).as("n_tok"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast(LongType).as("tokens"))
      .withColumn("wr",
        round(sqrt(col("tokens").cast(DoubleType)), 6)
          .cast(DecimalType(20, 6)))
    val total = perSource.agg(sum(col("wr")).as("wtot"))
    val weight = round(
      col("wr").cast(DoubleType) / col("wtot").cast(DoubleType), 4)
    perSource
      .crossJoin(broadcast(total))
      .select(
        col("source"), col("n_docs"), col("tokens"),
        weight.as("weight"),
        // zero-token source → NULL epochs in both engines (when/NULLIF),
        // never DuckDB's IEEE inf against Spark's NULL
        when(col("tokens") > 0,
          round(weight * budgetTokens / col("tokens"), 4)).as("epochs"))
      .orderBy(col("source"))
  }

  /** q95 — corpus card: the one-row "datasheet" every published dataset
    * ships (counts, composition, volume, duplication). Each concern is
    * its own COLUMN-PRUNED branch reduced to one row and cross-joined as
    * a broadcast — the cardinality branches (sources, langs, exact-dup
    * groups) are explicit TWO-LEVEL aggregates (group on the value, then
    * count), never `countDistinct` mixed into a global aggregate, which
    * plans an Expand and funnels every row through one reducer (the q46
    * regression shape — fatal on a corpus-sized global aggregate). Two
    * branches read `text` (token sum, md5 groups); the rest scan only
    * metadata columns. */
  def q95(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val counts = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).cast(LongType).as("total_chars"))
    val sources = docs.groupBy(col("source")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_sources"))
    val langs = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_langs"))
    val tokens = docs
      .select(size(TextAnalysis.toks(col("text"))).cast(LongType).as("n"))
      .agg(sum(col("n")).as("total_tokens"))
    val dups = docs.select(md5(col("text")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("c"))
      .agg(
        count(lit(1)).as("n_unique_texts"),
        sum(col("c") - 1).cast(LongType).as("n_exact_dup_docs"))
    counts
      .crossJoin(broadcast(sources))
      .crossJoin(broadcast(langs))
      .crossJoin(broadcast(tokens))
      .crossJoin(broadcast(dups))
      .select(
        col("n_docs"), col("n_sources"), col("n_langs"),
        col("total_chars"), col("total_tokens"),
        round(col("total_tokens").cast(DoubleType) / col("n_docs"), 4)
          .as("avg_doc_tokens"),
        col("n_unique_texts"), col("n_exact_dup_docs"))
  }

  /** q100 — the TRAINING-SET MANIFEST: the library's tiers composed into
    * the artifact a pre-training run actually consumes. A document makes
    * the cut when it (a) is the canonical-fingerprint keeper (min doc_id
    * per sorted-word-set md5 — q44's dedup tier), (b) passes the quality
    * gate (alpha ratio ≥ 0.7, ≥ 10 tokens — q44's filter), (c) is not in
    * the held-out benchmark slice and not flagged by 3-gram
    * decontamination (q86), and the kept set is then concat-and-chunk
    * packed into `seqLen`-token training sequences (q87's two-pass
    * engine over the CURATED subset). Emits one manifest row per kept
    * document: token count, global offset, and the sequence span it
    * lands in. Every stage is the scale shape it reuses; everything is
    * md5/integer-exact, so the whole composition carries a DuckDB
    * oracle. */
  def q100(spark: SparkSession, dir: String, seqLen: Int = 128,
           benchMod: Int = 50): DataFrame =
    pack(spark, curatedCounts(spark, dir, benchMod), seqLen)

  /** The q100 curated set as a `(doc_id, n_tok)` frame: exact-dedup
    * keepers passing the quality gate, minus the held-out slice and the
    * 3-gram-contaminated docs. Shared by q100 and q103 (which further
    * drops near-duplicate cluster non-keepers before packing). */
  private def curatedCounts(spark: SparkSession, dir: String,
                            benchMod: Int): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val keepers = Dedup.fingerprints(spark, dir)
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    // ONE benchMod drives both the slice exclusion below and the
    // contamination flags — passing q86 a different slice than the
    // filter would silently leak contaminated docs into the manifest
    val contaminated = graft.text.Decontaminate.q86(spark, dir, benchMod)
      .where(col("contaminated"))
      .select(col("doc_id"))
    docs
      .select(col("doc_id"), col("source"),
        TextAnalysis.toks(col("text")).as("tk"),
        length(regexp_replace(lower(col("text")), "[^a-z]", ""))
          .cast(IntegerType).as("alpha"),
        length(col("text")).cast(IntegerType).as("len"))
      .where(col("alpha").cast(DoubleType) / col("len") >= 0.7 &&
        size(col("tk")) >= 10 &&
        col("doc_id") % benchMod =!= 0)
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id").cast(LongType),
        size(col("tk")).cast(LongType).as("n_tok"))
  }

  /** q103 — the training-set manifest with the NEAR-DUP tier wired in:
    * q100's composition (exact-fingerprint keepers → quality gate →
    * decontamination → packing) additionally drops every non-keeper
    * member of a minhash-verified near-duplicate cluster before packing —
    * the full dedup story a pre-training run ships (exact + near-dup),
    * not just the exact tier. Near-dup clusters are the connected
    * components of the verified pair graph (Dedup.minhashVerifiedPairs:
    * LSH candidates, each verified by exact shingle Jaccard ≥
    * `exactThreshold`); the min doc_id per cluster is the keeper (the
    * q66/q80 rule, computed over the FULL corpus — a cluster whose keeper
    * fails the quality gate drops entirely, by design: its duplicates are
    * duplicates regardless of which member the quality gate likes).
    *
    * Scale shape: every stage is the reused 100 TB form — bucketed LSH
    * pair generation, iterated label propagation, one doc_id anti join
    * folded into the manifest plan. The label table is consumed into the
    * manifest (slim numeric rows, no text — the artifact a training run
    * persists anyway).
    *
    * Oracle-checkable END-TO-END like q100: the verified pair set equals
    * the exact all-pairs shingle-Jaccard pairs whenever LSH recall is 1
    * (banding miss probability ≤ (1−0.7⁴)³² ≈ 1.5e-4 per borderline pair,
    * and xxhash64 is deterministic — the equality is a fixed fact of the
    * fixture, spec-asserted), so the DuckDB twin computes the same
    * clusters from exact all-pairs Jaccard + a recursive-CTE reachability
    * min — md5/integer-exact the rest of the way. */
  def q103(spark: SparkSession, dir: String, seqLen: Int = 128,
           benchMod: Int = 50, candidateEst: Double = 0.5,
           exactThreshold: Double = 0.7): DataFrame = Pins.result { pins =>
    // curated set minus near-dup cluster non-keepers
    val pairs = Dedup
      .minhashVerifiedPairs(spark, dir, candidateEst, exactThreshold)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val nearDrop = pins.own(graft.dedup.Components.connectedComponents(pairs))
      .where(col("comp") =!= col("id"))
      .select(col("id").as("doc_id"))
    val kept = curatedCounts(spark, dir, benchMod)
      .join(nearDrop, Seq("doc_id"), "left_anti")
    packPlan(pins, spark, kept, seqLen)
  }

  /** q159 — the MULTIMODAL training manifest: q100's text curation
    * (exact-fingerprint keepers → quality gate → decontamination)
    * composed with the IMAGE near-dup tier — every non-keeper member of
    * an image near-dup cluster ([[graft.multimodal.Multimodal
    * .imageNearDupDrop]]: shared q112 codec/banding/verify kernel, twins
    * planted BETWEEN real documents, q66 components, min-doc_id keeper)
    * is anti-joined out before packing, exactly how q103 consumes the
    * TEXT near-dup tier. The packed rows carry `has_image` — the
    * text+image manifest a multimodal pre-training run consumes.
    *
    * Scale shape: the codec runs once into a pinned feature table
    * (bounded by the media tier, not the corpus); banding buckets are
    * 16-bit blocks (never all-pairs); the drop set is doc_id-slim; the
    * pack is the reused [[pack]] prefix pass. Every stage is
    * integer/md5-exact and banding is pigeonhole-complete, so the WHOLE
    * composition carries a DuckDB oracle (pixels from the closed-form
    * synth formula, components by recursive CTE — no codec, no recall
    * premise). */
  def q159(spark: SparkSession, dir: String, seqLen: Int = 128,
           benchMod: Int = 50, nImg: Int = 100, dupEvery: Int = 10)
      : DataFrame = Pins.result { pins =>
    val drop = graft.multimodal.Multimodal
      .imageNearDupDrop(pins, spark, dir, nImg, dupEvery)
    val kept = curatedCounts(spark, dir, benchMod)
      .join(drop, Seq("doc_id"), "left_anti")
    packPlan(pins, spark, kept, seqLen)
      .withColumn("has_image", col("doc_id") < nImg)
  }

  /** q172 — the TRI-MODAL training manifest: q159's text+image
    * composition with the AUDIO near-dup tier wired in the same way —
    * non-keeper members of audio near-dup clusters
    * ([[graft.multimodal.Multimodal.audioNearDupDrop]]: q168's WAV
    * codec/fingerprint/SAD kernel over clips carried by docs [50, 150),
    * in-corpus one-sample-perturbed twins, q66 components) are
    * anti-joined out alongside the image drop set before packing. The
    * packed rows carry `has_image` AND `has_audio` — overlapping but
    * distinct media coverage, the manifest a text+image+audio
    * pre-training run consumes.
    *
    * Scale shape: q159's, plus one more doc_id-slim anti join; both
    * codec passes are pinned once and freed. Every tier is
    * integer/md5-exact with complete banding, so the WHOLE tri-modal
    * composition carries a DuckDB oracle. */
  def q172(spark: SparkSession, dir: String, seqLen: Int = 128,
           benchMod: Int = 50, nImg: Int = 100, dupEvery: Int = 10,
           audioLo: Long = graft.multimodal.Multimodal.AudioLo,
           audioHi: Long = graft.multimodal.Multimodal.AudioHi)
      : DataFrame = Pins.result { pins =>
    val iDrop = graft.multimodal.Multimodal
      .imageNearDupDrop(pins, spark, dir, nImg, dupEvery)
    val aDrop = graft.multimodal.Multimodal
      .audioNearDupDrop(pins, spark, dir, audioLo, audioHi)
    val kept = curatedCounts(spark, dir, benchMod)
      .join(iDrop, Seq("doc_id"), "left_anti")
      .join(aDrop, Seq("doc_id"), "left_anti")
    packPlan(pins, spark, kept, seqLen)
      .withColumn("has_image", col("doc_id") < nImg)
      // same lo/hi the drop tier actually used — one definition
      .withColumn("has_audio",
        col("doc_id") >= audioLo && col("doc_id") < audioHi)
  }

  /** q175 — LEAK-PROOF SPLIT ASSIGNMENT: train/val/test splits where a
    * near-duplicate CLUSTER can never straddle splits — the constructive
    * closer of q141's leakage DETECTOR (a doc-level hash split puts two
    * near-identical documents on opposite sides of the eval boundary;
    * the fix every serious pipeline runs is to split by the cluster, not
    * the document). Clusters are the q66 machinery (minhash-verified
    * pairs ≥ 0.7 → connected components); a document in no cluster is
    * its own singleton. The split key is the first hex character of
    * md5(cluster representative): `< 'c'` → train (12/16), `< 'e'` →
    * val (2/16), else test (2/16) — a pure string comparison both
    * engines evaluate identically, documented fractions, and every
    * member of a cluster shares the key BY CONSTRUCTION.
    *
    * Scale shape: the label table is the q66 cost (bucketed LSH pairs,
    * iterated propagation, freed after consumption); the assignment
    * itself is one doc_id-keyed left join + map-only md5 + a 3-row
    * aggregate (countDistinct is the standard two-level partial agg).
    * Oracle: exact all-pairs Jaccard + recursive-CTE components under
    * the spec-asserted LSH-recall-1 premise (the q66 oracle), then the
    * identical md5 rule. SplitSpec proves the leak-proof property AND
    * its non-vacuity: on this fixture a doc-level md5 split DOES
    * straddle at least one real cluster. */
  def q175(spark: SparkSession, dir: String): DataFrame = Pins.result { pins =>
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id").cast(LongType),
        size(TextAnalysis.toks(col("text"))).cast(LongType).as("n_tok"))
    val pairs = Dedup.minhashVerifiedPairs(spark, dir, 0.5, 0.7)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val labels = pins.own(graft.dedup.Components.connectedComponents(pairs))
    val withComp = docs
      .join(labels.select(col("id").as("doc_id"), col("comp")),
        Seq("doc_id"), "left_outer")
      .withColumn("comp", coalesce(col("comp"), col("doc_id")))
    withComp.withColumn("split", splitOfComp(col("comp")))
      .groupBy(col("split"))
      .agg(countDistinct(col("comp")).cast(LongType).as("n_clusters"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast(LongType).as("tot_tok"))
      .orderBy(col("split"))
  }

  /** The q175 split rule for a cluster-representative (or doc) id:
    * first hex char of md5(id as string) → train/val/test at
    * 12/2/2 sixteenths. Shared with SplitSpec's doc-level contrast. */
  private[graft] def splitOfComp(comp: Column): Column = {
    val h = substring(md5(comp.cast(StringType)), 1, 1)
    when(h < "c", lit("train")).when(h < "e", lit("val"))
      .otherwise(lit("test"))
  }

  /** q115 — SHUFFLED sequence packing: q87's concat-then-chunk
    * accounting in deterministic-shuffle order instead of doc_id order.
    * No training run packs its corpus in ingest order — adjacent source
    * documents correlate (same crawl, same site, same dump shard) and
    * correlated neighbors inside one training sequence bias gradients —
    * so the packing order is a pseudorandom permutation. rand() would
    * break retry-stability and oracle-checkability; the shuffle key is
    * md5(doc_id) — a fixed deterministic permutation both engines
    * compute identically, reshuffled in production by salting the
    * digest with the epoch number.
    *
    * The running sum is [[graft.core.Prefix.before]] keyed by the
    * digest: a 32-char key uniformly distributed BY CONSTRUCTION, so the
    * range partitions are balanced regardless of doc_id clustering. No
    * partition-less data window at any corpus size. */
  def q115(spark: SparkSession, dir: String, seqLen: Int = 128): DataFrame =
    Pins.result { pins =>
      val keyed = Tables(spark, dir, "documents")
        .select(col("doc_id").cast(LongType),
          size(TextAnalysis.toks(col("text"))).cast(LongType).as("n_tok"))
        .where(col("n_tok") > 0)
        .select(md5(col("doc_id").cast(StringType)).as("shuffle_key"),
          col("doc_id"), col("n_tok"))
      Prefix.before(pins, keyed, Nil, Seq(col("shuffle_key")), col("n_tok"))
        .select(
          col("doc_id"), col("n_tok"), col("shuffle_key"),
          col("before").as("start_tok"),
          expr(s"before div $seqLen").cast(LongType).as("first_seq"),
          expr(s"(before + n_tok - 1) div $seqLen").cast(LongType)
            .as("last_seq"))
        .withColumn("n_seqs",
          (col("last_seq") - col("first_seq") + 1L).cast(LongType))
        .orderBy(col("shuffle_key"))
    }

  /** q116 — SEQUENCE COMPOSITION MANIFEST: the data-loader index a
    * training run actually reads. q87 accounts per DOCUMENT (which
    * sequences a doc spans); the loader needs the inverse — per
    * SEQUENCE, which document slices compose it, in order, with the
    * in-sequence and in-document offsets of every slice. A doc spanning
    * sequences [first_seq, last_seq] contributes one slice per spanned
    * sequence: `seq_off` (where the slice starts inside the sequence),
    * `doc_off` (where it starts inside the document), `n_tok_slice`
    * (its length). Every sequence except the final one is exactly
    * `seqLen` tokens of concatenated slices (spec-asserted).
    *
    * Scale shape: q87's [[graft.core.Prefix.before]] pass computes the
    * offsets (no partition-less window at any corpus size); the
    * slice explosion is a map-only `sequence`/`explode` whose output is
    * ~(total_tokens/seqLen + n_docs) rows — the artifact itself, not a
    * blow-up. */
  def q116(spark: SparkSession, dir: String, seqLen: Int = 128): DataFrame =
    Pins.result { pins =>
      seqManifest(packPlan(pins, spark,
        Tables(spark, dir, "documents")
          .select(col("doc_id").cast(LongType),
            size(TextAnalysis.toks(col("text"))).cast(LongType).as("n_tok")),
        seqLen), seqLen)
    }

  /** The doc-span → per-sequence slice inversion over any [[pack]]
    * output: pure per-row arithmetic + a bounded `sequence` explode
    * (each doc emits `n_seqs` rows — the spans ARE the output). */
  private def seqManifest(packed: DataFrame, seqLen: Int): DataFrame = {
    val L = lit(seqLen.toLong)
    packed
      .select(col("doc_id"), col("n_tok"), col("start_tok"),
        explode(sequence(col("first_seq"), col("last_seq"))).as("seq_id"))
      .select(
        col("seq_id"), col("doc_id"),
        greatest(col("start_tok") - col("seq_id") * L, lit(0L))
          .cast(LongType).as("seq_off"),
        greatest(col("seq_id") * L - col("start_tok"), lit(0L))
          .cast(LongType).as("doc_off"),
        (least(col("start_tok") + col("n_tok"), (col("seq_id") + 1L) * L)
          - greatest(col("start_tok"), col("seq_id") * L))
          .cast(LongType).as("n_tok_slice"))
      .orderBy(col("seq_id"), col("seq_off"))
  }

  /** q107 — PERPLEXITY-RANKED budget selection: admit documents in
    * ascending bigram-LM nll order (q94's scorer — most-typical text
    * first, the CCNet-style perplexity filter) until a token budget
    * fills. The canonical "keep the best N tokens" curation cut, as a
    * SCALE shape: ranking + running total over the whole corpus is
    * [[graft.core.Prefix.before]] keyed by (nll, doc_id) — never a
    * partition-less window. Greedy admit semantics: a document
    * enters iff tokens consumed before it are `< budgetTokens` (the last
    * admitted doc may overshoot the budget; documented, matches the
    * oracle's windowed form). q94 filters to docs with ≥ 2 tokens, so
    * every scored doc has `n_tok = n_bigrams + 1` — no second tokenize.
    * Unscoreable (< 2 token) docs are not selectable, by design. */
  def q107(spark: SparkSession, dir: String,
           budgetTokens: Long = 10000L): DataFrame = Pins.result { pins =>
    val scored = Ranking.q94(spark, dir)
      .select(col("doc_id"), col("nll"),
        (col("n_bigrams") + 1L).cast(LongType).as("n_tok"))
    Prefix.before(pins, scored, Nil, Seq(col("nll"), col("doc_id")),
        col("n_tok"))
      .select(col("doc_id"), col("nll"), col("n_tok"),
        col("before").as("start_tok"))
      .where(col("start_tok") < budgetTokens)
      .orderBy(col("nll"), col("doc_id"))
  }

  /** q110 — the INCREMENTAL training-set manifest: what an ingest batch
    * ADDS to the training set, without re-curating the standing corpus.
    * q100/q103 are the full-corpus builds; the shape a pipeline runs
    * daily is this one — curate ONLY the incoming batch (here the q90
    * split: corpus = `doc_id % mod < lt`, batch = the rest):
    *
    *  1. drop batch docs whose canonical fingerprint already exists in
    *     the standing corpus — via the q109 bloom pre-probe (the corpus
    *     fp set OR-merges into one bounded sketch; only bloom-positive
    *     rows reach the exact corpus-keyed join, so the overwhelmingly-
    *     new batch never shuffles against the corpus),
    *  2. keep the min-doc_id keeper per fingerprint WITHIN the batch
    *     (together with step 1 this is exactly q90's `new` label),
    *  3. apply the q100 quality gate + held-out-slice exclusion,
    *  4. drop 3-gram-contaminated docs (q86 — the benchmark side is the
    *     small side of that probe),
    *  5. pack the survivors with q87's two-pass engine (offsets local to
    *     the batch: at 100 TB the batch manifest appends to the standing
    *     manifest with a single +total shift, a 1-row constant).
    *
    * Everything scales with the BATCH; the only corpus-scale touches are
    * the two probes (bloom-pruned fp join, n-gram contamination join),
    * each keyed on small fixed-width values. md5/integer-exact end to
    * end, so the whole composition carries a DuckDB oracle; the kept set
    * is spec-proven equal to q90's `new` ∩ quality ∩ decontaminated. */
  def q110(spark: SparkSession, dir: String, seqLen: Int = 128,
           benchMod: Int = 50, mod: Int = 10, lt: Int = 7): DataFrame =
    pack(spark, q110Counts(spark, dir, benchMod, mod, lt), seqLen)

  /** q110's curated batch as a `(doc_id, n_tok)` frame (steps 1–4 of the
    * q110 scaladoc; step 5 is the shared pack engine). */
  private def q110Counts(spark: SparkSession, dir: String,
                         benchMod: Int, mod: Int, lt: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val docs = Tables(spark, dir, "documents")
    val fp = Dedup.fingerprints(spark, dir)
    val corpusFp = fp.where(col("doc_id") % mod < lt)
      .select(col("fp")).distinct()
    val incomingFp = fp.where(col("doc_id") % mod >= lt)
    val bloom = corpusFp.agg(
      Bridge.bloomFilterAgg(col("fp"), 100000L).as("bloom"))
    val dupExisting = incomingFp
      .where(Bridge.bloomMightContain(bloom, col("fp")))
      .join(corpusFp, Seq("fp"), "left_semi")
      .select(col("doc_id"))
    val keepers = incomingFp.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val contaminated = graft.text.Decontaminate.q86(spark, dir, benchMod)
      .where(col("contaminated"))
      .select(col("doc_id"))
    docs
      .where(col("doc_id") % mod >= lt)
      .select(col("doc_id"),
        TextAnalysis.toks(col("text")).as("tk"),
        length(regexp_replace(lower(col("text")), "[^a-z]", ""))
          .cast(IntegerType).as("alpha"),
        length(col("text")).cast(IntegerType).as("len"))
      .where(col("alpha").cast(DoubleType) / col("len") >= 0.7 &&
        size(col("tk")) >= 10 &&
        col("doc_id") % benchMod =!= 0)
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(dupExisting, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id").cast(LongType),
        size(col("tk")).cast(LongType).as("n_tok"))
  }

  /** q44 — dedup (keep lowest doc_id per canonical word-set fingerprint),
    * filter alpha_ratio >= 0.7 and >= 10 tokens, predict language, count
    * docs and tokens per (pred, source). */
  def q44(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")

    val fp = Dedup.fingerprints(spark, dir)
    val keep = fp
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .where(col("rn") === 1)
      .select(col("doc_id"))

    val q = docs.join(keep, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("text"),
        TextAnalysis.toks(col("text")).as("tk"),
        length(regexp_replace(lower(col("text")), "[^a-z]", ""))
          .cast(IntegerType).as("alpha"),
        length(col("text")).cast(IntegerType).as("len"))
      .where(col("alpha").cast(DoubleType) / col("len") >= 0.7 &&
        size(col("tk")) >= 10)

    q.select(
        Seq(col("source"), size(col("tk")).cast(IntegerType).as("n_tokens")) ++
          TextAnalysis.langScores(col("text")): _*)
      .withColumn("pred", TextAnalysis.langPred)
      .groupBy(col("pred"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast(LongType).as("tokens"))
      .orderBy(col("pred"), col("source"))
  }

  /** q123 — packing-efficiency card: the 1-row accounting a training run
    * reads before committing a sequence length — how many documents the
    * contiguous q87 packing SPLITS across sequence boundaries (each split
    * is an attention-masking/fragmentation cost downstream) and how full
    * the final partial sequence is (the only padded compute in this
    * packing style). All integer aggregates over q87's per-doc layout
    * (itself a [[graft.core.Prefix.before]] pass — nothing here adds a
    * corpus-scale shuffle: ONE bounded aggregate over the doc-count-sized
    * layout table); the two ratios are final divisions with the q101
    * zero-denominator guard, rounded to 6. Consumes q87's direct
    * checkpoint, freed once the 1-row card is checkpointed. */
  def q123(spark: SparkSession, dir: String, seqLen: Int = 128): DataFrame =
    Pins.result(pins => q123Summary(pins.own(q87(spark, dir, seqLen)), seqLen))

  /** The q123 efficiency aggregate over a packed frame. */
  private def q123Summary(packed: DataFrame, seqLen: Int): DataFrame =
    packed.agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        (max(col("last_seq")) + 1L).as("n_seqs"),
        sum(when(col("last_seq") > col("first_seq"), 1L).otherwise(0L))
          .as("n_split_docs"))
      .select(
        col("n_docs"), col("total_tokens"), col("n_seqs"), col("n_split_docs"),
        when(col("n_docs") > 0,
          round(col("n_split_docs").cast(DoubleType) / col("n_docs"), 6))
          .as("split_rate"),
        round((col("total_tokens") - (col("n_seqs") - 1L) * seqLen)
          .cast(DoubleType) / seqLen, 6).as("tail_fill"))

  /** q135 — temperature-weighted mixture SAMPLING: where q88 plans the
    * per-source epoch budget and q118 draws a fixed-k eval slice, this is
    * the op that actually DRAWS the mixture a sampler α < 1 prescribes —
    * per-source quotas ∝ n_docs^α (α = 0.5 flattens the source skew,
    * the standard temperature trick for up-weighting small high-quality
    * sources), then the quota's worth of docs per source in deterministic
    * md5 order.
    *
    * Scale shape: quotas come from a ~|sources|-row aggregate broadcast
    * back; the draw reuses q118's bounded-buffer BottomKAggregator with
    * k = the whole doc budget — map-side partial aggregation ships ≤ B
    * rows per source per input partition, no per-source sort, no window
    * over the corpus, so a 10⁹-doc source costs the same shuffle as a
    * 10³-doc one. Trimming to the per-source quota is a broadcast join on
    * the exploded ≤ B·|sources| rows.
    *
    * Determinism: α-weights go through the q88 decimal treatment (IEEE
    * sqrt, round 6, DECIMAL sum) so the normalizer is order-independent;
    * quotas floor the ROUNDED weight so both engines floor identical
    * doubles. */
  def q135(spark: SparkSession, dir: String,
           budgetDocs: Int = 200): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    val perSource = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("wr",
        round(sqrt(col("n_docs").cast(DoubleType)), 6)
          .cast(DecimalType(20, 6)))
    val total = perSource.agg(sum(col("wr")).as("wtot"))
    val weight = round(
      col("wr").cast(DoubleType) / col("wtot").cast(DoubleType), 6)
    val quotas = perSource.crossJoin(broadcast(total))
      .select(col("source"), weight.as("weight"),
        greatest(lit(1L),
          floor(weight * budgetDocs).cast(LongType)).as("quota"))
    val agg = new graft.functions.BottomKAggregator(budgetDocs)
    val picks = docs
      .select(col("source"),
        md5(col("doc_id").cast("string")).as("sample_key"), col("doc_id"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg.toColumn.name("picks"))
      .toDF("source", "picks")
      .select(col("source"), posexplode(col("picks")))
      .select(col("source"), (col("pos") + 1L).as("rk"),
        col("col._1").as("sample_key"), col("col._2").as("doc_id"))
    picks.join(broadcast(quotas), Seq("source"))
      .where(col("rk") <= col("quota"))
      .select(col("source"), col("rk"), col("sample_key"), col("doc_id"),
        col("quota"), col("weight"))
      .orderBy(col("source"), col("rk"))
  }

  /** The q192 priority assignment: every document gets a deterministic
    * priority w/u — weight w = n_chars (bytes as the size proxy), u a
    * uniform in (0, 1] from the first 32 md5 bits of doc_id (+1 keeps u
    * strictly positive). md5, NOT the q45 Lehmer step: a single
    * `id·48271 mod p` on CONSECUTIVE small ids never wraps the modulus
    * (id·48271 < p for id < 44490), so its "uniform" is just id scaled
    * down — every u tiny, every priority inflated ~p/(N·48271)×, and
    * the estimator biased by two orders of magnitude (measured before
    * this kernel switched to md5). Buckets survive that (q45 takes
    * mod 100); a VARIATE does not. Both md5-word and weight are exact
    * integers cast to double and the two divisions are IEEE
    * correctly-rounded, so the priority is BIT-IDENTICAL on any engine —
    * no transcendental (the exponential-key Efraimidis–Vassilvitskii
    * formulation needs ln(u), whose last ulp is libm-dependent; priority
    * sampling gets the same sample-without-replacement semantics from
    * pure division). */
  private[graft] def priorityExpr(docId: Column, w: Column): Column = {
    val h32 = conv(substring(md5(docId.cast(StringType)), 1, 8),
      16, 10).cast(DoubleType)
    val u = (h32 + 1.0d) / 4294967296.0d
    w.cast(DoubleType) / u
  }

  private[graft] def q192Priorities(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"),
        priorityExpr(col("doc_id"), col("n_chars")).as("priority"))

  /** q192 — PRIORITY SAMPLING (Duffield–Lund–Thorup, JACM 2007): the
    * one-pass weighted sample-without-replacement a curation run uses to
    * pull a k-document eval/inspection slice where the probability of
    * inclusion scales with document size — big documents dominate token
    * mass, so a uniform sample under-represents exactly the rows that
    * matter. Each item gets priority w/u; the k highest priorities ARE
    * the sample, and with threshold τ = the (k+1)-th priority, ŵ_i =
    * max(w_i, τ) is an UNBIASED estimator of any subset-sum (the paper's
    * central theorem — variance optimal among k-sample schemes). The
    * estimator is spec-verified ([[q192Estimate]]); this query emits the
    * sample ledger itself.
    *
    * Scale shape: priority is map-only arithmetic on the scan;
    * orderBy+limit plans as TakeOrderedAndProject — a per-partition
    * bounded heap (k entries) merged on the driver from P·k rows, never
    * a global sort. The rank window runs AFTER the limit, over exactly
    * k rows (bounded by construction — not the q57 global-window shape).
    * A 10⁹-doc corpus costs one scan + P·k heap rows. */
  def q192(spark: SparkSession, dir: String, k: Int = 300): DataFrame = {
    val topk = q192Priorities(spark, dir)
      .orderBy(col("priority").desc, col("doc_id").asc)
      .limit(k)
    topk.select(
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("priority").desc, col("doc_id").asc))
          .cast(LongType).as("rk"),
        col("doc_id"), col("source"), col("n_chars"),
        round(col("priority"), 6).as("priority"))
      .orderBy(col("rk"))
  }

  /** The DLT subset-sum estimator over q192's sample, per source:
    * τ = (k+1)-th priority (0 when the corpus fits inside k — then the
    * estimate is EXACT, the spec's anchor), ŵ = max(w, τ), per-source
    * estimate = Σ ŵ over sampled members vs the exact Σ w over the full
    * corpus. Spec-only accessor (SampleSpec): the tolerance ledger that
    * makes the sampler's accuracy a regression-gated number instead of
    * a citation. */
  private[graft] def q192Estimate(spark: SparkSession, dir: String,
      k: Int = 300): DataFrame = {
    val p = q192Priorities(spark, dir)
    val top = p.orderBy(col("priority").desc, col("doc_id").asc).limit(k + 1)
    val tau = top.agg(count(lit(1)).as("n"), min(col("priority")).as("mn"))
      .select(when(col("n") === (k + 1).toLong, col("mn"))
        .otherwise(lit(0.0d)).as("tau"))
    val sample = p.orderBy(col("priority").desc, col("doc_id").asc).limit(k)
    val est = sample.crossJoin(broadcast(tau))
      .groupBy(col("source"))
      .agg(sum(greatest(col("n_chars").cast(DoubleType), col("tau")))
        .as("est_bytes"), count(lit(1)).as("n_sampled"))
    val exact = p.groupBy(col("source"))
      .agg(sum(col("n_chars")).cast(DoubleType).as("exact_bytes"))
    exact.join(est, Seq("source"), "left")
      .select(col("source"), col("exact_bytes"),
        coalesce(col("est_bytes"), lit(0.0d)).as("est_bytes"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      .orderBy(col("source"))
  }

  /** q208 — EXACT-QUOTA stratified sampling (Hamilton / largest-remainder
    * apportionment): a `pct`-% corpus sample whose TOTAL size is exactly
    * ⌊N·pct/100⌋ and whose per-source quotas are the unique
    * largest-remainder split of that total — the allocation every "sample
    * exactly 10 M docs, proportional by source" request needs. The
    * hash-mod samplers (q45/q118) give each stratum a BINOMIAL size;
    * here the sizes are exact by construction, which is what a budgeted
    * eval-set or annotation batch actually requires.
    *
    * Two pieces, both integer-exact and fully oracle-replayed:
    *  1. The apportionment: base_i = ⌊T·n_i/N⌋, and the T − Σbase_i
    *     leftover seats go to the largest remainders (T·n_i mod N), ties
    *     to the lexicographically smaller source. Windows here run over
    *     #strata rows — bounded at any corpus size.
    *  2. The within-stratum pick: docs rank by (md5(doc_id), doc_id)
    *     inside their stratum and rank < quota wins. The rank is
    *     [[graft.core.Prefix.before]] grouped by source — a (P×S)-row
    *     offset table, never a per-stratum global window (which would
    *     serialize each stratum through one task at 100 TB). Partition
    *     boundaries cannot leak into the result: the composed rank is
    *     the same total order under any range split (P-sweep in
    *     SampleSpec).
    *
    * Output: the per-source receipt (size, quota, picked count, boundary
    * hash). n_sampled ≡ quota by construction — asserted, not assumed,
    * in SampleSpec. */
  def q208(spark: SparkSession, dir: String, pct: Int = 10): DataFrame =
    Pins.result { pins =>
      val docs = Tables(spark, dir, "documents")
        .select(col("source"), col("doc_id"),
          md5(col("doc_id").cast(StringType)).as("h"))

      // 1. Hamilton apportionment over the (bounded) stratum ledger
      val sizes = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val tot = sizes.agg(sum(col("n_docs")).as("n_total"),
        expr(s"(SUM(n_docs) * $pct) DIV 100").as("target"))
      val alloc = sizes.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("target"),
          expr("(target * n_docs) DIV n_total").as("base"),
          expr("(target * n_docs) % n_total").as("rem"))
      val wRem = Window.orderBy(col("rem").desc, col("source"))
      val wAll = Window.partitionBy(lit(1))
      val quotas = alloc
        .select(col("source"), col("n_docs"), col("base"),
          row_number().over(wRem).as("seat"),
          (col("target") - sum(col("base")).over(wAll)).as("extra"))
        .select(col("source"), col("n_docs"),
          (col("base") + when(col("seat") <= col("extra"), 1L).otherwise(0L))
            .as("quota"))

      // 2. within-stratum rank (no per-stratum global window)
      val sampled = Prefix.before(pins, docs, Seq("source"),
          Seq(col("h"), col("doc_id")), lit(1L))
        .select(col("source"), col("h"), col("before").as("rk"))
        .join(broadcast(quotas.select(col("source"), col("quota"))),
          Seq("source"))
        .where(col("rk") < col("quota"))

      val receipt = sampled.groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"), max(col("h")).as("last_hash"))
      quotas.join(receipt, Seq("source"), "left_outer")
        .select(col("source"), col("n_docs"), col("quota"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          col("last_hash"))
        .orderBy(col("source"))
    }
}
