package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Pins, Prefix, Tables}

/** Storage-layout and table-maintenance tier: the operations that decide
  * WHERE rows live, not what they compute. The reference engine writes its
  * output as flat `mr-out-<r>` text partitions with no data-aware layout
  * (/root/reference/src/mr/worker.go — partition = ihash(key) % nReduce);
  * at 100 TB the dominant cost of every later scan is decided by layout
  * choices made at write time, so a complete engine needs them as
  * first-class operators:
  *
  *   - q133: Z-order (Morton) clustering + the min/max file-skipping
  *     manifest it produces — the multi-dimensional generalization of
  *     sort-based clustering used by modern lakehouse table formats.
  *   - q134: SCD2 merge — the upsert-with-history primitive every
  *     dimension table needs once data stops being append-only.
  *
  * Both are pure DataFrame graphs: map-only bit arithmetic + one grouped
  * aggregate (q133), three broadcast joins on a small update batch (q134).
  */
object Layout {
  import Tables.{apply => t}

  /** Morton interleave of the low 16 bits of two non-negative longs:
    * bit i of x lands at position 2i, bit i of y at 2i+1. Built as an
    * OR-fold of 32 disjoint single-bit terms — pure codegen'd long
    * arithmetic, no UDF. */
  private[queries] def zValue(x: Column, y: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))

  /** q133 — Z-order layout manifest over `orders`, clustered on
    * (customer, order-day). Each order gets a Morton z-value; the top bits
    * of z define the target file (bucket); the output is the per-file
    * manifest a scan planner prunes with: row count, min/max of BOTH
    * clustered dimensions, and a `would_scan` flag for a fixed probe
    * predicate (custkey ∈ [100,199] ∧ orderdate ∈ 1994) demonstrating the
    * skip decision.
    *
    * Scale shape: z is map-only long arithmetic (one whole-stage codegen
    * span over the scan); the manifest is one hash aggregate on the bucket
    * id — a few hundred groups regardless of corpus size. At cluster scale
    * the same z drives `repartitionByRange($"z")` + sortWithinPartitions
    * before the write; the manifest here IS the skipping index that makes
    * that layout pay off, and `would_scan` is exactly the predicate
    * `min ≤ hi ∧ max ≥ lo` per dimension that partition pruning evaluates.
    */
  def q133(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val day = datediff(col("o_orderdate").cast(DateType),
      lit("1990-01-01").cast(DateType)).cast(LongType)
    val x = pmod(col("o_custkey"), lit(65536L)).cast(LongType)
    val y = pmod(day, lit(65536L)).cast(LongType)
    val probeDayLo = datediff(lit("1994-01-01").cast(DateType),
      lit("1990-01-01").cast(DateType)).cast(LongType)
    val probeDayHi = datediff(lit("1994-12-31").cast(DateType),
      lit("1990-01-01").cast(DateType)).cast(LongType)
    o.select(col("o_custkey"), day.as("day"), zValue(x, y).as("z"))
      .groupBy(shiftright(col("z"), 16).as("file_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("o_custkey")).as("min_custkey"),
        max(col("o_custkey")).as("max_custkey"),
        min(col("day")).as("min_day"),
        max(col("day")).as("max_day"))
      .withColumn("would_scan",
        col("min_custkey") <= 199L && col("max_custkey") >= 100L &&
          col("min_day") <= probeDayHi && col("max_day") >= probeDayLo)
      .orderBy(col("file_id"))
  }

  /** q134 — SCD2 (slowly-changing-dimension, type 2) merge: apply an
    * update batch to the `customer` dimension, closing the superseded
    * row's validity window and opening a new current row, while untouched
    * rows pass through. The update batch is a deterministic slice
    * (custkey ≡ 3 mod 10, balance bumped) so the oracle can rebuild it.
    *
    * Scale shape: the update batch of a daily merge is orders of magnitude
    * smaller than the dimension, so all three legs (anti, semi, inner) are
    * the SAME broadcast of the update keys — one scan of the dimension per
    * leg, zero shuffles, and Catalyst collapses the three scans into
    * reused exchanges under AQE. The union is append-only, which is how a
    * real lakehouse MERGE writes: rewrite only files containing matched
    * keys, append the rest.
    */
  def q134(spark: SparkSession, dir: String): DataFrame =
    scd2Dim(spark, dir).orderBy(col("c_custkey"), col("valid_from"))

  /** The SCD2 customer dimension q134 merges (un-sorted form, shared
    * with the q185 point-in-time read): per key, version rows whose
    * `[valid_from, valid_to)` intervals partition the timeline. */
  private[graft] def scd2Dim(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val updates = c.where(pmod(col("c_custkey"), lit(10L)) === 3L)
      .select(col("c_custkey"),
        round(col("c_acctbal") + 100.5, 2).cast(DoubleType).as("new_bal"))
    val epoch = lit("1990-01-01").cast(DateType)
    val batch = lit("1995-06-01").cast(DateType)
    val base = c.select(col("c_custkey"), col("c_name"),
      round(col("c_acctbal"), 2).cast(DoubleType).as("acctbal"))
    val unchanged = base.join(broadcast(updates), Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("acctbal"),
        epoch.as("valid_from"), lit(null).cast(DateType).as("valid_to"),
        lit(true).as("is_current"))
    val closed = base.join(broadcast(updates), Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("acctbal"),
        epoch.as("valid_from"), batch.as("valid_to"),
        lit(false).as("is_current"))
    val opened = base.join(broadcast(updates), Seq("c_custkey"))
      .select(col("c_custkey"), col("c_name"),
        col("new_bal").as("acctbal"), batch.as("valid_from"),
        lit(null).cast(DateType).as("valid_to"), lit(true).as("is_current"))
    unchanged.unionByName(closed).unionByName(opened)
  }

  /** q185 — POINT-IN-TIME (SCD2 temporal) READ: join each fact row to
    * the dimension VERSION valid at the fact's event time — the read
    * side of q134's merge, and the canonical warehouse temporal join
    * ("what was this customer's balance when the order was placed").
    * Every order resolves to exactly ONE version because a key's
    * `[valid_from, valid_to)` intervals partition the timeline
    * (LayoutSpec asserts the resolution is total and unique, and that
    * BOTH sides of the 1995-06-01 version boundary are exercised —
    * the fixture's order dates straddle it by construction).
    *
    * Scale shape: an EQUI-join on the dimension key with the interval
    * predicate as a residual join filter — per key the dim has ≤2
    * versions, so the join fan-out is bounded by version count and the
    * filter keeps exactly one; never a range-only join (which would
    * have no equi-key to shuffle on). At 100 TB the fact shuffles once
    * on the key it would shuffle on anyway; SCD2 costs nothing extra. */
  def q185(spark: SparkSession, dir: String): DataFrame = {
    val dim = scd2Dim(spark, dir)
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast(DateType).as("o_orderdate"))
    o.join(dim, col("o_custkey") === col("c_custkey") &&
        col("valid_from") <= col("o_orderdate") &&
        (col("valid_to").isNull || col("o_orderdate") < col("valid_to")))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("acctbal"), col("valid_from"), col("is_current"))
      .orderBy(col("o_orderkey"))
  }

  /** q140 — corpus snapshot DIFF: the dataset-versioning audit between
    * two corpus versions — which docs were added, removed, or changed
    * (by content fingerprint), the artifact a data-lineage ledger records
    * per release. v2 is derived deterministically from v1 (every 17th doc
    * removed, every 13th re-edited, every 19th re-ingested under a new
    * id) so the oracle rebuilds both sides.
    *
    * Scale shape: fingerprints (md5) are map-side; the diff is ONE
    * full-outer shuffle join on doc_id; output is only the delta —
    * at 100 TB the delta of a daily snapshot is orders of magnitude
    * smaller than the corpus, and nothing here materializes more than
    * (id, fp) pairs per side. */
  def q140(spark: SparkSession, dir: String): DataFrame = {
    val v1 = t(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("fp1"))
    val docs = t(spark, dir, "documents")
    val v2 = docs
      .where(pmod(col("doc_id"), lit(17L)) =!= 0L)
      .select(col("doc_id"),
        md5(when(pmod(col("doc_id"), lit(13L)) === 0L,
          concat(col("text"), lit(" v2"))).otherwise(col("text"))).as("fp2"))
      .unionByName(docs.where(pmod(col("doc_id"), lit(19L)) === 0L)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          md5(col("text")).as("fp2")))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("fp2").isNull, "removed")
          .when(col("fp1").isNull, "added")
          .when(col("fp1") =!= col("fp2"), "changed"))
      .where(col("status").isNotNull)
      .select(col("doc_id"), col("status"), col("fp1"), col("fp2"))
      .orderBy(col("doc_id"), col("status"))
  }

  /** Bucket count for q161. Both sides MUST agree for the co-located scan
    * (Spark only elides the exchange when the output partitionings match). */
  private[queries] val Q161Buckets = 8

  /** Write `df` as a catalog-backed bucketed+sorted parquet table and
    * return its name — write-once per SparkContext: re-invocations (bench
    * warm-up + 3 passes, repeated specs) reuse the already-written table,
    * which is the amortization the bucketed/partitioned posture claims
    * ("write once, every later scan benefits"); a new context has a new
    * catalog, so it writes the table again ([[graft.core.StandingState]]).
    * The `repartition(n, key)` before the write uses the SAME
    * Murmur3-mod-n function as the bucket-id assignment, so each task
    * holds exactly one bucket's rows → one file per bucket (the layout
    * under which Spark also trusts the sortBy order at scan time). */
  private def writeBucketed(spark: SparkSession, base: java.io.File,
      name: String, df: DataFrame, key: String, tag: String): String =
    graft.core.StandingState.of(spark, "bucketed", tag, name) {
      val tbl = s"graft_b_${name}_$tag"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      df.repartition(Q161Buckets, col(key))
        .write.format("parquet")
        .bucketBy(Q161Buckets, key).sortBy(key)
        .option("path", new java.io.File(base, name).getAbsolutePath)
        .mode("overwrite").saveAsTable(tbl)
      tbl
    }

  /** The join+aggregate subtree of q161, exposed so the plan spec can
    * assert the scale claim on exactly the part it covers: with both
    * sides bucketed on the join key, the sort-merge join AND the
    * per-custkey aggregate run with ZERO Exchange nodes — the only
    * shuffle in all of q161 is the final cosmetic orderBy. */
  private[graft] def q161Agg(spark: SparkSession, dir: String): DataFrame = {
    val tag = graft.core.StandingState.processTag(dir)
    val base = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_bucketed_$tag")
    val o = t(spark, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
    val c = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val to = writeBucketed(spark, base, "orders", o, "o_custkey", tag)
    val tc = writeBucketed(spark, base, "customer", c, "c_custkey", tag)
    spark.table(to)
      .join(spark.table(tc).hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .where(pmod(col("c_custkey"), lit(10L)) === 0L)
      .groupBy(col("c_custkey").as("custkey"), col("c_mktsegment").as("mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast(DecimalType(12, 4))), 2)
          .cast(DoubleType).as("total"))
  }

  /** q161 — bucketed co-located join: persist `orders` and `customer` as
    * catalog-backed bucketed tables hashed on the join key, then join and
    * aggregate WITHOUT any shuffle. This is the reference's own output
    * partitioning made durable: an MR job's `mr-out-<r>` files ARE hash
    * buckets (partition = ihash(key) % nReduce,
    * /root/reference/src/mr/worker.go:36-40), and the course chains jobs by
    * feeding those files to the next job — but the next job re-shuffles
    * from scratch because nothing records the layout. Bucketing records it
    * in the catalog, so every later join or aggregate on the same key reads
    * the co-located layout and skips its exchange entirely.
    *
    * Scale shape: at 100 TB this is THE fact-to-fact join strategy — a
    * one-time bucketed write amortized over every subsequent join; the join
    * itself is a per-bucket merge with no network movement. The plan spec
    * (QueriesSpec) asserts the join+agg subtree contains zero Exchange
    * nodes; one file per bucket means the sortBy order is trusted too, so
    * the merge needs no re-sort of the big side. */
  def q161(spark: SparkSession, dir: String): DataFrame =
    q161Agg(spark, dir).orderBy(col("custkey"))

  /** The join+aggregate subtree of q171, exposed for the plan spec: the
    * orders scan must show a `dynamicpruning` PartitionFilter — at scale
    * that is the difference between scanning 7 year-partitions and
    * scanning the 2 the dimension's predicate selects, decided at
    * RUNTIME from the dim side's build. */
  private[graft] def q171Agg(spark: SparkSession, dir: String): DataFrame = {
    val tag = graft.core.StandingState.processTag(dir)
    val base = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_part_$tag")
    val tbl = graft.core.StandingState.of(spark, "part", tag, "orders") {
      val name = s"graft_p_orders_$tag"
      val o = t(spark, dir, "orders").select(
        col("o_orderkey"), col("o_totalprice"),
        year(col("o_orderdate")).cast(IntegerType).as("o_year"))
      spark.sql(s"DROP TABLE IF EXISTS $name")
      o.write.format("parquet")
        .partitionBy("o_year")
        .option("path", new java.io.File(base, "orders").getAbsolutePath)
        .mode("overwrite").saveAsTable(name)
      name
    }
    // dim side: a small year-attribute table whose PREDICATE (not the
    // fact's) decides which partitions matter — the DPP trigger shape
    val dim = t(spark, dir, "orders")
      .select(year(col("o_orderdate")).cast(IntegerType).as("d_year"))
      .distinct()
      .withColumn("is_focus", pmod(col("d_year"), lit(3)) === 0)
    spark.table(tbl)
      .join(dim.where(col("is_focus")),
        col("o_year") === col("d_year"))
      .groupBy(col("o_year").as("yr"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast(DecimalType(12, 4))), 2)
          .cast(DoubleType).as("total"))
  }

  /** q171 — PARTITIONED layout + dynamic partition pruning (DPP): write
    * `orders` as a year-partitioned table (the lakehouse default layout
    * for time-series facts), then join it with a small dimension whose
    * predicate selects a subset of years. Catalyst injects the dim's
    * build as a `dynamicpruning` subquery into the fact scan's
    * PartitionFilters, so the fact reads ONLY the selected partitions —
    * the reference's output layout (one file per reduce hash bucket,
    * /root/reference/src/mr/worker.go:36-40) made value-addressable: a
    * scan that knows the predicate never opens the other partitions'
    * files at all.
    *
    * q161 and q171 together are the two write-time layout levers a
    * 100 TB table needs: bucketing kills the JOIN shuffle, partitioning
    * kills the SCAN. Plan spec: LayoutSpec asserts `dynamicpruning` in
    * the fact scan. Oracle: the layout changes nothing semantically —
    * plain join+agg SQL. */
  def q171(spark: SparkSession, dir: String): DataFrame =
    q171Agg(spark, dir).orderBy(col("yr"))

  /** q173 — BALANCED SHARD ASSIGNMENT: distribute documents across
    * `shards` output shards so per-shard token totals are near-equal —
    * the write-time layout decision a training run makes once per epoch
    * (each shard is one data-loader stream; an unbalanced shard is a
    * straggler for the WHOLE cluster every epoch). Serpentine (snake)
    * assignment over the size-descending global rank: rank r (0-based)
    * lands in shard `r % 2S` if that is < S, else `2S-1 - (r % 2S)` —
    * each down-then-up sweep hands every shard one large and one small
    * document, bounding the total spread by the largest document in the
    * second sweep (vs plain round-robin, whose spread accumulates the
    * sorted-order bias of every sweep).
    *
    * Scale shape: the ONLY global structure is the rank's P-row offset
    * table ([[graft.core.Prefix.before]]); no global window ever
    * materializes. The per-shard summary is an S-row hash aggregate.
    * Oracle: rank + snake arithmetic + group-by is exactly expressible in
    * DuckDB (ROW_NUMBER over the same total order — ties broken by
    * doc_id, so the rank is deterministic). */
  def q173(spark: SparkSession, dir: String, shards: Int = 16): DataFrame =
    Pins.result { pins =>
      snakeAssign(pins, spark, dir, shards).groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("tot_tok"),
          max(col("n_tok")).as("max_tok"),
          min(col("n_tok")).as("min_tok"))
        .orderBy(col("shard"))
    }

  /** The per-document serpentine assignment (doc_id, n_tok, shard) —
    * q173's engine before its summary aggregate, exposed so q178 can
    * WRITE the assignment into a physical layout. The size-descending
    * rank's prefix pass is pinned in `pins`. */
  private[queries] def snakeAssign(pins: Pins, spark: SparkSession,
      dir: String, shards: Int): DataFrame = {
    val counts = t(spark, dir, "documents")
      .select(col("doc_id").cast(LongType),
        size(graft.text.TextAnalysis.toks(col("text")))
          .cast(LongType).as("n_tok"))
    Prefix.before(pins, counts, Nil,
        Seq(col("n_tok").desc, col("doc_id").asc), lit(1L))
      .select(col("doc_id"), col("n_tok"),
        pmod(col("before"), lit(2L * shards)).as("rr"))
      .select(col("doc_id"), col("n_tok"),
        when(col("rr") < shards, col("rr"))
          .otherwise(lit(2L * shards - 1) - col("rr"))
          .cast(IntegerType).as("shard"))
  }

  /** q187 — SHARD CONTENT CHECKSUMS: the reproducibility receipt a
    * training run checks before an epoch — per shard, row count, token
    * total, and an ORDER-FREE content checksum over the member set, so
    * "did the loader read exactly the corpus the curation run signed?"
    * is one 16-row comparison instead of a re-crawl. The checksum is a
    * sum (mod 2^62−1) of a per-document 60-bit digest (md5 of
    * `doc_id:n_tok`), which is commutative — any member added, dropped,
    * re-sharded, or token-drifted changes the shard's sum, and NO
    * per-shard collect_list exists anywhere: at 100 TB a shard's
    * member list doesn't fit one row, but a map-only digest + algebraic
    * aggregate is a single pass with map-side partials (the same reason
    * the ledger sums hashes instead of hashing a concatenation, which
    * would need an order and a collect). Cross-engine exact: md5 and
    * the decimal modulus are engine-neutral; the DuckDB twin re-parses
    * the hex digest with integer arithmetic. */
  def q187(spark: SparkSession, dir: String, shards: Int = 16): DataFrame =
    Pins.result(pins => q187Receipt(snakeAssign(pins, spark, dir, shards)))

  /** The per-shard receipt aggregate over a snake-assigned frame. */
  private def q187Receipt(snake: DataFrame): DataFrame =
    snake
      .select(col("shard"), col("n_tok"),
        conv(substring(md5(concat_ws(":", col("doc_id"), col("n_tok"))),
          1, 15), 16, 10).cast(LongType).as("h"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tot_tok"),
        pmod(sum(col("h").cast(DecimalType(38, 0))),
          lit(new java.math.BigDecimal("4611686018427387903")))
          .cast(LongType).as("content_sum"))
      .orderBy(col("shard"))

  /** The per-doc 60-bit digest and STABLE hash-shard assignment shared
    * by q188's standing, batch, and full paths: shard = first 8 md5 hex
    * chars of the doc_id mod S — unlike q173's rank-balanced snake, a
    * document's shard never depends on any OTHER document, which is
    * precisely what makes the checksum maintainable per ingest. */
  private[graft] def hashShardDigest(df: DataFrame, shards: Int): DataFrame =
    df.select(
      pmod(conv(substring(md5(col("doc_id").cast(StringType)), 1, 8),
        16, 10).cast(LongType), lit(shards.toLong))
        .cast(IntegerType).as("shard"),
      col("n_tok"),
      conv(substring(md5(concat_ws(":", col("doc_id"), col("n_tok"))),
        1, 15), 16, 10).cast(LongType).as("h"))

  private def shardSums(df: DataFrame): DataFrame =
    df.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tot_tok"),
        sum(col("h").cast(DecimalType(38, 0))).as("raw_sum"))

  /** q188 — INCREMENTAL CHECKSUM MAINTENANCE: q187's receipt at the
    * daily-ingest posture. Rank-balanced shards (q173) re-shard the
    * WORLD on every ingest — one new document shifts every rank — so
    * the incremental variant uses STABLE HASH shards (a doc's shard is
    * a pure function of its id), and then the commutative digest sum
    * pays off: updating a 100 TB corpus's receipts after a batch costs
    * ONE pass over the BATCH (digest + per-shard partial sums) merged
    * into the standing S-row ledger by addition — the standing corpus
    * is never re-read, and IncrChecksumSpec binds standing ⊕ batch to
    * the full recompute bit-for-bit (the q160/q177 incremental
    * discipline). Output: per shard, the post-ingest receipt plus the
    * batch delta that produced it (slice convention: doc_id % 10 < 7
    * is the standing corpus, the rest is the batch). */
  def q188(spark: SparkSession, dir: String, shards: Int = 16): DataFrame = {
    val counts = t(spark, dir, "documents")
      .select(col("doc_id").cast(LongType),
        size(graft.text.TextAnalysis.toks(col("text")))
          .cast(LongType).as("n_tok"))
    // the standing ledger: at scale this is a PERSISTED S-row table,
    // not a recompute — built here from the base slice for a
    // self-contained declared query (the q177 convention)
    val standing = shardSums(
      hashShardDigest(counts.where(col("doc_id") % 10 < 7), shards))
      .select(col("shard"), col("n_docs").as("b_docs"),
        col("tot_tok").as("b_tok"), col("raw_sum").as("b_sum"))
    // the per-ingest work: ONE pass over the batch only
    val batch = shardSums(
      hashShardDigest(counts.where(col("doc_id") % 10 >= 7), shards))
      .select(col("shard"), col("n_docs").as("d_docs"),
        col("tot_tok").as("d_tok"), col("raw_sum").as("d_sum"))
    standing.join(batch, Seq("shard"), "full_outer")
      .select(col("shard"),
        (coalesce(col("b_docs"), lit(0L)) + coalesce(col("d_docs"), lit(0L)))
          .as("n_docs"),
        (coalesce(col("b_tok"), lit(0L)) + coalesce(col("d_tok"), lit(0L)))
          .as("tot_tok"),
        pmod(coalesce(col("b_sum"), lit(java.math.BigDecimal.ZERO))
            + coalesce(col("d_sum"), lit(java.math.BigDecimal.ZERO)),
          lit(new java.math.BigDecimal("4611686018427387903")))
          .cast(LongType).as("content_sum"),
        coalesce(col("d_docs"), lit(0L)).as("batch_docs"))
      .orderBy(col("shard"))
  }

  /** The monolithic twin for IncrChecksumSpec: one pass over the whole
    * corpus through the identical digest/shard/sum path. */
  private[graft] def q188Full(spark: SparkSession, dir: String,
      shards: Int = 16): DataFrame = {
    val counts = t(spark, dir, "documents")
      .select(col("doc_id").cast(LongType),
        size(graft.text.TextAnalysis.toks(col("text")))
          .cast(LongType).as("n_tok"))
    shardSums(hashShardDigest(counts, shards))
      .select(col("shard"), col("n_docs"), col("tot_tok"),
        pmod(col("raw_sum"),
          lit(new java.math.BigDecimal("4611686018427387903")))
          .cast(LongType).as("content_sum"))
      .orderBy(col("shard"))
  }

  /** The loader subtree of q178, exposed for the plan spec: the manifest
    * scan must carry a `dynamicpruning` PartitionFilter (the epoch's
    * focus shards decided at runtime from the shard-directory dim) and
    * the manifest⋈documents fetch join must run with ZERO Exchange
    * nodes off the co-located doc_id buckets. */
  private[graft] def q178Agg(spark: SparkSession, dir: String,
      seqLen: Int = 128, shards: Int = 16, focusMod: Int = 4,
      focusRes: Int = 1): DataFrame = {
    val tag = graft.core.StandingState.processTag(dir)
    val base = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_manifest_$tag")
    // one-time layout write #1: the packed manifest, PARTITIONED by the
    // serpentine shard and BUCKETED on doc_id
    val tman = graft.core.StandingState.of(spark, "manifest", tag, seqLen,
        shards) {
      val name = s"graft_m_manifest_$tag"
      Pins.scope { pins =>
        val man = pins.own(Curation.q87(spark, dir, seqLen))
        val snake = snakeAssign(pins, spark, dir, shards)
        spark.sql(s"DROP TABLE IF EXISTS $name")
        man.join(snake.select(col("doc_id"), col("shard")), Seq("doc_id"))
          .select(col("doc_id"), col("n_tok"), col("start_tok"),
            col("n_seqs"), col("shard"))
          .repartition(Q161Buckets, col("doc_id"))
          .write.format("parquet")
          .partitionBy("shard")
          .bucketBy(Q161Buckets, "doc_id").sortBy("doc_id")
          .option("path", new java.io.File(base, "manifest").getAbsolutePath)
          .mode("overwrite").saveAsTable(name)
      }
      name
    }
    // one-time layout write #2: the doc-fetch side, bucketed on the SAME
    // key/count so the epoch's fetch join is co-located
    val tdoc = writeBucketed(spark, base, "docsrc",
      t(spark, dir, "documents")
        .select(col("doc_id").cast(LongType), col("source")),
      "doc_id", tag)
    // shard-directory dim (a real scan, the DPP trigger shape): q173's
    // per-shard summary persisted once; the epoch's focus predicate
    // (shard ≡ focusRes mod focusMod — stand-in for "the shards this
    // trainer rank owns") selects a subset at RUNTIME
    val tdim = graft.core.StandingState.of(spark, "sharddir", tag, shards) {
      val name = s"graft_m_sharddir_$tag"
      Pins.scope { pins =>
        val df = pins.own(q173(spark, dir, shards))
        spark.sql(s"DROP TABLE IF EXISTS $name")
        df.select(col("shard").as("d_shard"), col("n_docs"), col("tot_tok"))
          .write.format("parquet")
          .option("path", new java.io.File(base, "sharddir").getAbsolutePath)
          .mode("overwrite").saveAsTable(name)
      }
      name
    }
    val focus = spark.table(tdim)
      .where(pmod(col("d_shard"), lit(focusMod)) === focusRes)
      .select(col("d_shard"))
    spark.table(tman)
      .join(focus, col("shard") === col("d_shard"))
      .join(spark.table(tdoc).hint("merge"), Seq("doc_id"))
      .select(col("shard").cast(IntegerType).as("shard"), col("doc_id"),
        col("source"), col("n_tok"), col("start_tok"), col("n_seqs"))
  }

  /** q178 — EPOCH LOADER LAYOUT: the two write-time levers (q161
    * bucketing, q171 partitioning) applied to the table a training run
    * actually re-reads EVERY EPOCH — the packed sequence manifest
    * (q87/q116's artifact) — written ONCE partitioned by q173's
    * serpentine shard assignment and bucketed on doc_id, beside a
    * doc_id-bucketed fetch table and a per-shard summary directory.
    * The declared query is one epoch-loader read: "trainer rank r
    * fetches its shards' slices with their documents" — the manifest
    * scan opens ONLY the focus shards' partitions (dynamic partition
    * pruning off the shard-directory dim), and the manifest⋈documents
    * fetch join is a zero-Exchange merge of co-located buckets.
    *
    * Scale shape: at 100 TB the manifest is re-read num_epochs ×
    * num_ranks times and each rank needs 1/S of it; partition pruning
    * makes the per-rank read S× smaller, bucketing removes the fetch
    * join's shuffle entirely, and both costs were paid once at write
    * time. LayoutSpec asserts both plan properties; the oracle replays
    * pack + snake + join in DuckDB (the layout changes WHERE rows live,
    * never what the query returns). */
  def q178(spark: SparkSession, dir: String): DataFrame =
    q178Agg(spark, dir).orderBy(col("doc_id"))

  /** q193 — SMALL-FILE COMPACTION PLANNER: bin-pack the corpus's files
    * into target-capacity output files in stable (doc_id) order — the
    * table-maintenance pass every lakehouse table needs periodically,
    * because a 100 TB table that ingests streaming micro-batches decays
    * into millions of KB-scale files and every later scan pays one open
    * + seek per file (the reference's layout makes the failure concrete:
    * one `mr-out-<r>` file per reduce bucket per job,
    * /root/reference/src/mr/worker.go:36-40 — a thousand runs leave a
    * thousand file generations nothing ever merges). Order-preserving
    * concat-and-cut semantics (the q87 pack discipline at file
    * granularity): a file lands in the bin where its cumulative START
    * offset falls, bin = start DIV cap, so bins fill to cap and overshoot
    * by at most one member file — rewriting never reorders rows, which
    * keeps any doc_id-clustered downstream scan clustered.
    *
    * Scale shape: the ONLY global structure is the running byte offset,
    * computed without a global window ([[prefixOffsets]]). The plan is
    * one range Exchange + map work + an S-row hash aggregate; a 10⁹-file
    * manifest costs the same three stages. Output: per planned output
    * file — member count, bytes, doc_id span, fill ratio, and the
    * over-cap flag (true iff a member straddles the boundary). */
  def q193(spark: SparkSession, dir: String, capBytes: Long = 4096L): DataFrame =
    Pins.result { pins =>
      val files = t(spark, dir, "documents")
        .select(col("doc_id"), col("n_chars").as("bytes"))
      binLedger(prefixOffsets(pins, files), capBytes)
        .select(col("bin"), col("n_files"), col("bytes"),
          col("first_doc"), col("last_doc"),
          round(col("bytes").cast(DoubleType) / capBytes.toDouble, 6)
            .as("fill"),
          // a bin overshoots cap iff its last member crosses the boundary
          (col("max_end") > (col("bin") + 1L) * capBytes).as("over_cap"))
        .orderBy(col("bin"))
    }

  /** The q193/q196 prefix-bin kernel: files (doc_id, bytes) → per-file
    * (doc_id, bytes, strt) running start offsets in doc_id order, from 0.
    * The prefix pass is pinned in `pins`. */
  private def prefixOffsets(pins: Pins, files: DataFrame): DataFrame =
    Prefix.before(pins,
        files.select(col("doc_id").cast(LongType), col("bytes").cast(LongType)),
        Nil, Seq(col("doc_id").asc), col("bytes"))
      .select(col("doc_id"), col("bytes"), col("before").as("strt"))

  /** Per-bin ledger over prefix offsets: bin = strt DIV cap (integer
    * division — exact at any corpus size), with the raw max_end kept
    * for downstream merges. */
  private def binLedger(offsets: DataFrame, capBytes: Long): DataFrame =
    offsets
      .withColumn("bin", expr(s"strt DIV ${capBytes}L"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("bytes")).as("bytes"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        max(col("strt") + col("bytes")).as("max_end"))

  /** q196 — INCREMENTAL COMPACTION: q193's planner at the daily-ingest
    * posture (the incremental trio's layout member, beside q188's
    * checksums and q177's ANN index). Concat-and-cut is APPEND-FRIENDLY
    * by construction — bin boundaries sit at fixed byte offsets, so
    * ingesting a batch never re-bins the standing corpus: the batch's
    * running offsets simply CONTINUE from the standing byte total
    * (order = standing files first, then batch files, each in doc_id
    * order — exactly how a lakehouse table appends), the batch pays one
    * prefix pass over ITSELF, and the merged ledger is the standing
    * S-row table plus the batch's bins, overlapping only in the one
    * straddle bin (added, the q188 merge shape). A 100 TB table's
    * nightly OPTIMIZE therefore costs O(batch), not O(table).
    *
    * Self-containment: the standing ledger is built here from the base
    * slice (doc_id % 10 < 7, the q177/q188 convention) — at scale it is
    * a persisted table, not a recompute. IncrCompactionSpec binds the
    * merged ledger bit-for-bit to the monolithic replay over the full
    * (is_batch, doc_id)-ordered corpus, and asserts the standing bins
    * below the straddle point are byte-identical to the standing-only
    * ledger (the "never re-bins the corpus" claim, checked). Output:
    * q193's ledger columns + `batch_files` (the delta accounting). */
  def q196(spark: SparkSession, dir: String, capBytes: Long = 4096L): DataFrame =
    Pins.result { pins =>
      val counts = t(spark, dir, "documents")
        .select(col("doc_id").cast(LongType),
          col("n_chars").cast(LongType).as("bytes"))
      val standing = counts.where(pmod(col("doc_id"), lit(10L)) < 7L)
      val batch = counts.where(pmod(col("doc_id"), lit(10L)) >= 7L)
      val sLedger = binLedger(prefixOffsets(pins, standing), capBytes)
        .select(col("bin"), col("n_files").as("s_files"),
          col("bytes").as("s_bytes"), col("first_doc").as("s_first"),
          col("last_doc").as("s_last"), col("max_end").as("s_end"))
      // the per-ingest work: ONE prefix pass over the BATCH, offset by
      // the standing total (a 1-row broadcast — at scale, a catalog stat)
      val standingTotal = standing.agg(
        coalesce(sum(col("bytes")), lit(0L)).as("base"))
      val bLedger =
        binLedger(prefixOffsets(pins, batch).crossJoin(broadcast(standingTotal))
          .select(col("doc_id"), col("bytes"),
            (col("base") + col("strt")).as("strt")), capBytes)
          .select(col("bin"), col("n_files").as("b_files"),
            col("bytes").as("b_bytes"), col("first_doc").as("b_first"),
            col("last_doc").as("b_last"), col("max_end").as("b_end"))
      sLedger.join(bLedger, Seq("bin"), "full_outer")
        .select(col("bin"),
          (coalesce(col("s_files"), lit(0L)) + coalesce(col("b_files"), lit(0L)))
            .as("n_files"),
          (coalesce(col("s_bytes"), lit(0L)) + coalesce(col("b_bytes"), lit(0L)))
            .as("bytes"),
          least(col("s_first"), col("b_first")).as("first_doc"),
          greatest(col("s_last"), col("b_last")).as("last_doc"),
          greatest(col("s_end"), col("b_end")).as("max_end"),
          coalesce(col("b_files"), lit(0L)).as("batch_files"))
        .select(col("bin"), col("n_files"), col("bytes"),
          col("first_doc"), col("last_doc"),
          round(col("bytes").cast(DoubleType) / capBytes.toDouble, 6)
            .as("fill"),
          (col("max_end") > (col("bin") + 1L) * capBytes).as("over_cap"),
          col("batch_files"))
        .orderBy(col("bin"))
    }

  /** The standing-only ledger (q196's persisted-state stand-in) and the
    * monolithic full-order replay, exposed for IncrCompactionSpec. */
  private[graft] def q196Standing(spark: SparkSession, dir: String,
      capBytes: Long = 4096L): DataFrame = {
    val standing = t(spark, dir, "documents")
      .where(pmod(col("doc_id"), lit(10L)) < 7L)
      .select(col("doc_id").cast(LongType),
        col("n_chars").cast(LongType).as("bytes"))
    Pins.result(pins =>
      binLedger(prefixOffsets(pins, standing), capBytes)
        .orderBy(col("bin")))
  }

  /** q201 — RUNTIME-FILTERED fact join: the third join lever beside
    * bucketing (q161, layout decided at WRITE time) and dynamic
    * partition pruning (q171, whole partitions dropped at RUN time) —
    * row-level pruning of the fact scan by a bloom filter built from
    * the dimension's filtered keys, Spark's own `InjectRuntimeFilter`
    * shape made explicit (and therefore independent of the injection
    * confs' 10 GiB scan-size thresholds, which a declared demo query
    * can't meet). The selective predicate lives on `orders`; lineitem
    * rows whose order key cannot match are dropped INSIDE the fact
    * scan's codegen span, BEFORE the join exchange — at 100 TB that is
    * the difference between shuffling the whole fact table and
    * shuffling the ~3 % that survives. False positives are removed by
    * the real join that follows, so the result is oracle-exact; the
    * build side is re-scanned for the sketch (a 1-row algebraic
    * aggregate over the already-filtered dim — negligible beside the
    * fact scan it prunes). LayoutSpec asserts both the plan shape (the
    * might_contain predicate sits below the join's shuffle on the probe
    * side) and equality with the unfiltered join. */
  def q201(spark: SparkSession, dir: String): DataFrame =
    q201Join(spark, dir, pruned = true)

  /** The join with and without the runtime bloom filter — identical
    * results by construction (the bloom only PRUNES; the join removes
    * its false positives), exposed so LayoutSpec can assert equality
    * and plan shape on exactly the lever under test. */
  private[graft] def q201Join(spark: SparkSession, dir: String,
                              pruned: Boolean): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val o = t(spark, dir, "orders")
      .where(col("o_orderpriority") === "1-URGENT" &&
        year(col("o_orderdate")) === 1996)
      .select(col("o_orderkey"))
    val lBase = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"))
    val l =
      if (pruned) {
        val bloom = o.agg(
          bridge.bloomFilterAgg(col("o_orderkey"), 100000L).as("bloom"))
        lBase.where(bridge.bloomMightContain(bloom, col("l_orderkey")))
      } else lBase
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_quantity").cast(DecimalType(12, 4))), 2)
          .cast(DoubleType).as("sum_qty"),
        round(sum(col("l_extendedprice").cast(DecimalType(18, 4))), 2)
          .cast(DoubleType).as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  /** q224 — DELETION-VECTOR (merge-on-read) READ with the compaction
    * decision: how a retention/erasure sweep actually lands on a 100 TB
    * time-partitioned table. Nothing is rewritten at delete time — the
    * sweep only marks rows (here q189's retention classification: past
    * the cutoff and not under legal hold), and every reader applies the
    * per-file deletion vector at scan; a file is rewritten only when its
    * LIVE FRACTION drops below `rewriteBelow` (amortizing rewrite I/O
    * against read-side filter cost — the Iceberg/Delta merge-on-read
    * trade). Files are the landing layout's day partitions (event date).
    *
    * Per file: total rows, deleted rows, live fraction, the planner's
    * decision, and the LIVE value total — the merge-on-read aggregate a
    * reader actually serves (decimal-summed, order-independent;
    * LayoutSpec binds it to the eager-delete equivalent). Old days sit
    * at ~3% live (only legal holds survive) → `rewrite`; days inside
    * the window are untouched → `keep`. Scale shape: one map-only
    * classification (the q189 kernel verbatim), one partial-agged
    * per-day aggregate — the deletion vector is file-keyed metadata,
    * request-sized next to the table. */
  def q224(spark: SparkSession, dir: String, cutoff: String = "2024-01-15",
           rewriteBelow: Double = 0.5): DataFrame = {
    val flagged = graft.streaming.EventStreams
      .retentionClass(t(spark, dir, "events"), cutoff)
      .select(col("ts").cast(DateType).as("file_day"), col("value"),
        (col("ret_class") === "expired").as("deleted"))
    flagged.groupBy(col("file_day"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("deleted"), 1L).otherwise(0L)).as("n_deleted"),
        round(sum(when(!col("deleted"),
            col("value").cast(DecimalType(18, 4)))
          .otherwise(lit(0).cast(DecimalType(18, 4)))), 2)
          .cast(DoubleType).as("live_value"))
      .select(col("file_day"), col("n_rows"), col("n_deleted"),
        round((col("n_rows") - col("n_deleted")).cast(DoubleType) /
          col("n_rows"), 4).as("live_pct"),
        when((col("n_rows") - col("n_deleted")).cast(DoubleType) /
          col("n_rows") < rewriteBelow, "rewrite")
          .otherwise("keep").as("action"),
        col("live_value"))
      .orderBy(col("file_day"))
  }
}
