package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.core.{Pins, Tables}

/** Structured Streaming surface. The reference is strictly batch (hard
  * map→reduce barrier, /root/reference/src/mr/coordinator.go:57-70); this
  * module is the streaming *extension* (SURVEY.md §2.3), gated on
  * batch-equivalence: the same transform function runs on a batch or a
  * streaming DataFrame, and the batch result is the oracle.
  */
object EventStreams {

  /** Epoch micros regardless of the scan's inferred timestamp flavor:
    * `unix_micros` rejects TIMESTAMP_NTZ (which a tz-less parquet
    * `timestamp[us]` column becomes under Spark 4's NTZ inference), so
    * normalize through an LTZ cast first — the session zone is pinned to
    * UTC by every entrypoint, making the NTZ→LTZ reinterpretation exact,
    * and on an already-LTZ column the cast is a no-op. */
  private[graft] def epochMicros(c: org.apache.spark.sql.Column) =
    unix_micros(c.cast(TimestampType))

  /** Streaming watermark guard for event-time columns that may have
    * scanned as TIMESTAMP_NTZ (tz-less parquet file sources): Spark's
    * watermark requires TIMESTAMP, and the pinned-UTC session zone makes
    * the NTZ→LTZ reinterpretation exact. No-op cast on an already-LTZ
    * column (the memory-stream specs); batch inputs pass through. */
  private def watermarked(df: DataFrame, c: String, delay: String): DataFrame =
    if (df.isStreaming)
      df.withColumn(c, col(c).cast(TimestampType)).withWatermark(c, delay)
    else df

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class IncomingDoc(doc_id: Long, text: String, source: String)

  case class UserSession(user_id: Long, session_start: Timestamp,
                         session_end: Timestamp, n_events: Long)

  case class SessionAcc(start: Long, end: Long, n: Long)

  /** Tumbling 1-hour event-time window per event_type — one transform for
    * both batch and streaming inputs (watermark applied only when
    * streaming; 2 h lateness bound). */
  def hourlyByType(events: DataFrame): DataFrame = {
    val src = watermarked(events, "ts", "2 hours")
    src
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value").cast(DecimalType(12, 4))), 2).cast(DoubleType).as("v"))
      .select(
        col("window.start").cast(TimestampNTZType).as("w"),
        col("event_type"), col("n"), col("v"))
  }

  /** Sliding 1-hour window with 30-minute slide per event_type — one
    * transform for batch and streaming inputs. */
  def slidingByType(events: DataFrame): DataFrame = {
    val src = watermarked(events, "ts", "2 hours")
    src
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value").cast(DecimalType(12, 4))), 2).cast(DoubleType).as("v"))
      .select(
        col("window.start").cast(TimestampNTZType).as("w"),
        col("event_type"), col("n"), col("v"))
  }

  /** Batch sessionization: gap-based sessions via lag + running sum of
    * session-break flags — the classic two-window formulation, fully
    * relational (and therefore oracle-checkable in SQL). */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          epochMicros(col("ts")) - epochMicros(col("prev_ts")) > gapMinutes * 60L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_sess")).over(run))
      .groupBy(col("user_id"), col("sid"))
      .agg(
        min(col("ts")).cast(TimestampNTZType).as("session_start"),
        max(col("ts")).cast(TimestampNTZType).as("session_end"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"), col("sid"))
  }

  /** Streaming sessionization with explicit state:
    * flatMapGroupsWithState keyed by user, event-time timeout = gap. Emits
    * a UserSession when the gap elapses (or on final watermark advance).
    * The stateful-op analog of sessionizeBatch for unbounded input. */
  /** Microsecond precision round-trip (Timestamp.getTime is ms-only). */
  private def tsToMicros(t: Timestamp): Long =
    (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
  private def microsToTs(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000000L * 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  def sessionizeStream(events: Dataset[Event], gapMinutes: Int): Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(UserSession(userId, microsToTs(s.start), microsToTs(s.end), s.n))
          } else {
            val sorted = rows.toSeq.sortBy(e => (tsToMicros(e.ts), e.event_id))
            var acc = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer.empty[UserSession]
            sorted.foreach { e =>
              val t = tsToMicros(e.ts)
              if (acc == null) acc = SessionAcc(t, t, 1)
              else if (t - acc.end > gapUs) {
                out += UserSession(userId, microsToTs(acc.start), microsToTs(acc.end), acc.n)
                acc = SessionAcc(t, t, 1)
              } else acc = SessionAcc(acc.start, math.max(acc.end, t), acc.n + 1)
            }
            if (acc != null) {
              state.update(acc)
              state.setTimeoutTimestamp((acc.end + gapUs) / 1000L) // timeout API is ms
            }
            out.iterator
          }
      }
  }

  case class NewUser(user_id: Long, dayn: Long)

  /** Streaming face of q217's growth accounting: NEW-USER DETECTION at
    * ingest. Per user, one long of state (the first active epoch-day);
    * a user emits exactly ONE NewUser row — on first contact — and is
    * silent forever after, so the drained rows grouped by day ARE the
    * daily n_new counts and their running sum the cumulative curve.
    * State is bounded by |users| (one long each) — the inherent floor
    * for this metric, since "seen before?" is the question itself.
    *
    * Semantics premise (spec'd): detection is by ARRIVAL; when events
    * arrive in event-time order (the at-ingest deployment), first
    * contact coincides with the batch q217's min event-day, and
    * StreamingGrowth drain-equality binds the two bit-for-bit. */
  def newUserStream(events: Dataset[Event]): Dataset[NewUser] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, NewUser](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[Long]) =>
          if (state.exists) { rows.foreach(_ => ()); Iterator.empty }
          else {
            val first = rows
              .map(e => tsToMicros(e.ts) / 86400000000L).min
            state.update(first)
            Iterator(NewUser(uid, first))
          }
      }
  }

  /** One CDC delta row from the q236 A/B monitor: a user's conversion
    * bit flipped (+1 entered the converted set, −1 left it) in the arm
    * the splitmix64 coin assigned them. */
  case class ArmDelta(user_id: Long, arm: Long, delta: Long)

  /** Streaming face of q236's A/B monitor: per-user conversion state
    * ("heavy purchaser" — purchases exceed 20 % of the user's events)
    * maintained by `flatMapGroupsWithState`, emitting a ±1 ARM DELTA
    * whenever a user's bit flips. Structured Streaming allows only one
    * stateful aggregation per query, and the experiment readout is a
    * two-level aggregate (events→user→arm) — so the stream emits the
    * CDC form and the consumer folds deltas into arm tallies, the
    * standard pattern for nested streaming aggregates. Folded over any
    * drain, Σdelta per arm equals the batch q236 conversion counts
    * REGARDLESS of how microbatches split the events (each user's
    * deltas telescope to their final bit) — StreamingAbSpec binds it.
    * State: two longs per user — the inherent floor, since the
    * conversion bit is a per-user ratio. The arm coin is
    * [[graft.functions.TokenHashExpr.hash]], the same kernel the batch
    * Column form and the DuckDB oracle evaluate. */
  def abConversionStream(events: Dataset[Event]): Dataset[ArmDelta] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), ArmDelta](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[(Long, Long)]) =>
          val (p0, n0) = state.getOption.getOrElse((0L, 0L))
          var p = p0; var n = n0
          rows.foreach { e =>
            n += 1; if (e.event_type == "purchase") p += 1
          }
          state.update((p, n))
          val before = 5L * p0 > n0
          val after = 5L * p > n
          if (before == after) Iterator.empty
          else Iterator(ArmDelta(uid,
            java.lang.Math.floorMod(
              graft.functions.TokenHashExpr.hash(s"ab|$uid"), 2L),
            if (after) 1L else -1L))
      }
  }

  /** Stream-stream INTERVAL join: every purchase attributed to the same
    * user's clicks in the preceding `windowMinutes`. One transform for
    * batch and streaming inputs; in streaming BOTH sides carry
    * watermarks and the two-sided time-bound predicate is what lets
    * Spark expire join state — without it, stream-stream join state
    * grows forever. Inputs are pre-shaped via `clicksOf`/`purchasesOf`. */
  def purchaseAttribution(clicks: DataFrame, purchases: DataFrame,
                          windowMinutes: Int = 30): DataFrame = {
    val c = watermarked(clicks, "c_ts", "1 hour")
    val p = watermarked(purchases, "p_ts", "1 hour")
    c.join(p,
        col("c_user") === col("p_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(
        col("p_user").as("user_id"),
        col("p_id").as("purchase_id"),
        col("c_id").as("click_id"),
        col("p_ts").cast(TimestampNTZType).as("purchase_ts"),
        col("c_ts").cast(TimestampNTZType).as("click_ts"))
  }

  /** Stream-stream LEFT OUTER interval join — q64's attribution with
    * the purchase side PRESERVED: a purchase with no qualifying click
    * still emits, click columns NULL. In streaming this is the
    * semantically hard case: an unmatched purchase can only emit once
    * the CLICK side's watermark has passed its join window (before
    * that, a matching click could still arrive), so NULL rows appear
    * with watermark latency rather than immediately — the
    * correctness/latency trade Structured Streaming makes explicit.
    * Both sides carry watermarks and the two-sided time bound, so join
    * state stays bounded exactly as in the inner form.
    * StreamingOuterJoinSpec drains the stream (with sentinel rows
    * advancing both watermarks past every real event's window) and
    * binds the per-purchase attribution ledger to the batch twin. */
  def purchaseAttributionOuter(clicks: DataFrame, purchases: DataFrame,
                               windowMinutes: Int = 30): DataFrame = {
    val c = watermarked(clicks, "c_ts", "1 hour")
    val p = watermarked(purchases, "p_ts", "1 hour")
    p.join(c,
        col("c_user") === col("p_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowMinutes MINUTES"),
        "left_outer")
      .select(
        col("p_user").as("user_id"),
        col("p_id").as("purchase_id"),
        col("c_id").as("click_id"),
        col("p_ts").cast(TimestampNTZType).as("purchase_ts"))
  }

  /** q199 — batch form of the OUTER attribution: the conversion ledger
    * every purchase appears in, attributed or not (the inner q64 form
    * silently drops organic purchases — the outer ledger is what a
    * marketing-attribution pipeline actually reports). Per purchase:
    * click count in the window, the earliest qualifying click, and the
    * attributed flag. Scale shape: the interval join is an equi-join
    * on user with the time bound as a residual filter (q185's
    * argument), and the per-purchase aggregate partials map-side on
    * the purchase key. */
  def q199(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    purchaseAttributionOuter(clicksOf(ev), purchasesOf(ev))
      .groupBy(col("user_id"), col("purchase_id"), col("purchase_ts"))
      .agg(count(col("click_id")).as("n_clicks"),
        min(col("click_id")).as("first_click"))
      .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
        col("n_clicks"), col("first_click"),
        (col("n_clicks") > 0L).as("attributed"))
      .orderBy(col("purchase_id"))
  }

  def clicksOf(events: DataFrame): DataFrame =
    events.where(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("ts").as("c_ts"),
        col("user_id").as("c_user"))

  def purchasesOf(events: DataFrame): DataFrame =
    events.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
        col("user_id").as("p_user"))

  /** At-least-once ingest dedup with BOUNDED state: re-delivered events
    * are dropped by event_id. The streaming form uses
    * `dropDuplicatesWithinWatermark`, so the id-key state is EVICTED once
    * the watermark passes it — a plain streaming `dropDuplicates` keeps
    * every id ever seen and its state grows without bound on a
    * continuous 100 TB ingest (the spec's exact-dedup twin demonstrates
    * that unbounded form; this is the production one). Batch form is
    * plain dropDuplicates — the batch oracle. */
  def dedupDelivery(events: DataFrame): DataFrame =
    if (events.isStreaming)
      watermarked(events, "ts", "2 hours")
        .dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")

  /** q84 — exactly-once accounting over an at-least-once delivery: the
    * events table re-delivered in full (unionAll — the crash-replay worst
    * case), restored by [[dedupDelivery]], with per-type delivered vs
    * unique counts. event_id is unique in the fixture, so the oracle is
    * closed-form (2·n delivered, n unique). */
  def q84(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events").select(col("event_id"), col("ts"), col("event_type"))
    val delivered = ev.unionAll(ev)
    val unique = dedupDelivery(delivered)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_unique"))
    delivered.groupBy(col("event_type")).agg(count(lit(1)).as("n_delivered"))
      .join(unique, Seq("event_type"))
      .select(col("event_type"), col("n_delivered"), col("n_unique"))
      .orderBy(col("event_type"))
  }

  /** Stream-STATIC enrichment: events joined to a static dimension
    * (customer market segment), hourly accounting per segment. The static
    * side is explicitly BROADCAST — the canonical stream-static shape: the
    * stream stays partitioned as it arrives, the join holds ZERO streaming
    * state (unlike a stream-stream join there is nothing to watermark away
    * on the dimension side), and each micro-batch probes the same
    * broadcast table. One transform for batch and streaming inputs; the
    * batch form is the DuckDB-checked oracle (q91), the streaming form is
    * equivalence-spec'd. */
  def segmentHourly(events: DataFrame, dim: DataFrame): DataFrame = {
    val src = watermarked(events, "ts", "2 hours")
    src.join(broadcast(dim), col("user_id") === col("custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value").cast(DecimalType(12, 4))), 2).cast(DoubleType).as("v"))
      .select(
        col("window.start").cast(TimestampNTZType).as("w"),
        col("mktsegment"), col("n"), col("v"))
  }

  /** The customer dimension shaped for [[segmentHourly]]. */
  def custDim(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_mktsegment").as("mktsegment"))

  /** q91 — batch form of the stream-static segment enrichment. */
  def q91(spark: SparkSession, dir: String): DataFrame =
    segmentHourly(Tables(spark, dir, "events"), custDim(spark, dir))
      .orderBy(col("w"), col("mktsegment"))

  /** Streaming ingest dedup against a STATIC corpus: incoming documents
    * whose canonical fingerprint already exists in the standing corpus
    * are dropped by a stream-static LEFT ANTI join — the streaming face
    * of q90's incremental dedup (batch form q97 is the DuckDB-checked
    * oracle; the MemoryStream twin is equivalence-spec'd). The static
    * fingerprint set is broadcast once and probed per micro-batch; the
    * anti join holds ZERO streaming state (nothing to watermark on the
    * static side), so a continuous ingest runs at stream cadence with
    * the corpus-sized work done once at startup. */
  /** Canonical word-set fingerprint computed IN-ROW (map-only — no
    * tokenize shuffle): md5 of the sorted distinct token set. Identical
    * to Dedup.wordSets' exploded form for every document INCLUDING
    * token-less ones (md5 of the empty join), which the exploded
    * aggregate has no row for — both ingest sides must use THIS form or
    * a zero-token corpus doc would silently fail to suppress its
    * incoming duplicate. */
  def rowFp(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(array_join(
      array_sort(array_distinct(
        filter(split(lower(text), "[^a-z]+"), w => w =!= ""))), " "))

  def ingestDedup(incoming: DataFrame, corpusFps: DataFrame): DataFrame =
    incoming
      .withColumn("fp", rowFp(col("text")))
      .join(broadcast(corpusFps), Seq("fp"), "left_anti")

  /** Streaming per-source ADMISSION QUOTA — the ingest-time face of the
    * q127 cap family: admit at most `k` documents per source over the
    * LIFE of the stream (a data-mix spec's "no more than k docs from
    * source X" enforced at ingest, before anything downstream pays for
    * the excess). Stateful: one Long counter per source, NoTimeout —
    * state is bounded by the source catalog regardless of stream
    * length. Admission order is arrival order; within each micro-batch
    * group invocation rows are doc_id-sorted so the choice is
    * deterministic. Batch twin: row_number over (source, doc_id) ≤ k
    * when arrival order is id order — the equivalence spec's premise. */
  def admissionQuota(docs: Dataset[IncomingDoc], k: Int): Dataset[IncomingDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[Long, IncomingDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[IncomingDoc], state: GroupState[Long]) =>
          val admitted = state.getOption.getOrElse(0L)
          val room = math.max(0L, k.toLong - admitted).toInt
          val take = rows.toSeq.sortBy(_.doc_id).take(room)
          state.update(admitted + take.length)
          take.iterator
      }
  }

  /** The standing corpus's fingerprint set for [[ingestDedup]] (slice
    * convention shared with q90: `doc_id % 10 < 7` is the corpus) —
    * same in-row [[rowFp]] as the probe side, so token-less documents
    * fingerprint identically on both sides (and in the DuckDB oracle). */
  def corpusFps(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .where(col("doc_id") % 10 < 7)
      .select(rowFp(col("text")).as("fp"))
      .distinct()

  /** Static corpus index for [[nearDupIngest]]: the standing corpus's LSH
    * bucket rows joined with its shingle-hash sets —
    * `(band, bh, c_id, c_items)` — built ONCE per ingest session (q106's
    * corpus slice convention). Returned as a direct localCheckpoint: the
    * static side of a stream-static broadcast join is RE-PLANNED AND
    * RE-EXECUTED every micro-batch, so without the materialization the
    * full corpus shingle/minhash/band pipeline would rerun per trigger —
    * the checkpoint makes each micro-batch a broadcast of the
    * already-computed index. It lives as long as the ingest session, so
    * the caller owns it (into a [[graft.core.Pins]] closed when the
    * session ends). At true corpus scale this
    * rides as TWO standing tables (a bucket-keyed probe, then a
    * c_id-keyed verify join) so the item payload is not replicated ×32;
    * the single broadcast index is the streaming-face simplification,
    * valid while the corpus shingle sets fit an executor. */
  def corpusNearDupIndex(spark: SparkSession, dir: String,
                         mod: Int = 10, lt: Int = 7): DataFrame = {
    val sets = graft.dedup.Dedup.shingleHashes(spark, dir)
      .where(col("doc_id") % mod < lt)
    graft.dedup.Dedup
      .bandedSignatures(graft.dedup.Dedup.minhashSignatures(sets))
      .join(sets, Seq("doc_id"))
      .select(col("band"), col("bh"), col("doc_id").as("c_id"),
        col("items").as("c_items"))
      .localCheckpoint()
  }

  /** Streaming NEAR-dup ingest probe — q106's corpus tier on a stream:
    * each incoming document is shingled/signed/banded IN-ROW (map-only,
    * so it runs at stream cadence), bucket rows probe the broadcast
    * standing-corpus index, and every bucket hit is verified with exact
    * shingle Jaccard. Emits the VERIFIED matches
    * `(doc_id, c_id, jaccard)` — zero streaming state (the static side
    * needs no watermark), like [[ingestDedup]] one tier up. A (doc,
    * corpus-doc) pair hitting several bands emits once per band
    * (stateless by design); consumers collapse per doc in their
    * micro-batch sink or a downstream aggregate — the equivalence spec
    * proves the collapsed match set equals the batch q106
    * `neardup_corpus` labeling exactly. */
  def nearDupIngest(incoming: DataFrame, corpusIndex: DataFrame,
                    exactThreshold: Double = 0.7): DataFrame = {
    import graft.dedup.Dedup.{MinhashBands, MinhashSigSize}
    val rows = MinhashSigSize / MinhashBands
    val sets = incoming.select(col("doc_id"),
        graft.dedup.Dedup.shingleItemsCol(col("text")).as("items"))
      .where(size(col("items")) > 0)
    val sig = sets.select(col("doc_id"), col("items"),
      graft.functions.MinHashSigExpr
        .minhashSig(col("items"), MinhashSigSize).as("sig"))
    // banding with the item payload carried (the batch form shuffles ids
    // only; a stream cannot join back to itself, so each band row pays
    // the payload — the map-only price of statelessness)
    val banded = sig.select(col("doc_id"), col("items"),
        explode(transform(sequence(lit(0), lit(MinhashBands - 1)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * rows + 1, lit(rows))).as("bh"))))
          .as("bb"))
      .select(col("doc_id"), col("items"), col("bb.band"), col("bb.bh"))
    banded
      .join(broadcast(corpusIndex), Seq("band", "bh"))
      .select(col("doc_id"), col("c_id"),
        size(array_intersect(col("items"), col("c_items"))).as("inter"),
        size(col("items")).as("n1"), size(col("c_items")).as("n2"))
      .withColumn("jaccard",
        round(col("inter").cast(DoubleType) /
          (col("n1") + col("n2") - col("inter")), 4))
      .where(col("jaccard") >= exactThreshold)
      .select(col("doc_id"), col("c_id"), col("jaccard"))
  }

  /** Initialize the standing fingerprint store for [[manifestIngest]]:
    * the corpus slice's canonical word-set fingerprints (q110's corpus
    * probe set — Dedup.fingerprints, so token-less corpus docs contribute
    * no fingerprint, exactly as in the batch q110).
    *
    * HOLDER-KEYED (src_id, fp), not a bare fp set — the q220 lesson: an
    * erasure request deletes a DOCUMENT's rows, and only an fp whose
    * every holder is erased may leave the probe face (an fp shared with
    * a surviving duplicate still guards the corpus). A distinct-fp store
    * cannot distinguish the two, so it cannot serve erasure at all. The
    * probe face is `SELECT DISTINCT fp` over the ledger. */
  def initManifestFpStore(spark: SparkSession, dir: String,
                          fpStorePath: String,
                          mod: Int = 10, lt: Int = 7): Unit =
    BatchStore.write(
      graft.dedup.Dedup.fingerprints(spark, dir)
        .where(col("doc_id") % mod < lt)
        .select(col("doc_id").cast(LongType).as("src_id"), col("fp")),
      fpStorePath, "init", 0L)

  /** Serve an erasure request against the standing fingerprint store:
    * delete the subjects' ROWS (holder-keyed anti-join), so fps held
    * only by erased docs stop suppressing re-submissions while fps
    * shared with surviving content keep guarding it — then swap the
    * rewritten generation in. StreamingEraseSpec proves the erased
    * store equals [[initManifestFpStore]] run on the erased corpus,
    * and that a later drain re-admits forgotten content.
    *
    * The two-generation write-then-swap is the minimal filesystem form;
    * a production store is a table format with ACID row deletes — the
    * OPERATION (anti-join on the request, request-scale) is the same. */
  def eraseFromFpStore(spark: SparkSession, fpStorePath: String,
                       erasedIds: DataFrame): Unit = {
    // the erase-rewrite is a WRITER of the store: take the same
    // exclusive lock the ingest queries hold, so a request can never
    // rewrite the store out from under a live appender (VERDICT r12 #5)
    val lock = StoreWriterLock.acquire(fpStorePath)
    try {
      val req = broadcast(erasedIds.select(col("doc_id").cast(LongType)
        .as("src_id")))
      // rewrite EACH committed batch dir in place (write-then-swap per
      // generation), PRESERVING the batch-dir layout and markers: the
      // ingest's crash-replay detection keys on those dirs, so an
      // erasure between sessions must not collapse them. Idempotent —
      // a crash mid-erase re-runs the same anti-joins.
      BatchStore.committedDirs(fpStorePath).foreach { d =>
        val tmp = d + "_erased_gen"
        Tables.parquet(spark, d)
          .join(req, Seq("src_id"), "left_anti")
          .write.mode("overwrite").parquet(tmp)
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(tmp, BatchStore.Marker))
        def rmRf(f: java.io.File): Unit = {
          val kids = f.listFiles(); if (kids != null) kids.foreach(rmRf)
          f.delete(): Unit
        }
        rmRf(new java.io.File(d))
        require(new java.io.File(tmp).renameTo(new java.io.File(d)),
          s"fp store swap failed: $tmp -> $d")
      }
    } finally lock.close()
  }

  /** EXCLUSIVE WRITER LOCK for an append-mode standing store (VERDICT
    * r12 #5). The parquet-append stores ([[manifestIngest]]'s fp ledger,
    * [[sparseIngest]]'s posting store) predate [[graft.core.DurableState]]
    * and have no version/commit protocol — they are SINGLE-WRITER by
    * design (one ingest query owns a store; a second appender would
    * interleave rows the first query's probes never saw, silently
    * corrupting the greedy arrival-order dedup semantics). This lock
    * ENFORCES the invariant instead of documenting it: an OS advisory
    * file lock (`FileChannel.tryLock`) on `<store>.writer.lock` —
    * cross-process (the deployment shape: two ingest jobs pointed at one
    * store), auto-released by the OS if the holder dies (no stale-lock
    * sweeping), and mapped to the same busy answer within one JVM via
    * the overlapping-lock exception. Writers hold it for the query's
    * lifetime; the erase-rewrite takes it for the swap. A version-safe
    * multi-writer store is what [[graft.core.DurableState]] provides —
    * stores that need concurrent writers should migrate there. */
  private[streaming] final class StoreWriterLock private (
      channel: java.nio.channels.FileChannel,
      lock: java.nio.channels.FileLock) extends AutoCloseable {
    override def close(): Unit = { try lock.release() finally channel.close() }
  }

  /** EXACTLY-ONCE batch-committed layout for the foreachBatch standing
    * stores and sinks ([[manifestIngest]], [[sparseIngest]]). foreachBatch
    * is AT-LEAST-ONCE: a crash between a side-effecting write and the
    * checkpoint's commit log re-delivers the batch, and a bare
    * `mode("append")` would then double-append into the store/sink —
    * duplicate fingerprints, duplicate manifest rows, double-counted
    * postings. Instead each batch writes its delta to its OWN directory,
    *
    * {{{  <root>/b-<tag>-<bid>/part-*.parquet + _COMMITTED  }}}
    *
    * where `tag` is a digest of the CHECKPOINT path (stable across
    * restarts of the same query — batchIds only continue within one
    * checkpoint lineage — and distinct for a fresh checkpoint, so stale
    * dirs from an abandoned lineage can never be mistaken for this
    * query's own replay) and `bid` is the foreachBatch batchId. A
    * re-delivered batch OVERWRITES its own dir — idempotent, the
    * reference's atomic-publish discipline (worker.go:66-69) at batch
    * granularity. Readers see only marker-committed dirs, so a crash
    * mid-write is invisible; probes EXCLUDE the writer's own (tag, bid)
    * dir so a replayed batch probes exactly the standing state the
    * first delivery saw (determinism under replay). The underscore
    * marker is skipped by parquet readers, so a committed dir is a
    * plain parquet directory. */
  object BatchStore {
    private[streaming] val Marker = "_COMMITTED"

    /** Stable identity of a checkpoint lineage: 8 hex chars of SHA-256
      * of the canonical checkpoint path. */
    def tagOf(checkpointPath: String): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val canonical = java.nio.file.Paths.get(checkpointPath)
        .toAbsolutePath.normalize.toString
      md.digest(canonical.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map(b => f"$b%02x").mkString
    }

    private def dirOf(root: String, tag: String, bid: Long): String =
      s"$root/b-$tag-$bid"

    /** Marker-committed batch dirs of `root`, name-sorted (empty if the
      * store does not exist yet). */
    def committedDirs(root: String): Seq[String] = {
      val r = java.nio.file.Paths.get(root)
      if (!java.nio.file.Files.isDirectory(r)) return Seq.empty
      val s = java.nio.file.Files.list(r)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith("b-") &&
            java.nio.file.Files.exists(p.resolve(Marker)))
          .map(_.toString).toSeq.sorted
      } finally s.close()
    }

    /** Read every committed batch dir (throws if none — use
      * [[readExceptOrEmpty]] for stores that may legitimately be
      * empty). */
    def read(spark: SparkSession, root: String): DataFrame = {
      val dirs = committedDirs(root)
      require(dirs.nonEmpty, s"batch store $root has no committed batches")
      // many directories in one read: the footer reader takes one path
      spark.read.parquet(dirs: _*)
    }

    /** Read all committed dirs EXCEPT the writer's own (tag, bid) — the
      * standing state a (possibly re-delivered) batch probes. */
    def readExceptOrEmpty(spark: SparkSession, root: String, tag: String,
        bid: Long, schema: org.apache.spark.sql.types.StructType)
        : DataFrame = {
      val own = dirOf(root, tag, bid)
      val dirs = committedDirs(root).filterNot(_ == own)
      if (dirs.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      // many directories in one read: the footer reader takes one path
      else spark.read.parquet(dirs: _*)
    }

    /** Publish `df` as batch (tag, bid): overwrite the batch dir (a
      * replay repairs/rewrites its own partial or committed dir — never
      * anyone else's) and mark it committed. */
    def write(df: DataFrame, root: String, tag: String, bid: Long): Unit = {
      val d = dirOf(root, tag, bid)
      df.write.mode("overwrite").parquet(d)
      val m = java.nio.file.Paths.get(d, Marker)
      if (!java.nio.file.Files.exists(m))
        java.nio.file.Files.createFile(m): Unit
    }
  }

  private[streaming] object StoreWriterLock {
    /** Acquire or throw `IllegalStateException` if another writer holds
      * the store — failing FAST beats silently interleaved appends. */
    def acquire(storePath: String): StoreWriterLock = {
      val p = java.nio.file.Paths.get(storePath + ".writer.lock")
      if (p.getParent != null)
        java.nio.file.Files.createDirectories(p.getParent)
      val ch = java.nio.channels.FileChannel.open(p,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val l =
        try ch.tryLock()
        catch {
          case _: java.nio.channels.OverlappingFileLockException =>
            ch.close()
            throw busy(storePath)
          case t: Throwable => ch.close(); throw t
        }
      if (l == null) { ch.close(); throw busy(storePath) }
      new StoreWriterLock(ch, l)
    }
    private def busy(storePath: String) = new IllegalStateException(
      s"standing store $storePath already has a live writer — these " +
        "append-mode stores are single-writer (run one ingest query per " +
        "store, or migrate the store to DurableState versions)")
  }

  /** q110's STREAMING face — the daily-ingest manifest as a file-source
    * job: document batches land as parquet, each micro-batch is curated
    * with the batch q110's exact tiers via `foreachBatch` (the standard
    * sink for whole-batch logic like packing, which needs the full
    * micro-batch's token order — not expressible as a row-at-a-time
    * streaming aggregate), and manifest rows append to `sinkPath`.
    *
    * Incremental semantics across micro-batches:
    *  - the standing fingerprint store ([[initManifestFpStore]]) GROWS
    *    with every processed batch's distinct fingerprints (all docs,
    *    pre-quality — mirroring q110's keeper rule, where a
    *    quality-failing earlier doc still claims keeper-ship), so a
    *    later batch's duplicate of ANY earlier-ingested doc is dropped
    *    by the same fp probe that drops corpus duplicates — arrival
    *    order is the ingest tiebreak, the q106 greedy rule;
    *  - the manifest offset advances by each batch's kept-token total
    *    (one driver-side scalar — the "+total shift" constant the q110
    *    scaladoc promises), so appended rows continue the global
    *    concat-and-chunk coordinate space; a restarted query RE-SEEDS
    *    the scalar from the committed sink, so the space also survives
    *    restarts and crash-replays ([[BatchStore]], StreamingReplaySpec).
    *
    * When landed batches arrive in doc_id order (a landing zone fed by
    * an id-ordered writer), the drained stream's manifest is ROW-
    * IDENTICAL to the batch q110 on the same slice — spec-proven
    * (EventStreamsSpec). At 100 TB the store probe rides behind the
    * q109 bloom sketch maintained incrementally; here it is the plain
    * fp-keyed semi join (the sketch would be rebuilt per micro-batch at
    * this scale, costing more than it prunes). */
  def manifestIngest(incoming: DataFrame, dir: String, fpStorePath: String,
                     sinkPath: String, checkpointPath: String,
                     seqLen: Int = 128, benchMod: Int = 50)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val session = incoming.sparkSession
    // this query is the store's single writer for its lifetime
    // (StoreWriterLock doc) — acquired BEFORE any store read so a
    // concurrent ingest fails fast instead of probing a moving store
    val storeLock = StoreWriterLock.acquire(fpStorePath)
    // static probe set, materialized once per ingest session (the
    // corpusNearDupIndex discipline); these pins are owned by the query's
    // termination listener, not by a scope
    val sessionPins = new Pins
    val contaminated =
      try sessionPins.pin(graft.text.Decontaminate.q86(session, dir, benchMod)
        .where(col("contaminated"))
        .select(col("doc_id")))
      catch { case t: Throwable => storeLock.close(); throw t }
    val tag = BatchStore.tagOf(checkpointPath)
    // driver-side running manifest offset — ONE scalar. Sentinel until
    // the first batch of THIS process: a restarted query re-seeds it
    // from the committed sink (excluding a replayed batch's own dir), so
    // the global concat-and-chunk coordinate space survives both a
    // restart and an at-least-once re-delivery.
    var shift = -1L
    val step: (DataFrame, Long) => Unit = (batch, bid) => Pins.scope { pins =>
      val sp = batch.sparkSession
      if (shift < 0L) {
        val prior = BatchStore.readExceptOrEmpty(sp, sinkPath, tag, bid,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("n_tok",
              org.apache.spark.sql.types.LongType))))
          .agg(sum(col("n_tok"))).collect()(0)
        shift = if (prior.isNullAt(0)) 0L else prior.getLong(0)
      }
      // probe face of the holder-keyed ledger (see initManifestFpStore):
      // committed batch dirs only, EXCLUDING this batch's own dir — a
      // re-delivered batch must probe the same standing state its first
      // delivery saw, not its own half-published rows
      val standing = BatchStore.readExceptOrEmpty(sp, fpStorePath, tag, bid,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("src_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("fp",
              org.apache.spark.sql.types.StringType))))
        .select(col("fp")).distinct()
      val bfp = batch.select(col("doc_id"), rowFp(col("text")).as("fp"))
      val dupExisting = bfp.join(standing, Seq("fp"), "left_semi")
        .select(col("doc_id"))
      val keepers = bfp.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val counts = batch
        .select(col("doc_id"),
          graft.text.TextAnalysis.toks(col("text")).as("tk"),
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
      val manifest = pins.own(graft.queries.Curation.pack(sp, counts, seqLen))
      // shift this batch's local offsets into the global coordinate
      // space and re-derive the sequence span from the shifted start;
      // the batch dir overwrite makes a re-delivery rewrite the SAME
      // rows instead of appending duplicates
      BatchStore.write(manifest
        .select(col("doc_id"), col("n_tok"),
          (col("start_tok") + lit(shift)).as("start_tok"))
        .withColumn("first_seq",
          expr(s"start_tok div $seqLen").cast(LongType))
        .withColumn("last_seq",
          expr(s"(start_tok + n_tok - 1) div $seqLen").cast(LongType))
        .withColumn("n_seqs",
          (col("last_seq") - col("first_seq") + 1L).cast(LongType)),
        sinkPath, tag, bid)
      val batchTokens = manifest.agg(sum(col("n_tok"))).collect()(0)
      shift += (if (batchTokens.isNullAt(0)) 0L else batchTokens.getLong(0))
      pins.release(manifest)
      // grow the standing store AFTER the probes: this batch's docs must
      // not suppress each other through the store (the keeper aggregate
      // owns within-batch dedup). Holder-keyed rows, so a later erasure
      // request can reach ingested documents too.
      BatchStore.write(
        bfp.select(col("doc_id").cast(LongType).as("src_id"), col("fp")),
        fpStorePath, tag, bid)
    }
    val q =
      try incoming.writeStream
        .option("checkpointLocation", checkpointPath)
        .foreachBatch(step)
        .start()
      catch { case t: Throwable =>
        storeLock.close()
        sessionPins.close()
        throw t
      }
    // storage contract: the pinned static probe is freed AND the store's
    // writer lock released when THIS query terminates (the listener
    // unregisters itself after firing)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(event: QueryStartedEvent): Unit = ()
      override def onQueryProgress(event: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
        if (event.id == q.id) {
          storeLock.close()
          sessionPins.close()
          session.streams.removeListener(this)
        }
    }
    session.streams.addListener(listener)
    q
  }

  /** Static corpus-model tables for [[sparseIngest]] — the sparse tier's
    * standing state, built once per ingest session (the
    * corpusNearDupIndex discipline, both owned by the caller):
    *  - `dfModel` (gram, df): the CORPUS's per-gram document frequency,
    *    vocabulary-sized — batch grams absent from it weight at the
    *    smoothed df = 0, exactly q124's model;
    *  - `corpusVecs` (gram, c_id, c_wi, c_n2): the corpus postings under
    *    that model, docfreq-capped — the probe side of the stream's
    *    corpus tier. */
  def corpusSparseModel(spark: SparkSession, dir: String, maxDf: Int = 50,
                        mod: Int = 10, lt: Int = 7): (DataFrame, DataFrame) = {
    val corpusDocs = Tables(spark, dir, "documents")
      .where(col("doc_id") % mod < lt)
    val nDocs = corpusDocs.count()
    val g = graft.queries.Ranking.gramCountsOf(corpusDocs)
    val dfModel = g.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
      .localCheckpoint()
    val corpusVecs = g
      .join(dfModel, Seq("gram"))
      .where(col("df") <= maxDf)
      .select(col("doc_id").as("c_id"), col("gram"),
        graft.queries.Ranking
          .sparseWeight(col("tfv"), col("df"), lit(nDocs)).as("c_wi"))
      .withColumn("c_n2",
        sum(col("c_wi") * col("c_wi"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("c_id"))))
      .localCheckpoint()
    (dfModel, corpusVecs)
  }

  /** q124's STREAMING face — incremental sparse near-dup as a
    * `foreachBatch` ingest job (the manifestIngest pattern: whole-batch
    * logic — per-doc norms and pair aggregates — is batch work inside
    * each trigger, not a row-at-a-time streaming aggregate). Each
    * micro-batch is vectorized under the FROZEN corpus model
    * ([[corpusSparseModel]]; weights arithmetic-identical to the batch
    * q124 via the shared sparseWeight kernel), probed against the static
    * corpus postings, then against the GROWING store of earlier-ingested
    * batch postings, labeled with q124's precedence
    * (neardup_corpus > neardup_batch > new), and appended to `sinkPath`.
    * The store grows by the batch's own postings AFTER the probes
    * (within-batch earlier-id matches are the in-batch join's job), so
    * when landed batches arrive in doc_id order the drained stream's
    * labels are ROW-IDENTICAL to the batch q124 on the same slice —
    * spec-proven (EventStreamsSpec). */
  def sparseIngest(incoming: DataFrame, dfModel: DataFrame,
                   corpusVecs: DataFrame, nCorpusDocs: Long,
                   storePath: String, sinkPath: String,
                   checkpointPath: String, tau: Double = 0.5,
                   maxDf: Int = 50)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val session = incoming.sparkSession
    // the growing posting store is single-writer too (StoreWriterLock)
    val storeLock = StoreWriterLock.acquire(storePath)
    val tag = BatchStore.tagOf(checkpointPath)
    val step: (DataFrame, Long) => Unit = (batch, bid) => Pins.scope { pins =>
      val sp = batch.sparkSession
      import org.apache.spark.sql.expressions.Window
      val w = pins.pin(graft.queries.Ranking.gramCountsOf(batch)
        .join(dfModel, Seq("gram"), "left_outer")
        .select(col("doc_id"), col("gram"), col("tfv"),
          coalesce(col("df"), lit(0L)).as("df"))
        .where(col("df") <= maxDf)
        .select(col("doc_id"), col("gram"),
          graft.queries.Ranking
            .sparseWeight(col("tfv"), col("df"), lit(nCorpusDocs)).as("wi"))
        .withColumn("n2",
          sum(col("wi") * col("wi")).over(Window.partitionBy(col("doc_id")))))
      def matched(other: DataFrame, earlierOnly: Boolean): DataFrame =
        w.as("a").join(other.as("b"),
            col("a.gram") === col("b.gram") &&
              (if (earlierOnly) col("b.c_id") < col("a.doc_id") else lit(true)))
          .groupBy(col("a.doc_id").as("in_id"), col("b.c_id"),
            col("a.n2").as("na"), col("b.c_n2").as("nb"))
          .agg(sum(col("a.wi") * col("b.c_wi")).as("dot"))
          .where(round(col("dot").cast(DoubleType) /
            (sqrt(col("na").cast(DoubleType)) *
              sqrt(col("nb").cast(DoubleType))), 6) >= tau)
          .select(col("in_id")).distinct()
      // earlier-ingested postings: committed batch dirs only, excluding
      // a re-delivered batch's own half-published dir (empty on the
      // first trigger)
      val store = BatchStore.readExceptOrEmpty(sp, storePath, tag, bid,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("c_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("gram", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("c_wi", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("c_n2", org.apache.spark.sql.types.LongType))))
      val dupCorpus = matched(corpusVecs, earlierOnly = false)
        .withColumn("dc", lit(1))
      val dupStore = matched(store, earlierOnly = false)
        .withColumn("ds", lit(1))
      val dupBatch = matched(
          w.select(col("doc_id").as("c_id"), col("gram"),
            col("wi").as("c_wi"), col("n2").as("c_n2")),
          earlierOnly = true)
        .withColumn("db", lit(1))
      BatchStore.write(batch.select(col("doc_id"))
        .join(dupCorpus.withColumnRenamed("in_id", "doc_id"), Seq("doc_id"), "left_outer")
        .join(dupStore.withColumnRenamed("in_id", "doc_id"), Seq("doc_id"), "left_outer")
        .join(dupBatch.withColumnRenamed("in_id", "doc_id"), Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          when(col("dc").isNotNull, "neardup_corpus")
            .when(col("ds").isNotNull || col("db").isNotNull, "neardup_batch")
            .otherwise("new").as("status")),
        sinkPath, tag, bid)
      // grow the store AFTER the probes (within-batch matching is the
      // in-batch join's job, not the store's)
      BatchStore.write(
        w.select(col("doc_id").as("c_id"), col("gram"),
          col("wi").as("c_wi"), col("n2").as("c_n2")),
        storePath, tag, bid)
    }
    val q =
      try incoming.writeStream
        .option("checkpointLocation", checkpointPath)
        .foreachBatch(step)
        .start()
      catch { case t: Throwable => storeLock.close(); throw t }
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(event: QueryStartedEvent): Unit = ()
      override def onQueryProgress(event: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
        if (event.id == q.id) {
          storeLock.close()
          session.streams.removeListener(this)
        }
    }
    session.streams.addListener(listener)
    q
  }

  /** q97 — batch form of the streaming ingest dedup: per-source counts of
    * incoming documents that survive the corpus anti join. */
  def q97(spark: SparkSession, dir: String): DataFrame = {
    val incoming = Tables(spark, dir, "documents")
      .where(col("doc_id") % 10 >= 7)
    ingestDedup(incoming, corpusFps(spark, dir))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** Events as a typed Dataset (micros-truncated ts via Tables). */
  def typedEvents(spark: SparkSession, dir: String): Dataset[Event] = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
  }

  /** Query surface: 30-minute-gap sessions over `events` (batch form). */
  def q37(spark: SparkSession, dir: String): DataFrame =
    sessionizeBatch(Tables(spark, dir, "events"), 30)

  /** q64 — purchase→click attribution interval join (batch form of the
    * stream-stream join; the streaming twin is equivalence-spec'd). */
  def q64(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    purchaseAttribution(clicksOf(ev), purchasesOf(ev))
      .orderBy(col("user_id"), col("purchase_id"), col("click_id"))
  }

  /** Streaming face of q162's document row checks — the data-quality
    * gate run AT INGEST instead of over the standing corpus: the same
    * fused check aggregate (Audit.documentChecks, one pass, all checks)
    * over an arriving document stream, complete-mode so every trigger
    * re-emits the cumulative violations ledger. Spec-proven equal to the
    * batch rowChecks over the drained rows (StreamingAuditSpec). At
    * scale this is the gate a landing zone runs before files are
    * admitted to the corpus — violations surface per micro-batch, not
    * after a full-corpus audit. */
  def auditIngest(docs: DataFrame): DataFrame =
    graft.queries.Audit.rowChecks(docs, "documents",
      graft.queries.Audit.documentChecks)

  /** Streaming face of q174's PII scrub — the compliance gate run AT
    * INGEST: the identical map-only detect+redact kernel
    * (TextAnalysis.piiScrub) over an arriving (doc_id, raw) document
    * stream. Stateless, so append-mode emits each flagged document
    * exactly once in the micro-batch it arrives in — the landing-zone
    * posture where PII never touches the corpus at rest. Spec-proven
    * drain-equal to the batch q174 over the same planted rows
    * (StreamingPiiSpec). */
  def piiGate(docs: DataFrame): DataFrame =
    graft.text.TextAnalysis.piiScrub(docs)

  /** Streaming face of q176's consistent pseudonymization — the
    * de-identification gate run AT INGEST: the identical map-only
    * per-match kernel (TextAnalysis.piiPseudonymize) over an arriving
    * (doc_id, raw) document stream. Hash-derived tokens are stateless
    * — no entity dictionary to keep in state — so append-mode emits
    * each flagged document exactly once AND cross-batch consistency is
    * automatic: a value seen in micro-batch 1 and again in micro-batch
    * 9 maps to the same token with zero coordination, the property that
    * makes hash pseudonyms the streaming-safe choice over dictionary
    * ranks. Spec-proven drain-equal to the batch q176 over the same
    * planted rows (StreamingPiiSpec). */
  def pseudoGate(docs: DataFrame): DataFrame =
    graft.text.TextAnalysis.piiPseudonymize(docs)

  /** One element of the mixed ingest stream [[tombstoneGate]] consumes:
    * either an arriving document (`tombstone = false`, `text` set) or a
    * takedown request for an id (`tombstone = true`). */
  case class CorpusEvent(doc_id: Long, tombstone: Boolean, text: String)

  /** Streaming face of the q179/q180 takedown tier — the FORWARD gate:
    * once a takedown (tombstone) for a doc_id has been seen, that id is
    * never admitted again, including re-uploads arriving any number of
    * micro-batches later — the case a stateless stream-static anti join
    * cannot catch, because the tombstone set GROWS while the stream
    * runs. Within a micro-batch the tombstone wins regardless of
    * intra-batch arrival order (deterministic under shuffle). Append
    * mode cannot retract rows already emitted, so a tombstone arriving
    * AFTER its document was admitted does not un-admit it — repairing
    * the standing corpus and its derived artifacts is the batch tier's
    * job (q179 keeper re-election, q180 propagation audit); this gate's
    * contract is the ingest side of the same compliance posture: the
    * landing zone never re-accretes what legal removed. State: one
    * Boolean per TOMBSTONED id (admitted ids hold no state), bounded by
    * the takedown-request set — the one corpus-derived set that stays
    * tiny at 100 TB — with NoTimeout because erasure obligations don't
    * expire. */
  def tombstoneGate(evts: Dataset[CorpusEvent]): Dataset[CorpusEvent] = {
    val spark = evts.sparkSession
    import spark.implicits._
    evts.groupByKey(_.doc_id)
      .flatMapGroupsWithState[Boolean, CorpusEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[CorpusEvent], state: GroupState[Boolean]) =>
          val batch = rows.toSeq
          if (state.exists || batch.exists(_.tombstone)) {
            state.update(true)
            Iterator.empty
          } else batch.iterator
      }
  }

  /** Streaming face of q185's point-in-time SCD2 read — TEMPORAL
    * ENRICHMENT AT INGEST: an arriving fact stream joins the STATIC
    * SCD2 dimension on the key with the validity-interval predicate as
    * a residual filter, resolving each fact to the version valid at
    * its event time. Stream-static inner equi-joins hold ZERO
    * streaming state (the dim broadcasts once, probed per
    * micro-batch), so late-arriving facts STILL resolve to the version
    * their event time selects — the property that makes SCD2 the
    * streaming-safe dimension shape, where a "current values only" dim
    * would silently rewrite history for any fact that arrives after
    * the dim changed. Spec-proven drain-equal to the batch q185 over
    * the same orders (StreamingScd2Spec). */
  def scd2Enrich(facts: DataFrame, dim: DataFrame): DataFrame =
    facts.join(broadcast(dim),
        facts("o_custkey") === dim("c_custkey") &&
        dim("valid_from") <= facts("o_orderdate") &&
        (dim("valid_to").isNull || facts("o_orderdate") < dim("valid_to")))
      .select(facts("o_orderkey"), facts("o_custkey"),
        facts("o_orderdate"), dim("acctbal"), dim("valid_from"),
        dim("is_current"))

  /** Retention classification shared by the batch sweep (q189) and the
    * ingest gate ([[retentionGate]]): an event is `live` if its event
    * DATE is on/after the retention cutoff, else `held` when its user
    * is under legal hold (user_id ≡ 3 mod 29 — the deterministic
    * fixture for the hold register; production joins a hold table),
    * else `expired`. Date-level comparison is deliberate (retention
    * policies are calendar rules) and sidesteps the parquet
    * timestamp-flavor split — a DATE cast is exact under the pinned-UTC
    * session for both NTZ and LTZ scans. */
  private[graft] def retentionClass(events: DataFrame,
      cutoff: String = "2024-01-15"): DataFrame =
    events.withColumn("ret_class",
      when(col("ts").cast(DateType) >= lit(cutoff).cast(DateType), "live")
        .when(pmod(col("user_id"), lit(29L)) === 3L, "held")
        .otherwise("expired"))

  /** q189 — RETENTION POLICY SWEEP with legal holds: the data-governance
    * ledger a retention job signs — per event type, how many rows are
    * inside the window, how many EXPIRE under the policy, and how many
    * are past the window but RETAINED because their user is under legal
    * hold (the erasure/retention conflict every governance program has
    * to adjudicate; hold wins, and the ledger proves it did). One
    * map-only classification + a 5-row aggregate — at 100 TB the sweep
    * is a scan with map-side partials, and the hold register joins
    * broadcast. */
  def q189(spark: SparkSession, dir: String): DataFrame =
    retentionClass(Tables(spark, dir, "events"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("ret_class") === "expired", 1L).otherwise(0L))
          .as("n_expired"),
        sum(when(col("ret_class") === "held", 1L).otherwise(0L))
          .as("n_held"),
        sum(when(col("ret_class") === "live", 1L).otherwise(0L))
          .as("n_live"))
      .orderBy(col("event_type"))

  /** Streaming face of q189 — the retention gate run AT INGEST: events
    * already past the retention window are dropped at the door (unless
    * their user is under legal hold) instead of accreting until the
    * next sweep. Stateless map-only kernel shared verbatim with the
    * batch sweep, so append-mode emits each admitted event exactly
    * once; drain-equality spec'd against the batch classification
    * (StreamingRetentionSpec). */
  def retentionGate(events: DataFrame): DataFrame =
    retentionClass(events).where(col("ret_class") =!= "expired")
      .drop("ret_class")

  /** One shard's receipt as maintained by [[receiptStream]]. */
  case class ShardReceipt(shard: Int, n_docs: Long, tot_tok: Long,
                          content_sum: Long)

  /** q188's STREAMING face — shard receipts maintained CONTINUOUSLY at
    * ingest: per arriving document, the same 60-bit digest and stable
    * hash-shard assignment (Layout.hashShardDigest, shared verbatim),
    * folded into one (n_docs, tot_tok, content_sum) triple per shard
    * by `flatMapGroupsWithState` — state is S rows TOTAL regardless of
    * stream length, because the checksum is a commutative modular sum
    * (the same property that made q188's batch merge addition makes
    * the streaming state O(shards)). Update mode re-emits a shard's
    * receipt only in micro-batches that touched it. The modular fold
    * stays in Long: state < 2^62, digest < 2^60, so the pre-mod sum
    * < 2^63 never overflows. StreamingReceiptSpec binds the drained
    * final receipts bit-for-bit to the monolithic batch recompute
    * (Layout.q188Full) over the same documents. */
  def receiptStream(docs: DataFrame, shards: Int = 16)
      : Dataset[ShardReceipt] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val M = 4611686018427387903L
    graft.queries.Layout.hashShardDigest(docs, shards)
      .select(col("shard"), col("n_tok"), col("h"))
      .as[(Int, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), ShardReceipt](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[(Int, Long, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          var (nd, tt, cs) = state.getOption.getOrElse((0L, 0L, 0L))
          rows.foreach { case (_, n, h) =>
            nd += 1; tt += n; cs = (cs + h) % M
          }
          state.update((nd, tt, cs))
          Iterator(ShardReceipt(shard, nd, tt, cs))
      }
  }

  /** One currently-sampled document as re-emitted by
    * [[prioritySampleStream]] (`ver` is the emitting subgroup's
    * micro-batch version — the drain keeps each subgroup's latest). */
  case class SamplePick(sub: Int, ver: Long, doc_id: Long, source: String,
                        n_chars: Long, priority: Double)

  /** q192's STREAMING face — a weighted sample-without-replacement
    * maintained CONTINUOUSLY over the ingest stream (the classic
    * bounded-space reservoir problem, solved by priority sampling's
    * mergeability: the top-k of a union is the top-k of the per-part
    * top-ks). Each arriving document gets the SAME deterministic
    * priority as the batch query (Curation.priorityExpr, shared
    * verbatim); `flatMapGroupsWithState` keeps a bounded k-entry
    * top-priority buffer per subgroup and re-emits a subgroup's current
    * sample only in micro-batches that touched it.
    *
    * Scale shape: state is `subs`·k entries TOTAL regardless of stream
    * length (the same O(state) argument as [[receiptStream]]); the
    * subgroup split (md5 of doc_id, domain-tagged so it is independent
    * of the priority's md5 word) spreads the per-batch shuffle across
    * `subs` tasks instead of funnelling the whole stream through one
    * key — the drain-side global top-k then merges `subs`·k rows, which
    * is driver-trivial. StreamingSampleSpec binds the drained merge
    * bit-for-bit to batch q192 over the same documents. */
  def prioritySampleStream(docs: DataFrame, k: Int = 300, subs: Int = 8)
      : Dataset[SamplePick] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pri = graft.queries.Curation.priorityExpr(col("doc_id"), col("n_chars"))
    val sub = pmod(conv(substring(md5(concat(lit("sub:"),
        col("doc_id").cast(StringType))), 1, 8), 16, 10).cast(LongType),
      lit(subs.toLong)).cast(IntegerType)
    docs.select(sub.as("sub"), col("doc_id").cast(LongType).as("doc_id"),
        col("source"), col("n_chars").cast(LongType).as("n_chars"),
        pri.as("priority"))
      .as[(Int, Long, String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Seq[(Double, Long, String, Long)]), SamplePick](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (sub: Int, rows: Iterator[(Int, Long, String, Long, Double)],
         state: GroupState[(Long, Seq[(Double, Long, String, Long)])]) =>
          val (ver0, cur) = state.getOption.getOrElse((0L, Seq.empty))
          val merged = (cur ++ rows.map(r => (r._5, r._2, r._3, r._4)))
            .sortBy { case (p, id, _, _) => (-p, id) }.take(k)
          val ver = ver0 + 1L
          state.update((ver, merged))
          merged.iterator.map { case (p, id, src, nc) =>
            SamplePick(sub, ver, id, src, nc, p) }
      }
  }

  /** One (feature, bucket) running count as re-emitted by
    * [[driftStream]] (`ver` is the feature's micro-batch version; the
    * drain keeps each feature's latest emission). */
  case class DriftCount(feature: String, ver: Long, bucket: String,
                        n_cur: Long)

  /** q191's STREAMING face — the drift monitor run AT INGEST: the
    * arriving batch slice's marginal distributions (source / lang /
    * length bin, the SAME 3-way explode as the batch monitor —
    * Audit.featureBuckets, shared verbatim) accumulated continuously,
    * so the PSI gate can fire mid-ingest instead of after a drifted
    * batch has fully landed. State is one bounded bucket→count map per
    * feature (|sources| + |langs| + 10 entries TOTAL — the marginals
    * are the whole point: drift monitoring never needs per-row state);
    * update mode re-emits a feature's counts only in micro-batches
    * that touched it.
    *
    * The emitted ledger is the COUNTS (exact longs) — PSI itself is a
    * pure function of (counts, reference) and stays in the batch
    * kernel, so the drain-equality bind is bit-exact: the drained
    * final counts must equal q191's bucket-row `n_cur` column
    * row-for-row (StreamingDriftSpec), making the stream face and the
    * batch ledger provably the same monitor. */
  def driftStream(docs: DataFrame): Dataset[DriftCount] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(graft.queries.Audit.featureBuckets.as("fb"))
      .select(col("fb.feature"), col("fb.bucket"))
      .as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Map[String, Long]), DriftCount](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (feature: String, rows: Iterator[(String, String)],
         state: GroupState[(Long, Map[String, Long])]) =>
          val (ver0, counts0) = state.getOption.getOrElse((0L, Map.empty[String, Long]))
          var counts = counts0
          rows.foreach { case (_, b) =>
            counts = counts.updated(b, counts.getOrElse(b, 0L) + 1L)
          }
          val ver = ver0 + 1L
          state.update((ver, counts))
          counts.iterator.map { case (b, n) => DriftCount(feature, ver, b, n) }
      }
  }

  /** Batch twin of [[tombstoneGate]] for the drain-equality spec: over
    * the same events stamped with their micro-batch index, a document
    * is admitted iff NO tombstone for its id arrived in an earlier or
    * the SAME batch (the gate's intra-batch tombstone-wins rule). A
    * plain anti join on id alone would be the retroactive semantics —
    * the batch repair's view, not the gate's. */
  def tombstoneGateBatch(evts: DataFrame): DataFrame = {
    val tombs = evts.where(col("tombstone"))
      .groupBy(col("doc_id")).agg(min(col("batch")).as("first_tomb"))
    evts.where(!col("tombstone"))
      .join(broadcast(tombs), Seq("doc_id"), "left_outer")
      .where(col("first_tomb").isNull || col("batch") < col("first_tomb"))
      .select(col("doc_id"), col("tombstone"), col("text"))
  }

  /** One (customer, part) purchase edge arriving at the CF ingest gate. */
  case class CfEdge(c: Long, p: Long)
  /** An edge ADMITTED into a customer's capped standing basket. */
  case class CfAdmit(c: Long, p: Long)

  /** Streaming face of the CF tier's ADMISSION (q244/q247/q250's gate,
    * run AT INGEST): per-customer capped-basket state via
    * flatMapGroupsWithState — each micro-batch, a customer's distinct
    * novel arrivals admit in ascending part order into the basket's
    * remaining room (`cap − |basket|`); admitted edges emit exactly once
    * (append mode), duplicates and over-cap arrivals are dropped and the
    * basket NEVER exceeds `cap` (spec-asserted under multi-batch
    * arrival). State is the basket itself — O(cap) longs per customer,
    * the same table the batch tier persists via DurableState, which is
    * how a deployment hands the stream's state to the batch co-matrix
    * merge. When each customer's batch arrives within one trigger (the
    * at-ingest deployment where a batch IS the trigger), the drained
    * admissions equal q244's batch admission bit-for-bit
    * (StreamingCfSpec); across triggers admission is arrival-ordered —
    * the gate's semantics, like [[tombstoneGate]]'s intra-batch rule.
    *
    * `initial` seeds the standing baskets (the reloaded durable state
    * at boot — q247's restart face feeding the stream). */
  def cfAdmitStream(edges: Dataset[CfEdge],
      initial: org.apache.spark.sql.KeyValueGroupedDataset[Long, Seq[Long]],
      cap: Int): Dataset[CfAdmit] = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.groupByKey(_.c)
      .flatMapGroupsWithState[Seq[Long], CfAdmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout, initial) {
        (c: Long, rows: Iterator[CfEdge], state: GroupState[Seq[Long]]) =>
          val basket = state.getOption.getOrElse(Seq.empty)
          val have = basket.toSet
          val arrivals = rows.map(_.p).toSeq.distinct
            .filterNot(have).sorted
          val admitted = arrivals.take(math.max(0, cap - basket.size))
          if (admitted.nonEmpty) state.update(basket ++ admitted)
          admitted.iterator.map(p => CfAdmit(c, p))
      }
  }
}
