package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest
import graft.core.DurableState
import graft.dedup.Dedup

/** The DURABLE face of the standing-state tier (VERDICT r11 #2): every
  * StandingState kind spills to [[DurableState]]'s versioned parquet
  * layout, reloads as a lineage-free scan, and the reloaded state is
  * indistinguishable from the continuous run — q160's `ingest == rebuild`
  * discipline, third face: `restart == continuous`. Plus the commit
  * protocol itself: a dead writer's uncommitted orphan is invisible to
  * readers (the reference's recovery-by-reassignment, coordinator.go:87-107,
  * lifted from tasks to state) and retention prunes old versions.
  */
class DurableStateSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private val dir = SparkTest.sf0001
  private val B = org.apache.spark.sql.graftbridge.Bridge

  private def freshRoot(tag: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"),
      s"graft-durable-spec-$tag-${System.nanoTime()}")
    p.toString
  }

  private def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(rowKey).toSet

  private def rowKey(r: Row): Seq[Any] =
    r.toSeq.map {
      case a: scala.collection.Seq[_] => a.toVector
      case x => x
    }

  /** Round-trip: spill → reload → row-multiset equality with the source
    * (sizes first so a dup/loss cannot cancel in the set compare). */
  private def assertRoundTrip(src: DataFrame, reloaded: DataFrame,
      what: String): Unit = {
    assert(reloaded.count() == src.count(), s"$what: row count drifted")
    assert(rowSet(reloaded) == rowSet(src), s"$what: content drifted")
  }

  // ---- the commit protocol itself ----

  test("a dead writer's uncommitted orphan version is invisible; the " +
      "next spill claims a HIGHER slot (never tears the orphan — it " +
      "could be a live writer's in-flight claim); retention prunes " +
      "committed versions only") {
    val root = freshRoot("proto")
    val df1 = spark.range(5).select(col("id"), (col("id") * 2).as("v"))
    val v1 = DurableState.persistAll(root, "k", Seq("t" -> df1))
    assert(v1 == 1L)
    // plant the orphan: data present, no _COMMITTED marker (a writer
    // that died mid-spill — or one still writing)
    val orphan = Paths.get(root, "k", "v000002")
    spark.range(99).write.parquet(orphan.resolve("t").toString)
    assert(DurableState.latestVersion(root, "k").contains(1L),
      "reader saw an uncommitted version")
    assertRoundTrip(df1, DurableState.load(spark, root, "k", 1L, "t"),
      "v1 under orphan")
    // the next spill must NOT reuse or delete the claimed slot — it
    // claims the next free one (the cross-process safety rule: an
    // unmarked dir might be an in-flight writer)
    val df2 = spark.range(7).select(col("id"), (col("id") * 3).as("v"))
    val v2 = DurableState.persistAll(root, "k", Seq("t" -> df2))
    assert(v2 == 3L, s"expected the orphan's slot to stay claimed; got v$v2")
    assert(Files.exists(orphan.resolve("t")),
      "a writer tore another writer's unmarked dir")
    assertRoundTrip(df2, DurableState.load(spark, root, "k", 3L, "t"),
      "post-orphan commit")
    assert(DurableState.latestVersion(root, "k").contains(3L))
    // retention: after 3 more commits only the newest 3 committed
    // survive; the unmarked orphan is never swept by the writers
    (1 to 3).foreach { i =>
      DurableState.persistAll(root, "k",
        Seq("t" -> spark.range(i).toDF("id")))
    }
    assert(DurableState.committedVersions(root, "k") == Seq(4L, 5L, 6L))
    assert(!Files.exists(Paths.get(root, "k", "v000001")),
      "pruned version dir still on disk")
    assert(Files.exists(orphan), "retention swept an unmarked dir")
  }

  test("a load of a committed version starts no Spark job and reads " +
      "the schema Spark's inference gives") {
    val root = freshRoot("load")
    val df = spark.range(40).repartition(3).select(col("id"),
      (col("id") * 0.5).as("x"), array(col("id").cast("double")).as("v"))
    val v = DurableState.persistAll(root, "k", Seq("t" -> df))
    val run = graft.PlanCapture.during(spark)(
      DurableState.load(spark, root, "k", v, "t"))
    assert(run.jobs == 0, s"load started ${run.jobs} jobs")
    val tableDir = Files.list(Paths.get(root, "k"))
      .filter(p => Files.isDirectory(p.resolve("t"))).findFirst().get
      .resolve("t").toString
    assert(run.value.schema == spark.read.parquet(tableDir).schema)
    assertRoundTrip(df, run.value, "footer-schema load")
  }

  test("two writers racing persistAll claim DISTINCT versions and each " +
      "committed version is internally consistent — never a mix of two " +
      "writers' tables (VERDICT r12 #1)") {
    val root = freshRoot("race")
    // each writer spills two tables stamped with its writer id; a mixed
    // publish would commit a version whose t/u stamps disagree
    def tablesFor(w: Int): Seq[(String, DataFrame)] = Seq(
      "t" -> spark.range(50).select(col("id"), lit(w).as("writer")),
      "u" -> spark.range(20).select(col("id"), lit(w).as("writer")))
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val writers = 6
    val pool = Executors.newFixedThreadPool(writers)
    val gate = new CountDownLatch(1)
    val futs = (1 to writers).map { w =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          gate.await()
          DurableState.persistAll(root, "k", tablesFor(w))
        }
      })
    }
    gate.countDown()
    val versions = futs.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(versions.toSet.size == writers,
      s"writers shared a version: $versions")
    // every committed version that survived retention holds exactly ONE
    // writer's tables, t and u agreeing
    DurableState.committedVersions(root, "k").foreach { v =>
      val tw = DurableState.load(spark, root, "k", v, "t")
        .select(col("writer")).distinct().collect().map(_.getInt(0)).toSeq
      val uw = DurableState.load(spark, root, "k", v, "u")
        .select(col("writer")).distinct().collect().map(_.getInt(0)).toSeq
      assert(tw.size == 1 && uw == tw,
        s"v$v published a mix of writers: t=$tw u=$uw")
    }
    assert(DurableState.committedVersions(root, "k").size == 3,
      "retention did not hold under the race")
  }

  test("conditional commit (persistAllIf) rejects a stale base under " +
      "the commit lock and publishes NOTHING — the winner's state stays " +
      "latest (the erasure-vs-ingest lost update)") {
    val root = freshRoot("cas")
    val v1 = DurableState.persistAll(root, "k",
      Seq("t" -> spark.range(3).toDF("id")))
    // writer E derived from v1 commits first (the erasure analog)
    val v2 = DurableState.persistAllIf(root, "k", Some(v1),
      Seq("t" -> spark.range(2).toDF("id")))
    assert(v2 > v1)
    // the stale writer (also derived from v1) must LOSE, atomically
    val thrown = intercept[graft.core.CommitConflictException] {
      DurableState.persistAllIf(root, "k", Some(v1),
        Seq("t" -> spark.range(99).toDF("id")))
    }
    assert(thrown.expectedBase.contains(v1) && thrown.actual.contains(v2))
    assert(DurableState.latestVersion(root, "k").contains(v2),
      "stale commit moved latest")
    assertRoundTrip(spark.range(2).toDF("id"),
      DurableState.load(spark, root, "k", v2, "t"),
      "winner's state after the rejected commit")
    // the loser's spill was removed unmarked — no orphan growth from
    // conflicts, and no marker-less debris a sweeper would have to age
    assert(DurableState.committedVersions(root, "k") == Seq(v1, v2))
    val kindDir = Paths.get(root, "k")
    val leftover = Files.list(kindDir)
    try {
      import scala.jdk.CollectionConverters._
      val dirs = leftover.iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("v")).toSet
      assert(dirs == Set(f"v$v1%06d", f"v$v2%06d"),
        s"conflicted spill left debris: $dirs")
    } finally leftover.close()
    // expectedBase = None means "kind must still be empty" — create race
    val fresh = freshRoot("cas0")
    val c1 = DurableState.persistAllIf(fresh, "k", None,
      Seq("t" -> spark.range(1).toDF("id")))
    assert(c1 == 1L)
    intercept[graft.core.CommitConflictException] {
      DurableState.persistAllIf(fresh, "k", None,
        Seq("t" -> spark.range(1).toDF("id")))
    }
  }

  test("racing read-modify-write writers under commitWithRetry lose no " +
      "update: N increment writers -> final counter N, versions linear") {
    val root = freshRoot("rmw")
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val writers = 6
    val pool = Executors.newFixedThreadPool(writers)
    val gate = new CountDownLatch(1)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val futs = (1 to writers).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          gate.await()
          DurableState.commitWithRetry(maxAttempts = 64) {
            val base = DurableState.latestVersion(root, "ctr")
            // read the base value driver-side so the spill has no
            // lineage back to a version retention might prune mid-race
            val cur = base.map(v =>
              DurableState.load(spark, root, "ctr", v, "t")
                .collect()(0).getLong(0)).getOrElse(0L)
            try DurableState.persistAllIf(root, "ctr", base,
              Seq("t" -> spark.range(1).select(lit(cur + 1L).as("n"))))
            catch { case c: graft.core.CommitConflictException =>
              conflicts.incrementAndGet(); throw c }
          }
        }
      })
    }
    gate.countDown()
    val versions = futs.map(_.get(180, TimeUnit.SECONDS))
    pool.shutdown()
    assert(versions.toSet.size == writers, s"shared versions: $versions")
    val finalV = DurableState.latestVersion(root, "ctr").get
    val finalN = DurableState.load(spark, root, "ctr", finalV, "t")
      .collect()(0).getLong(0)
    assert(finalN == writers.toLong,
      s"lost update: counter $finalN after $writers increments " +
        s"(${conflicts.get()} conflicts retried)")
  }

  test("sweepOrphans reclaims DEAD writers' unmarked dirs only: the " +
      "liveness lock protects an in-flight claim, committed versions " +
      "and fresh claims are never touched") {
    val root = freshRoot("sweep")
    val v1 = DurableState.persistAll(root, "k",
      Seq("t" -> spark.range(3).toDF("id")))
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600 * 1000L)
    // dead orphan: claimed, data written, no marker, claimant gone
    val orphan = Paths.get(root, "k", "v000002")
    spark.range(9).write.parquet(orphan.resolve("t").toString)
    Files.setLastModifiedTime(orphan, old)
    // live claim: old enough to be a sweep candidate, but the writer
    // (this thread) still holds the liveness lock
    val live = Paths.get(root, "k", "v000003")
    Files.createDirectory(live)
    val ch = java.nio.channels.FileChannel.open(live.resolve(".claim.lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val lk = ch.lock()
    Files.setLastModifiedTime(live, old)
    // fresh orphan: unmarked and unlocked but inside the grace window
    val freshClaim = Paths.get(root, "k", "v000004")
    Files.createDirectory(freshClaim)
    try {
      val swept = DurableState.sweepOrphans(root, "k", graceMs = 60000L)
      assert(swept == 1, s"swept $swept, expected the one dead orphan")
      assert(!Files.exists(orphan), "dead orphan survived the sweep")
      assert(Files.exists(live), "swept a LIVE writer's claim")
      assert(Files.exists(freshClaim), "swept inside the grace window")
      assert(DurableState.latestVersion(root, "k").contains(v1),
        "sweep disturbed committed state")
    } finally { lk.release(); ch.close() }
    // the claimant died (lock released): now reclaimable
    val swept2 = DurableState.sweepOrphans(root, "k", graceMs = 60000L)
    assert(swept2 == 1 && !Files.exists(live),
      "released claim not reclaimed")
    // committed state still intact after both sweeps
    assertRoundTrip(spark.range(3).toDF("id"),
      DurableState.load(spark, root, "k", v1, "t"), "post-sweep commit")
  }

  test("versions past v999999 stay visible: the 6-digit zero-pad grows " +
      "to 7 digits and readers still resolve them (ADVICE r12)") {
    val root = freshRoot("wide")
    // plant a committed 7-digit-era version by hand
    val wide = Paths.get(root, "k", "v1000000")
    spark.range(3).toDF("id").write.parquet(wide.resolve("t").toString)
    Files.createFile(wide.resolve("_COMMITTED"))
    assert(DurableState.latestVersion(root, "k").contains(1000000L),
      "reader blind past 6 digits")
    val v = DurableState.persistAll(root, "k",
      Seq("t" -> spark.range(4).toDF("id")))
    assert(v == 1000001L)
    assert(DurableState.latestVersion(root, "k").contains(1000001L))
    assertRoundTrip(spark.range(4).toDF("id"),
      DurableState.load(spark, root, "k", v, "t"), "7-digit version")
  }

  test("rootFor keys on a digest, not String.hashCode: known hashCode-" +
      "colliding dirs get distinct roots (ADVICE r12)") {
    assert("Aa".hashCode == "BB".hashCode) // the classic collision pair
    assert(DurableState.rootFor("Aa") != DurableState.rootFor("BB"),
      "two datasets share a version stream")
  }

  // ---- tier 1: capped CF basket + co-matrix (q244/q247) ----

  test("CF tier: restart (q247, reloaded parquet) equals continuous " +
      "(q244, process pins), and the spilled frames round-trip") {
    val continuous = Recommend.q244(spark, dir)
    val restart = Recommend.q247(spark, dir)
    try assertRoundTrip(continuous, restart, "CF ledger")
    finally { B.freeIfDirectCheckpoint(continuous)
      B.freeIfDirectCheckpoint(restart) }
    // the spilled standing frames equal the builder's DAGs
    val root = DurableState.rootFor(dir)
    val v = DurableState.latestVersion(root, "cf256").get
    assertRoundTrip(Recommend.cappedBaseEdges(spark, dir, 256),
      DurableState.load(spark, root, "cf256", v, "basket"), "CF basket")
    assertRoundTrip(
      Recommend.coMatrixOf(Recommend.cappedBaseEdges(spark, dir, 256)),
      DurableState.load(spark, root, "cf256", v, "co"), "CF co-matrix")
  }

  test("graph tier: restart (q249, reloaded parquet) equals continuous " +
      "(q218, process pins)") {
    val continuous = GraphRank.q218(spark, dir)
    val restart = GraphRank.q249(spark, dir)
    try assertRoundTrip(continuous, restart, "LPA ingest output")
    finally { B.freeIfDirectCheckpoint(continuous)
      B.freeIfDirectCheckpoint(restart) }
  }

  /** Driver replay of q250's two-stage CHAIN-ORDERED admission: batch A
    * fills room against the old base's capped baskets, batch B against
    * the merged baskets; ledger = batch-B-touched pairs over the final
    * admitted set. */
  private def chainReplay(cap: Int): Map[(Long, Long), (Long, Long)] = {
    val raw = spark.read.parquet(s"$dir/orders.parquet")
      .join(spark.read.parquet(s"$dir/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .select("o_orderkey", "o_custkey", "l_partkey").collect()
      .map(r => (r.getLong(0) % 10, r.getLong(1), r.getLong(2)))
    def slice(f: Long => Boolean): Set[(Long, Long)] =
      raw.filter(t => f(t._1)).map(t => (t._2, t._3)).toSet
    def admit(standing: Set[(Long, Long)], batch: Set[(Long, Long)])
        : Set[(Long, Long)] = {
      val szOf = standing.groupBy(_._1).map { case (c, es) => c -> es.size }
      (batch -- standing).groupBy(_._1).toSeq.flatMap { case (c, es) =>
        es.map(_._2).toSeq.sorted
          .take(math.max(0, cap - szOf.getOrElse(c, 0)))
          .map(p => (c, p)) }.toSet
    }
    val cb = slice(_ < 5).groupBy(_._1).toSeq.flatMap { case (c, es) =>
      es.map(_._2).toSeq.sorted.take(cap).map(p => (c, p)) }.toSet
    val s1 = cb ++ admit(cb, slice(m => m >= 5 && m < 7))
    val nB = admit(s1, slice(_ >= 7))
    val adm = s1 ++ nB
    val want = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    adm.groupBy(_._1).foreach { case (c, basket) =>
      val ps = basket.map(_._2).toSeq.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) {
        val touched = nB((c, ps(i))) || nB((c, ps(j)))
        val k = (ps(i), ps(j))
        val (d0, f0) = want.getOrElse(k, (0L, 0L))
        want(k) = (d0 + (if (touched) 1L else 0L), f0 + 1L)
      }
    }
    want.filter(_._2._1 > 0).toMap
  }

  private def ledgerOf(df: DataFrame): Map[(Long, Long), (Long, Long)] = {
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    B.freeIfDirectCheckpoint(df)
    got
  }

  test("CF chain (q250): two committed versions on disk; the chained " +
      "ledger equals q244 under a slack cap and the chain-ordered " +
      "replay under a binding cap") {
    // slack cap: the three-slice chain collapses to q244's two-slice
    // split (s1 == the full %10<7 edge set), so the ledgers must agree
    val slackChain = ledgerOf(Recommend.q250(spark, dir))
    val q244Ledger = ledgerOf(Recommend.q244(spark, dir))
    assert(slackChain == q244Ledger,
      "slack-cap chain diverges from the single-ingest split")
    // both chain versions committed on disk
    val vs = DurableState.committedVersions(
      DurableState.rootFor(dir), "cfchain256")
    assert(vs.size >= 2, s"chain left ${vs.size} committed versions")
    // binding cap: chain-ordered admission, replayed driver-side
    val cap = 16
    val got = ledgerOf(Recommend.q250(spark, dir, cap))
    val want = chainReplay(cap)
    assert(got.nonEmpty, "binding chain admitted nothing — vacuous")
    assert(got.keySet == want.keySet)
    want.foreach { case (k, w) =>
      assert(got(k) == w, s"pair $k: ${got(k)} vs $w") }
    // and the chain ORDER matters at this cap: stage-A edges occupied
    // room that q244's one-shot admission would have granted to B —
    // assert the two ledgers differ, so the test cannot silently pass
    // on order-free semantics
    val oneShot = ledgerOf(Recommend.q244(spark, dir, cap))
    assert(got != oneShot,
      "binding chain indistinguishable from one-shot admission")
  }

  // ---- tier 2: the holder-keyed fingerprint store (q220) ----

  test("fp store spills and reloads; reload-then-probe equals the " +
      "continuous probe face") {
    val root = freshRoot("fp")
    val fp = Dedup.wordSets(spark, dir)
      .select(col("doc_id"), md5(array_join(col("words"), " ")).as("fp"))
    val ledger = fp.where(col("doc_id") % 10 < 7)
    val v = DurableState.persistAll(root, "fp", Seq("ledger" -> ledger))
    val reloaded = DurableState.load(spark, root, "fp", v, "ledger")
    assertRoundTrip(ledger, reloaded, "fp ledger")
    // the ingest probe face (distinct fp) from the reloaded state
    assertRoundTrip(ledger.select(col("fp")).distinct(),
      reloaded.select(col("fp")).distinct(), "fp probe face")
  }

  // ---- tier 3: the banded minhash corpus index (q221) ----

  test("banded index spills and reloads losslessly") {
    val root = freshRoot("band")
    val bands = Dedup.bandedSignatures(
        Dedup.minhashSignatures(Dedup.shingleHashes(spark, dir)))
      .where(col("doc_id") % 10 < 7)
    val v = DurableState.persistAll(root, "band", Seq("bands" -> bands))
    assertRoundTrip(bands,
      DurableState.load(spark, root, "band", v, "bands"), "band index")
  }

  // ---- tier 4: gram postings + df + pairs + LPA labels (q218/q223) ----

  test("graph tier spills and reloads; the q218 ingest delta over the " +
      "RELOADED state equals the delta over the process pins") {
    val root = freshRoot("graph")
    val (basePost, dfBase, basePairs) =
      GraphRank.graphStanding(spark, dir, 3, 3)
    val labels = GraphRank.lpaStanding(spark, dir, 5, 3, 3)
    val v = DurableState.persistAll(root, "graph", Seq(
      "postings" -> basePost, "df" -> dfBase, "pairs" -> basePairs,
      "labels" -> labels))
    val rPost = DurableState.load(spark, root, "graph", v, "postings")
    val rDf = DurableState.load(spark, root, "graph", v, "df")
    val rPairs = DurableState.load(spark, root, "graph", v, "pairs")
    val rLabels = DurableState.load(spark, root, "graph", v, "labels")
    assertRoundTrip(basePost, rPost, "postings")
    assertRoundTrip(dfBase, rDf, "gram df")
    assertRoundTrip(basePairs, rPairs, "pairs")
    assertRoundTrip(labels, rLabels, "LPA labels")
    // restart == continuous on the INGEST leg: the q218 delta-pair
    // assembly from reloaded frames must equal the pinned-frame one
    val batchPost = Ranking.gramCountsOf(
        graft.core.Tables(spark, dir, "documents")
          .where(col("doc_id") % 10 >= 7))
      .select(col("doc_id"), col("gram")).localCheckpoint()
    try {
      val contin = GraphRank.deltaFullPairs(basePost, dfBase, basePairs,
        batchPost, 3, 3)
      val restart = GraphRank.deltaFullPairs(rPost, rDf, rPairs,
        batchPost, 3, 3)
      assert(contin.count() > 0, "ingest delta vacuous at maxDf=3")
      assertRoundTrip(contin, restart, "ingest delta")
    } finally B.unpersistLocalCheckpoint(batchPost)
  }

  // ---- tier 5: IVF-PQ model + codebook + encoded standing index ----

  test("IVF-PQ tier spills and reloads; encoding a batch against the " +
      "RELOADED codebook equals encoding against the pinned one") {
    val root = freshRoot("pq")
    val st = graft.similarity.Pq.pqStanding(spark, dir, 8, 16, 3, 10)
    val v = DurableState.persistAll(root, "pq", Seq(
      "model" -> st.ivf.model, "codebook" -> st.ivf.codebook,
      "codes" -> st.standing))
    val rModel = DurableState.load(spark, root, "pq", v, "model")
    val rCodebook = DurableState.load(spark, root, "pq", v, "codebook")
    val rCodes = DurableState.load(spark, root, "pq", v, "codes")
    assertRoundTrip(st.ivf.model, rModel, "kmeans model")
    assertRoundTrip(st.ivf.codebook, rCodebook, "codebook")
    assertRoundTrip(st.standing, rCodes, "standing codes")
    // ingest face: the batch encode is a pure function of the codebook,
    // and parquet round-trips doubles bit-exactly — prove it end to end
    val batch = st.ivf.corpus
      .where(pmod(col("vec_id"), lit(10L)) >= 7L).limit(20)
    val contin = graft.similarity.Pq.encodeCodes(batch, st.ivf.codebook, 8,
      st.ivf.sub)
    val restart = graft.similarity.Pq.encodeCodes(batch, rCodebook, 8,
      st.ivf.sub)
    assert(contin.count() > 0, "empty encode batch — face vacuous")
    assertRoundTrip(contin, restart, "batch encode")
  }
}
