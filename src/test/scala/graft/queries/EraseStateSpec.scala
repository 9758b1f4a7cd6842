package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest
import graft.dedup.Dedup

/** The erasure-over-standing-state tier (q220–q223): each spec proves the
  * REQUEST-SCALE edit of the standing state equals a FROM-SCRATCH rebuild
  * on the erased corpus — q160's `ingest == rebuild` discipline, inverted
  * — and that the fixture makes the erasure OBSERVABLE (non-vacuity: the
  * flags and the delta paths carry weight, they don't just exist).
  */
class EraseStateSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private val dir = SparkTest.sf0001
  private val B = org.apache.spark.sql.graftbridge.Bridge

  // ---- q220: the holder-keyed fingerprint store ----

  test("q220 erased store equals from-scratch store on the erased corpus," +
      " and a bare fp-set store would over-forget") {
    val fp = Dedup.wordSets(spark, dir)
      .select(col("doc_id"), md5(array_join(col("words"), " ")).as("fp"))
    val ledger = fp.where(col("doc_id") % 10 < 7)
    val erased = ledger.where(pmod(col("doc_id"), lit(10L)) === 0L)
      .select(col("doc_id"))
    // the engine's doc-keyed delete, probe face
    val erasedProbe = ledger
      .join(broadcast(erased), Seq("doc_id"), "left_anti")
      .select(col("fp")).distinct().collect().map(_.getString(0)).toSet
    // from-scratch store over the erased corpus
    val scratch = fp
      .where(col("doc_id") % 10 < 7 && pmod(col("doc_id"), lit(10L)) =!= 0L)
      .select(col("fp")).distinct().collect().map(_.getString(0)).toSet
    assert(erasedProbe == scratch,
      "doc-keyed store delete diverges from the from-scratch rebuild")
    // non-vacuity 1: at least one fp is held by BOTH an erased and a
    // surviving doc — the refcount case a bare fp-set store gets wrong
    val holders = ledger
      .groupBy(col("fp"))
      .agg(
        sum(when(pmod(col("doc_id"), lit(10L)) === 0L, 1).otherwise(0))
          .as("gone"),
        sum(when(pmod(col("doc_id"), lit(10L)) === 0L, 0).otherwise(1))
          .as("kept"))
    val shared = holders.where(col("gone") > 0 && col("kept") > 0).count()
    assert(shared > 0,
      "no fp shared between erased and surviving docs — refcount vacuous")
    // the naive fp-SET erase (delete every fp an erased doc held) would
    // forget those shared fps — assert it actually diverges
    val naive = ledger.join(
        ledger.join(broadcast(erased), Seq("doc_id"), "left_semi")
          .select(col("fp")).distinct(),
        Seq("fp"), "left_anti")
      .select(col("fp")).distinct().count()
    assert(naive < scratch.size,
      "fixture cannot distinguish doc-keyed from fp-set erasure")
  }

  test("q220 resurrected flag is load-bearing") {
    val out = Erasure.q220(spark, dir)
    try {
      val rows = out.collect()
      val res = rows.filter(_.getBoolean(3))
      assert(res.nonEmpty, "no resurrected rows — erasure unobservable")
      // every resurrected row's status must NOT be dup_existing: the
      // content it duplicated is forgotten
      assert(res.forall(_.getString(2) != "dup_existing"))
      // and with no erasure (modK that never fires) the same rows must be
      // dup_existing — the suppression was real before the request
      val pre = Erasure.q220(spark, dir, modK = 1000000007L)
      try {
        val preMap = pre.collect()
          .map(r => r.getLong(0) -> r.getString(2)).toMap
        // a resurrected FIRST occurrence (not shadowed by an earlier batch
        // copy) must have been dup_existing pre-erasure and new now
        val firsts = res.filter(_.getString(2) == "new")
        assert(firsts.nonEmpty, "no resurrected first-occurrence rows")
        firsts.foreach { r =>
          assert(preMap(r.getLong(0)) == "dup_existing",
            s"doc ${r.getLong(0)} resurrected but was ${preMap(r.getLong(0))} pre-erasure")
        }
        assert(pre.collect().forall(!_.getBoolean(3)),
          "resurrected fired with an empty erasure request")
      } finally B.unpersistLocalCheckpoint(pre)
    } finally B.unpersistLocalCheckpoint(out)
  }

  // ---- q221: the banded near-dup corpus index ----

  test("q221 erased banded index equals from-scratch banding of the " +
      "erased corpus, and freed is load-bearing") {
    val banded = Dedup.bandedSignatures(
      Dedup.minhashSignatures(Dedup.shingleHashes(spark, dir)))
    val isCorpus = col("doc_id") % 10 < 7
    val corpusBands = banded.where(isCorpus)
    val erased = corpusBands.select(col("doc_id")).distinct()
      .where(pmod(col("doc_id"), lit(10L)) === 0L)
    val edited = corpusBands
      .join(broadcast(erased), Seq("doc_id"), "left_anti")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // banding is per-doc deterministic: banding the erased corpus from
    // scratch must give the identical bucket table
    val scratch = Dedup.bandedSignatures(Dedup.minhashSignatures(
        Dedup.shingleHashes(spark, dir)
          .where(col("doc_id") % 10 < 7 &&
            pmod(col("doc_id"), lit(10L)) =!= 0L)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(edited == scratch,
      "anti-join index delete diverges from from-scratch banding")

    val out = Erasure.q221(spark, dir)
    try {
      val rows = out.collect()
      val freed = rows.filter(_.getBoolean(2))
      assert(freed.nonEmpty, "no freed docs — near-dup erasure unobservable")
      // a freed doc is no longer neardup_corpus (its matches are gone)
      assert(freed.forall(_.getString(1) != "neardup_corpus"))
      // and some batch docs must STILL match surviving corpus content
      assert(rows.exists(_.getString(1) == "neardup_corpus"),
        "erasure wiped every corpus match — still-matched case vacuous")
    } finally B.unpersistLocalCheckpoint(out)
  }

  // ---- q222: the IVF-PQ index ----

  test("q222 erased-then-ingested index equals the monolithic encode of " +
      "the surviving corpus, with no residual erased ids") {
    graft.core.Pins.scope { pins =>
      // the index the shipped q222 probes: the registry's standing index
      // minus the erased ids, union the batch
      val merged = graft.similarity.Pq.q222Index(spark, dir)
      val mono = monolithicIndex(pins)
      val a = merged.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
        .toSet
      val b = mono.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
        .toSet
      assert(a == b, "erase+ingest index != monolithic surviving encode")
      // residual: no erased vec_id anywhere in the index
      assert(!a.exists(t => t._1 % 10 == 0 && t._1 % 10 < 7),
        "erased vec_id survives in the index")
      assert(a.nonEmpty)
    }
    // the full ledgers agree bit-for-bit too
    val l1 = graft.similarity.Pq.q222(spark, dir)
    val l2 = graft.similarity.Pq.q222Monolithic(spark, dir)
    try {
      assert(l1.collect().map(_.toSeq).toSeq ==
        l2.collect().map(_.toSeq).toSeq)
    } finally { B.unpersistLocalCheckpoint(l1); B.unpersistLocalCheckpoint(l2) }
  }

  /** The reference's one-pass encode of the surviving corpus. */
  private def monolithicIndex(pins: graft.core.Pins): DataFrame =
    graft.similarity.Pq.q222MonolithicIndex(pins, spark, dir)._2

  // ---- q223: the rare-gram graph + LPA labels ----

  test("q223 erasure delta equals the from-scratch pair build on the " +
      "erased corpus, shared-counts included, with new pairs appearing") {
    val maxDf = 3; val minShared = 3; val modK = 7L
    val docs = graft.core.Tables(spark, dir, "documents")
    val base = docs.where(col("doc_id") % 10 < 7)
    graft.core.Pins.scope { pins =>
      val basePost = pins.pin(Ranking.gramCountsOf(base)
        .select(col("doc_id"), col("gram")))
      val dfBase = pins.pin(basePost.groupBy(col("gram"))
        .agg(count(lit(1)).as("df_base")))
      val basePairs = pins.pin(GraphRank.rarePairsOf(basePost, maxDf, minShared))
      val erased = pins.pin(base.select(col("doc_id"))
        .where(pmod(col("doc_id"), lit(modK)) === 0L))
      val (ePost, eDf, ePairs) = Erasure.eraseStandingPairs(
        basePost, dfBase, basePairs, erased, maxDf, minShared, pins.pin)
      val got = ePairs.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = GraphRank.rarePairsOf(ePost, maxDf, minShared).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want,
        s"erasure Δ diverges from from-scratch (${got.size} vs ${want.size})")
      assert(got.nonEmpty, "erased graph is empty — fixture degenerate")
      // non-vacuity: the re-eligibility path must ADD at least one pair
      // that the standing state did not have
      val standing = basePairs.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val newPairs = got.map(t => (t._1, t._2)) -- standing
      assert(newPairs.nonEmpty,
        "no pair appeared under erasure — the df-shrink path is vacuous")
      // erased df table matches the from-scratch df of the erased posting
      val gotDf = eDf.collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      val wantDf = ePost.groupBy(col("gram"))
        .agg(count(lit(1)).as("df")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(gotDf == wantDf, "erased df table diverges")
    }
  }

  test("q223 output carries surviving communities only") {
    val out = Erasure.q223(spark, dir)
    try {
      val rows = out.collect()
      assert(rows.nonEmpty)
      // no erased doc appears as a vertex OR as a community label
      def erased(id: Long): Boolean = id % 10 < 7 && id % 7 == 0
      assert(!rows.exists(r => erased(r.getLong(0))),
        "erased doc survives as a vertex")
      assert(!rows.exists(r => erased(r.getLong(1))),
        "erased doc survives as a community label")
    } finally B.unpersistLocalCheckpoint(out)
  }

  // ---- q248: the CF standing state (capped basket + co matrix) ----

  test("q248 decremented co-matrix equals the from-scratch co-matrix of " +
      "the erased baskets; both decrement faces are non-vacuous") {
    val base = Recommend.cappedBaseEdges(spark, dir, 256).localCheckpoint()
    try {
      val erasedC = pmod(col("c"), lit(10L)) === 0L
      // engine-shaped erasure: co_base − (pairs within erased baskets)
      val eBasket = base.where(erasedC)
      val dec = eBasket.as("a").join(eBasket.as("b"),
          col("a.c") === col("b.c") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
        .agg(count(lit(1)).as("dec"))
      val got = Recommend.coMatrixOf(base)
        .join(dec, Seq("p1", "p2"), "left_outer")
        .select(col("p1"), col("p2"),
          (col("co_base") - coalesce(col("dec"), lit(0L))).as("co"))
        .where(col("co") > 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      // from-scratch: the co matrix of the surviving baskets
      val want = Recommend.coMatrixOf(base.where(!erasedC))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got == want,
        s"decrement diverges from from-scratch (${got.size} vs ${want.size})")
      // non-vacuity: pairs fully forgotten AND pairs surviving a decrement
      val before = Recommend.coMatrixOf(base)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
        .toMap
      val after = got.map(t => (t._1, t._2) -> t._3).toMap
      val goneKeys = before.keySet -- after.keySet
      assert(goneKeys.nonEmpty, "no pair fully forgotten — gone vacuous")
      assert(after.exists { case (k, v) => before(k) > v },
        "no pair decremented-but-surviving — refcount face vacuous")
    } finally B.unpersistLocalCheckpoint(base)
  }

  test("q259 erased spill equals the from-scratch erased state; the " +
      "recommitted versions sit on disk; the ledger ties out to q248") {
    val out = Erasure.q259(spark, dir)
    val got = try out.collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      finally B.unpersistLocalCheckpoint(out)
    // cross-query identity: q259's ledger is exactly q248's ingest face
    // (rows the batch touched, with the erased-state merge)
    val q248Rows = Erasure.q248(spark, dir)
    val want = try q248Rows.collect()
        .filter(_.getLong(4) > 0)
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(4), r.getLong(5))).toMap
      finally B.unpersistLocalCheckpoint(q248Rows)
    assert(got == want, s"q259 ${got.size} rows vs q248 ingest face " +
      s"${want.size}")
    // the erased spill equals the from-scratch erased state
    val root = graft.core.DurableState.rootFor(dir)
    val v = graft.core.DurableState
      .latestVersion(root, "cf256erased10").get
    val spBasket = graft.core.DurableState
      .load(spark, root, "cf256erased10", v, "basket")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val spCo = graft.core.DurableState
      .load(spark, root, "cf256erased10", v, "co")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val scratchBase = Recommend.cappedBaseEdges(spark, dir, 256)
      .where(pmod(col("c"), lit(10L)) =!= 0L)
    assert(spBasket == scratchBase.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet,
      "erased basket spill diverges from from-scratch")
    assert(spCo == Recommend.coMatrixOf(scratchBase).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
      "erased co spill diverges from from-scratch")
    // residual-zero on the durable artifact itself
    assert(!spBasket.exists(_._1 % 10 == 0),
      "erased subject row survives in the committed spill")
  }

  test("q248 ledger chains co_before → co_erased → co_after exactly and " +
      "carries the CF resurrection face") {
    val out = Erasure.q248(spark, dir)
    try {
      val rows = out.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      assert(rows.nonEmpty)
      rows.foreach { case (p1, p2, before, erased, delta, after) =>
        assert(p1 < p2, "pair not canonically ordered")
        assert(erased <= before, s"($p1,$p2): erasure increased a count")
        assert(after == erased + delta,
          s"($p1,$p2): merge identity broken ($before→$erased+$delta≠$after)")
        assert(before != erased || delta > 0,
          s"($p1,$p2): untouched pair in the ledger")
      }
      // erasure face: some pair erased to 0 with no rebirth
      assert(rows.exists { case (_, _, b, e, d, _) =>
        b > 0 && e == 0 && d == 0 }, "no pair fully forgotten")
      // resurrection face: some pair erased to 0 and re-born by ingest
      assert(rows.exists { case (_, _, b, e, d, _) =>
        b > 0 && e == 0 && d > 0 },
        "no pair re-born after erasure — resurrection face vacuous")
      // ingest face: some standing pair increments past its erased count
      assert(rows.exists { case (_, _, _, e, d, _) => e > 0 && d > 0 },
        "no surviving pair incremented")
    } finally B.unpersistLocalCheckpoint(out)
  }

  // ---- the erase-commit tier (q260–q264, VERDICT r12 #4): every kind's
  //      erased state persisted as a marker-committed version, served
  //      from the reloaded spill ----

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.toVector
      case x => x
    }).toSet

  private def collectFree(df: DataFrame): Set[Seq[Any]] = {
    val got = rows(df)
    B.freeIfDirectCheckpoint(df)
    got
  }

  test("q260/q261/q262 durable twins equal their in-memory erasure " +
      "queries (restart == continuous) and each committed erased spill " +
      "equals the from-scratch erased state, residual-zero") {
    val root = graft.core.DurableState.rootFor(dir)
    // ---- fp store ----
    val q260 = collectFree(Erasure.q260(spark, dir))
    val q220 = collectFree(Erasure.q220(spark, dir))
    assert(q260.nonEmpty && q260 == q220,
      s"q260 diverges from q220 (${q260.size} vs ${q220.size})")
    val fpEV = graft.core.DurableState
      .latestVersion(root, "fpstore-erased10").get
    val fpSpill = rows(graft.core.DurableState
      .load(spark, root, "fpstore-erased10", fpEV, "ledger"))
    val fpScratch = rows(Dedup.wordSets(spark, dir)
      .select(col("doc_id"), md5(array_join(col("words"), " ")).as("fp"))
      .where(col("doc_id") % 10 < 7 &&
        pmod(col("doc_id"), lit(10L)) =!= 0L))
    assert(fpSpill == fpScratch,
      "committed erased fp spill diverges from from-scratch")
    assert(!fpSpill.exists(r => r.head.asInstanceOf[Long] % 10 == 0),
      "erased subject row survives in the committed fp spill")
    // ---- banded index ----
    val q261 = collectFree(Erasure.q261(spark, dir))
    val q221 = collectFree(Erasure.q221(spark, dir))
    assert(q261.nonEmpty && q261 == q221,
      s"q261 diverges from q221 (${q261.size} vs ${q221.size})")
    val bdEV = graft.core.DurableState
      .latestVersion(root, "bandindex-erased10").get
    val bdSpill = rows(graft.core.DurableState
      .load(spark, root, "bandindex-erased10", bdEV, "bands"))
    val bdScratch = rows(Dedup.bandedSignatures(
        Dedup.minhashSignatures(Dedup.shingleHashes(spark, dir)))
      .where(col("doc_id") % 10 < 7 &&
        pmod(col("doc_id"), lit(10L)) =!= 0L))
    assert(bdSpill == bdScratch,
      "committed erased band spill diverges from from-scratch banding")
    // ---- graph ----
    val q262 = collectFree(Erasure.q262(spark, dir))
    val q223 = collectFree(Erasure.q223(spark, dir))
    assert(q262.nonEmpty && q262 == q223,
      s"q262 diverges from q223 (${q262.size} vs ${q223.size})")
    val gEV = graft.core.DurableState
      .latestVersion(root, "graph3-3-5-erased7").get
    def gld(t: String) = graft.core.DurableState
      .load(spark, root, "graph3-3-5-erased7", gEV, t)
    val survPost = GraphRank.graphStanding(spark, dir, 3, 3)._1
      .where(pmod(col("doc_id"), lit(7L)) =!= 0L)
    assert(rows(gld("pairs")) ==
      rows(GraphRank.rarePairsOf(survPost, 3, 3)),
      "committed erased pair spill diverges from the from-scratch build")
    assert(gld("postings")
      .where(pmod(col("doc_id"), lit(7L)) === 0L).count() == 0 &&
      gld("labels").where(pmod(col("doc_id"), lit(7L)) === 0L ||
        pmod(col("label"), lit(7L)) === 0L).count() == 0,
      "erased subject id survives in the committed graph spill")
  }

  test("q263 erased+re-ingested index from the committed spills equals " +
      "the monolithic one-pass encode of the surviving corpus") {
    val got = rows(graft.similarity.Pq.q263Index(spark, dir))
    val want = graft.core.Pins.scope(pins =>
      rows(monolithicIndex(pins)))
    assert(got.nonEmpty && got == want,
      s"q263 index ${got.size} rows vs monolithic ${want.size}")
    assert(!got.exists(r => r.head.asInstanceOf[Long] % 10 == 0),
      "erased subject row survives in the served index")
  }

  test("q264 certificate is internally consistent: before − removed == " +
      "after per kind, residuals zero over the committed spills") {
    val out = Erasure.q264(spark, dir)
    val m = out.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    B.freeIfDirectCheckpoint(out)
    assert(m.nonEmpty)
    Seq("fp_store", "band_index", "ivfpq_codes").foreach { k =>
      assert(m((k, "rows_before")) - m((k, "rows_removed")) ==
        m((k, "rows_after")), s"$k accounting broken")
      assert(m((k, "rows_removed")) > 0, s"$k erasure vacuous")
    }
    assert(m(("cf_state", "edges_before")) -
      m(("cf_state", "edges_removed")) == m(("cf_state", "edges_after")))
    assert(m(("graph", "pairs_before")) != m(("graph", "pairs_after")) ||
      m(("graph", "postings_before")) != m(("graph", "postings_after")),
      "graph erasure left no trace — vacuous")
    m.keys.filter(_._2 == "residual_subject_rows").foreach { k =>
      assert(m(k) == 0L, s"$k residual non-zero: ${m(k)}")
    }
  }

  test("q265 conditional-commit chain: the stale ingest cannot " +
      "resurrect the erased subjects' PRE-ERASURE baskets — subjects " +
      "hold only batch-A re-admissions (the q248 re-ingest semantics), " +
      "never their erased base rows") {
    // running the query at all proves the conflict FIRED (q265 throws
    // if the stale persistAllIf is accepted); here we bind the DURABLE
    // outcome. Subjects MAY reappear — new activity after an erasure is
    // new data (q248's resurrection-on-ingest semantics) — but only
    // from the batch-A slice the retry re-admitted against the ERASED
    // state. A lost update would instead publish the stale merge:
    // pre-erasure subject baskets (built from the %10<5 base slice)
    // back in full.
    val out = Recommend.q265(spark, dir)
    val rows = out.count()
    B.freeIfDirectCheckpoint(out)
    assert(rows > 0, "CAS chain ledger empty — vacuous")
    val root = graft.core.DurableState.rootFor(dir)
    val vs = graft.core.DurableState.committedVersions(root, "cfcas256")
    val v3 = vs.last
    val basket3 = graft.core.DurableState.load(spark, root, "cfcas256",
      v3, "basket")
    val subj3 = basket3.where(pmod(col("c"), lit(10L)) === 0L)
      .localCheckpoint()
    val batchA = spark.read.parquet(s"$dir/orders.parquet")
      .join(spark.read.parquet(s"$dir/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .where(col("o_orderkey") % 10 >= 5 && col("o_orderkey") % 10 < 7)
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct().localCheckpoint()
    try {
      // every subject row the chain serves came from batch A — nothing
      // from the erased pre-erasure baskets leaked through
      val leaked = subj3.join(batchA, Seq("c", "p"), "left_anti").count()
      assert(leaked == 0L,
        s"$leaked subject rows outside batch A — the erased base leaked")
      // non-vacuity: the two worlds actually differ — the pre-erasure
      // subject baskets (chain v1) contain rows batch A does NOT, so a
      // lost update could not have passed the assertion above
      val basket1 = graft.core.DurableState.load(spark, root, "cfcas256",
        vs.head, "basket")
      val distinguishing = basket1
        .where(pmod(col("c"), lit(10L)) === 0L)
        .join(batchA, Seq("c", "p"), "left_anti").count()
      assert(distinguishing > 0L,
        "pre-erasure subject baskets ⊆ batch A — fixture cannot " +
          "distinguish the lost-update world")
      assert(subj3.count() > 0L,
        "no subject re-admitted from batch A — re-ingest face vacuous")
    } finally {
      B.unpersistLocalCheckpoint(subj3)
      B.unpersistLocalCheckpoint(batchA)
    }
  }
}
