package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import graft.core.{Pins, Tables}

/** Recommendation / affinity operators over the retail star schema —
  * the workload class (item-item collaborative filtering, Sarwar et al.
  * 2001 WWW; Linden et al. 2003 IEEE IC, "Amazon.com recommendations" —
  * public literature) that turns the same purchase bipartite graph the
  * graph tier ranks (q226) into a per-item neighbor list.
  */
object Recommend {
  import Tables.{apply => t}

  /** q241 — ITEM-ITEM co-purchase cosine affinity, top-3 neighbors per
    * part: two parts are similar when the same customers buy both,
    * normalized by each part's customer count — `cos = co/√(n₁·n₂)`
    * over the distinct (customer, part) relation.
    *
    * Scale shape: pair generation is a customer-keyed self-join of the
    * per-customer basket, so its cost is Σ basket² — bounded
    * STRUCTURALLY by capping each basket at 256 parts (deterministic:
    * the lowest part keys; a power-account with 10⁶ order lines
    * otherwise contributes 10¹² pairs). The cap is the declared
    * estimator at scale; RecommendSpec asserts it does NOT bind on the
    * fixtures, so the oracle (which replicates the cap) is exact
    * end-to-end here. Counts are exact integers; the cosine divides
    * once per pair; the per-part top-3 is a rank window PARTITIONED by
    * part (never global). */
  def q241(spark: SparkSession, dir: String, cap: Int = 256, k: Int = 3)
      : DataFrame = Pins.result { pins =>
    val edges = t(spark, dir, "orders")
      .join(t(spark, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
    val capped = pins.own(org.apache.spark.sql.graftbridge.Bridge
      .checkpointPartitioned(edges
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("c")).orderBy(col("p"))))
        .where(col("rn") <= cap)
        .select(col("c"), col("p")),
        Seq("c"), Seq("c", "p"))) // pair join + part counts share one
                                  // derivation, pinned in self-join layout
    val n = capped.groupBy(col("p")).agg(count(lit(1)).as("n"))
    val co = capped.as("a").join(capped.as("b"),
        col("a.c") === col("b.c") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
      .agg(count(lit(1)).as("co"))
    val sym = co.select(col("p1").as("part"), col("p2").as("other"),
        col("co"))
      .union(co.select(col("p2").as("part"), col("p1").as("other"),
        col("co")))
    val scored = sym
      .join(n.select(col("p").as("part"), col("n").as("n1")), Seq("part"))
      .join(n.select(col("p").as("other"), col("n").as("n2")), Seq("other"))
      .select(col("part"), col("other"), col("co"),
        round(col("co").cast(DoubleType) /
          sqrt(col("n1").cast(DoubleType) * col("n2").cast(DoubleType)),
          6).as("cosine"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("part"))
          .orderBy(col("cosine").desc, col("co").desc, col("other"))))
      .where(col("rank") <= k)
      .select(col("part"), col("rank").cast(IntegerType), col("other"),
        col("co"), col("cosine"))
      .orderBy(col("part"), col("rank"))
  }

  /** q244 — INCREMENTAL item-CF ingest (the q106/q160/q177 standing-
    * state posture on the recommendation tier): a batch of new orders
    * (o_orderkey % 10 ≥ 7) arrives against the standing co-occurrence
    * matrix built from the base orders. The per-ingest work is
    * BATCH-SCALE by construction:
    *
    *  - the batch's distinct (customer, part) edges ANTI-probe the
    *    standing edge set — only NOVEL edges (a customer's first
    *    purchase of that part) can change any pair count (the q90
    *    fp-probe shape);
    *  - delta pairs are novel×standing (same customer) and novel×novel
    *    — never a corpus-wide pair rebuild;
    *  - the standing co matrix is touched only by a pair-keyed join on
    *    the delta's pairs.
    *
    * Output: the CHANGE ledger — every pair whose count moved, with
    * `delta_co` and `co_after`. Because novel∪base pair counting is an
    * exact identity (a pair's full count splits into both-base +
    * ≥1-novel), the merged `co_after` EQUALS the monolithic full-data
    * count — the DuckDB oracle computes it the monolithic way, and
    * RecommendSpec binds the two forms row-for-row with the base side
    * also replayed. (The standing basket and co matrix are PROCESS-
    * PINNED via [[cfStanding]] — the q160/q218 registry discipline;
    * q247 is their durable face — so each invocation pays only the
    * ingest leg.)
    *
    * Scale cap (q241's, applied to EVERY pair leg): the standing basket
    * keeps each customer's `cap` lowest part keys, and novel edges are
    * ADMITTED only into the remaining room (per customer, lowest novel
    * part keys first — admission, not eviction, so the delta stays
    * purely additive and the standing co counts never decrement on
    * ingest). Per-customer pair work is then bounded structurally at
    * cap²: the standing build at cap²/2, novel×standing at cap², and
    * novel×novel at cap²/2 — a power-account with 10⁶ order lines
    * contributes ≤ 256² pairs per leg instead of 10¹². The oracle
    * replicates the cap (capped base + room-capped admission, then
    * monolithic counting over the admitted set); RecommendSpec asserts
    * the cap is SLACK on the fixtures (so the oracle equality is exact
    * end-to-end) and separately binds a small-cap run (cap = 4, which
    * BINDS on the fixture) against a driver replay of the capped
    * semantics — the estimator's declared behavior, not just its slack
    * case. */
  def q244(spark: SparkSession, dir: String, cap: Int = 256): DataFrame = {
    // standing state (persisted between ingests at scale; q247 is the
    // durable face of exactly these two frames) — process-pinned
    val (base, coBase) = cfStanding(spark, dir, cap)
    Pins.result(pins => ingestLedger(pins, spark, dir, base, coBase, cap))
  }

  /** The distinct (customer, part) purchase edges of an orders slice. */
  private def edgesOf(spark: SparkSession, dir: String,
      ordersFilter: org.apache.spark.sql.Column): DataFrame =
    t(spark, dir, "orders").where(ordersFilter)
      .join(t(spark, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()

  /** The CF tier's standing basket as an un-pinned DAG: each customer's
    * `cap` lowest part keys over the base orders (q241's estimator). */
  private[graft] def cappedBaseEdges(spark: SparkSession, dir: String,
      cap: Int,
      baseFilter: org.apache.spark.sql.Column =
        col("o_orderkey") % 10 < 7): DataFrame =
    edgesOf(spark, dir, baseFilter)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("c")).orderBy(col("p"))))
      .where(col("rn") <= cap)
      .select(col("c"), col("p"))

  /** The CF tier's PROCESS-PINNED standing state — the capped basket
    * and its co-occurrence matrix over the base orders, pinned ONCE PER
    * PROCESS via [[graft.core.StandingState]] (the VERDICT r10 #2
    * bench-fidelity discipline: a deployment persists this between
    * ingests — q247/q250 spill exactly these frames via DurableState —
    * and only the erase/ingest leg belongs to each invocation's cost).
    * Registry-owned — callers must NOT free. */
  private[graft] def cfStanding(spark: SparkSession, dir: String,
      cap: Int): (DataFrame, DataFrame) =
    graft.core.StandingState.of(spark, "cfstate", dir, cap) {
      // pinned WITH their serving layout (r13): the basket is consumed
      // keyed on c (novelty anti-probe, room count, pair legs, erasure
      // semi/anti) and the co matrix keyed on (p1, p2) (the ledger
      // merges) — declaring the hash layout + sort on the pins lets
      // every per-invocation consumer plan exchange-free and sort-free
      // on the standing side (the in-memory face of a bucketed+sorted
      // table; plain localCheckpoint surfaces UnknownPartitioning and
      // re-shuffled ~200 MiB of standing state per ingest at sf0.1)
      val B = org.apache.spark.sql.graftbridge.Bridge
      val b = B.checkpointPartitioned(cappedBaseEdges(spark, dir, cap),
        Seq("c"), Seq("c", "p"))
      (b, B.checkpointPartitioned(coMatrixOf(b),
        Seq("p1", "p2"), Seq("p1", "p2")))
    }

  /** The standing co-occurrence matrix over a (c, p) basket frame —
    * per-customer pair work bounded at cap²/2 by the basket cap. Over an
    * erased subject's basket it is the erasure decrement (`as` = "dec"). */
  private[graft] def coMatrixOf(base: DataFrame,
      as: String = "co_base"): DataFrame =
    base.as("a").join(base.as("b"),
        col("a.c") === col("b.c") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
      .agg(count(lit(1)).as(as))

  /** ERASE for the CF kind: the request names the subject customers by
    * `subject` (a predicate on c). Each subject's basket contributed
    * exactly its own pairs to the co counts, so `dec` = [[coMatrixOf]]
    * over the subjects' baskets, and the erased state is (the basket
    * minus the subjects' rows, co − dec with pairs at 0 gone). Returns
    * (erased basket, dec, erased co) — in-memory (q248), erase-commit
    * (q259) and the conflict chain (q265) all erase through it. */
  private[graft] def erasedCf(base: DataFrame, co: DataFrame,
      subject: org.apache.spark.sql.Column)
      : (DataFrame, DataFrame, DataFrame) = {
    val dec = coMatrixOf(base.where(subject), "dec")
    // the erased basket stays an UN-pinned filter over the standing
    // basket scan (each of q248's three consumers re-runs a map-side
    // filter, cheaper than materializing a corpus-scale copy per erasure
    // request)
    val eBase = base.where(!subject)
    // ONE pair-keyed left join in place of the former
    // touched-branch ∪ untouched-anti-branch union (r13): identical
    // rows — a touched pair keeps co−dec when > 0 (dec ≤ co by
    // construction), an untouched pair keeps co — but the join
    // PRESERVES the standing co matrix's declared (p1, p2) layout,
    // which a Union discards, so the ingest's ledger merge downstream
    // plans exchange-free on this side
    val eCo = co.join(dec, Seq("p1", "p2"), "left_outer")
      .select(col("p1"), col("p2"),
        (col("co_base") - coalesce(col("dec"), lit(0L))).as("co_base"))
      .where(col("co_base") > 0)
    (eBase, dec, eCo)
  }

  /** The batch's ADMITTED novel edges against a standing basket frame:
    * anti-probe for novelty, then room-capped admission (per customer,
    * lowest novel part keys fill `cap − |basket|` slots). */
  private[graft] def admittedNovel(spark: SparkSession, dir: String,
      base: DataFrame, cap: Int,
      batchFilter: org.apache.spark.sql.Column): DataFrame = {
    val room = base.groupBy(col("c")).agg(count(lit(1)).as("nb"))
    edgesOf(spark, dir, batchFilter)
      .join(base, Seq("c", "p"), "left_anti")
      .join(room, Seq("c"), "left_outer")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("c")).orderBy(col("p"))))
      .where(col("rn") <= lit(cap) - coalesce(col("nb"), lit(0L)))
      .select(col("c"), col("p"))
  }

  /** The pair delta of an admitted-novel frame against its standing
    * basket: novel×standing (same customer) ∪ novel×novel, grouped to
    * (p1, p2, delta_co) — each leg ≤ cap² pairs per customer. */
  private def pairDelta(novel: DataFrame, base: DataFrame): DataFrame = {
    val nb = novel.as("n").join(base.as("s"),
        col("n.c") === col("s.c") && col("n.p") =!= col("s.p"))
      .select(least(col("n.p"), col("s.p")).as("p1"),
        greatest(col("n.p"), col("s.p")).as("p2"))
    val nn = novel.as("x").join(novel.as("y"),
        col("x.c") === col("y.c") && col("x.p") < col("y.p"))
      .select(col("x.p").as("p1"), col("y.p").as("p2"))
    nb.union(nn)
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("delta_co"))
  }

  /** q244's INGEST LEG against explicit standing frames — batch-scale
    * from here down: the change ledger over the admitted novel edges,
    * pinned in `pins`. Novelty is judged against the CAPPED standing set
    * (all the state a deployment holds); admission fills each basket's
    * remaining room, lowest novel part keys first, so no customer's
    * basket ever exceeds cap. `base`/`coBase` may be process pins (q244)
    * or reloaded durable parquet (q247) — the ledger is identical, which
    * is exactly the restart≡continuous claim. */
  private[graft] def ingestLedger(pins: Pins, spark: SparkSession,
      dir: String, base: DataFrame, coBase: DataFrame, cap: Int,
      batchFilter: org.apache.spark.sql.Column =
        col("o_orderkey") % 10 >= 7): DataFrame = {
    // the admitted-novel pin is consumed keyed on c by both pair legs —
    // pin it in that layout (the cfStanding r13 note)
    val novel = pins.own(org.apache.spark.sql.graftbridge.Bridge
      .checkpointPartitioned(admittedNovel(spark, dir, base, cap, batchFilter),
        Seq("c"), Seq("c", "p")))
    pairDelta(novel, base)
      .join(coBase, Seq("p1", "p2"), "left_outer")
      .select(col("p1"), col("p2"), col("delta_co"),
        (coalesce(col("co_base"), lit(0L)) + col("delta_co"))
          .as("co_after"))
      .orderBy(col("p1"), col("p2"))
  }

  /** q247 — the CF ingest served from DURABLE standing state (VERDICT
    * r11 #2: persist → restart → prove continuity). q244 holds the
    * capped basket and co-matrix as process pins; this query SPILLS them
    * to [[graft.core.DurableState]]'s versioned parquet layout (once per
    * process — the deployment's rebuild+publish path, registry-guarded)
    * and then serves the ENTIRE ingest from a fresh scan of the spilled
    * files: the reloaded frames have no lineage back to the builder, so
    * everything downstream is exactly what a REBOOTED process would
    * compute — the restart face of the q160 `ingest == rebuild`
    * discipline, and the state-tier analog of the reference's
    * recovery-by-reassignment (coordinator.go:87-107). The ledger is
    * bit-identical to q244's (same oracle SQL; DurableStateSpec also
    * binds restart == continuous frame-by-frame, plants a dead writer's
    * uncommitted orphan version to prove readers ignore it, and checks
    * retention pruning).
    *
    * Scale shape: q244's ingest plus one bounded parquet reload (the
    * standing state is O(customers·cap + parts²∩baskets), not corpus-
    * scale); the spill is once per rebuild. At 100 TB the root is shared
    * storage and the reload is the boot path every executor already has. */
  def q247(spark: SparkSession, dir: String, cap: Int = 256): DataFrame = {
    val (base, coBase) =
      reloadedCf(spark, dir, s"cf$cap", ensureCfSpilled(spark, dir, cap))
    Pins.result(pins => ingestLedger(pins, spark, dir, base, coBase, cap))
  }

  /** Spill the CF standing state (kind `cf<cap>`) once per process —
    * the deployment's rebuild+publish path, which q247 reloads at boot
    * ([[reloadedCf]]) and q259 erases; returns the committed version. */
  private[graft] def ensureCfSpilled(spark: SparkSession, dir: String, cap: Int)
      : Long =
    cfBaseSpilled(spark, dir, cap, s"cf$cap", 7)

  /** Spill the capped baskets of the base orders (`o_orderkey % 10 <
    * baseLt`) and their co matrix as `kind`, once per process; returns
    * the committed version. One pinned basket derivation feeds both
    * spilled tables (the q241 share-the-derivation discipline), freed
    * after the write. */
  private def cfBaseSpilled(spark: SparkSession, dir: String, cap: Int,
      kind: String, baseLt: Int): Long =
    graft.core.DurableState.Store(spark, dir).spillOnce(kind, cap, baseLt) {
      pins =>
        val b = pins.pin(cappedBaseEdges(spark, dir, cap,
          col("o_orderkey") % 10 < baseLt))
        Seq("basket" -> b, "co" -> coMatrixOf(b))
    }

  /** Reload a CF spill (basket + co) ONCE AT BOOT and pin it in the
    * serving layout (the cfStanding r13 note). A rebooted deployment pays
    * the reload once, then serves every ingest from the warm state;
    * registry-pinning the loaded frames makes the bench measure exactly
    * that (the spilled parquet, not the builder, is still the only
    * lineage). Registry-owned. */
  private[graft] def reloadedCf(spark: SparkSession, dir: String,
      kind: String, version: Long): (DataFrame, DataFrame) =
    graft.core.DurableState.Store(spark, dir).reloadOnce(kind, version) {
      table =>
        val B = org.apache.spark.sql.graftbridge.Bridge
        (B.checkpointPartitioned(table("basket"), Seq("c"), Seq("c", "p")),
          B.checkpointPartitioned(table("co"), Seq("p1", "p2"),
            Seq("p1", "p2")))
    }

  /** A CF state after ingesting `novel` (admitted against `base`): the
    * basket gains the novel edges, the co matrix merges the pair delta
    * (full outer) — the tables of the next committed version. */
  private def mergedBatch(base: DataFrame, co: DataFrame, novel: DataFrame)
      : Seq[(String, DataFrame)] =
    Seq("basket" -> base.unionByName(novel),
      "co" -> co.join(pairDelta(novel, base), Seq("p1", "p2"), "full_outer")
        .select(col("p1"), col("p2"),
          (coalesce(col("co_base"), lit(0L)) +
            coalesce(col("delta_co"), lit(0L))).as("co_base")))

  /** q250 — MULTI-VERSION DURABLE INGEST CHAIN: the full lifecycle a
    * deployment actually runs, version by version. q247 proves one
    * spill→reload round-trip; this chains TWO ingests with a COMMIT
    * BETWEEN THEM, every stage reading only the previous stage's
    * spilled parquet:
    *
    *   v1 = capped baskets + co matrix of the OLD base (orders ≡ 0-4
    *        mod 10), spilled;
    *   v2 = reload v1 → ingest batch A (orders ≡ 5-6) → merge the
    *        delta into the reloaded state (basket ∪ admitted-A; co
    *        full-outer delta) → spill as the NEXT committed version;
    *   output = reload v2 → ingest batch B (orders ≡ 7-9) → the q244
    *        change ledger.
    *
    * Admission is CHAIN-ORDERED (batch A fills room against v1's
    * baskets, batch B against v2's) — the deployment semantics, NOT a
    * re-sort of the union; the oracle replays the two-stage admission
    * monolithically and DurableStateSpec replays it driver-side,
    * asserts both versions sit committed on disk, and that stage A
    * actually admitted edges (the chain is non-vacuous). The spills
    * happen once per process (registry-guarded); the per-invocation
    * cost is the v2 reload + the batch-B ingest. Scale shape: each
    * stage is q244's — anti-probe, room-capped admission window,
    * bounded pair legs; state size O(customers·cap), never corpus-
    * scale. */
  def q250(spark: SparkSession, dir: String, cap: Int = 256): DataFrame = {
    val store = graft.core.DurableState.Store(spark, dir)
    val kind = s"cfchain$cap"
    // ---- v1: the old base's state, spilled ----
    val v1 = cfBaseSpilled(spark, dir, cap, kind, 5)
    // ---- v2: reload v1, ingest batch A, merge, spill — a CONDITIONAL
    //      commit: v2 is derived from v1, so publish only if v1 is still
    //      latest; a concurrent committer (rebuild, another ingest)
    //      would otherwise be silently overwritten (q265 forces this
    //      conflict and proves the retry path) ----
    val v2 = store.spillOnceOver(kind, v1, cap) { pins =>
      val base1 = store.load(kind, v1, "basket")
      val co1 = store.load(kind, v1, "co")
      mergedBatch(base1, co1, pins.pin(admittedNovel(spark, dir, base1, cap,
        col("o_orderkey") % 10 >= 5 && col("o_orderkey") % 10 < 7)))
    }
    // ---- boot: reload v2 once per process and pin; per invocation:
    //      the batch-B ingest only ----
    val (base2, co2) = reloadedCf(spark, dir, kind, v2)
    Pins.result(pins => ingestLedger(pins, spark, dir, base2, co2, cap))
  }

  /** q265 — LOST-UPDATE PROTECTION: the CONDITIONAL-COMMIT face of the
    * versioned chain. The deployment race this guards: an ingest job
    * loads the standing state, derives its merge, and while it works an
    * ERASURE commits — if the ingest's commit then wins the version
    * race, the erased subject is silently resurrected (the GDPR
    * lost-update). The chain, replayed deterministically:
    *
    *   v1 = the old base's capped baskets + co-matrix (orders ≡ 0-4 mod
    *        10), committed;
    *   the ingest writer RELOADS v1 and derives batch A's merge
    *        (orders ≡ 5-6) against it — the soon-to-be-stale work;
    *   an ERASURE (subjects c ≡ 0 mod 10) derived from v1 commits v2 =
    *        (baskets ∖ subjects, co decremented by the subjects' pairs)
    *        via `persistAllIf(expectedBase = v1)` — it wins;
    *   the stale ingest attempts `persistAllIf(expectedBase = v1)`: the
    *        commit MUST lose ([[graft.core.CommitConflictException]] —
    *        the query throws if it does not; nothing is published, the
    *        erasure stays latest);
    *   the retry re-derives batch A from the NEW latest (v2 — novelty
    *        and admission room judged against the ERASED baskets) and
    *        commits v3 with `expectedBase = v2`;
    *   output = batch B's ingest ledger (orders ≡ 7-9) served from the
    *        reloaded v3.
    *
    * The oracle replays erase-then-ingest monolithically — it matches
    * ONLY the conflict-then-re-derive outcome: had the stale commit won,
    * the subjects' PRE-ERASURE baskets would be back in the standing
    * state (the retry instead re-admits only their batch-A activity
    * against the erased state — q248's resurrection-on-ingest
    * semantics) and the ledger would differ on exactly those pairs. So
    * the oracle itself certifies the lost update did not happen;
    * DurableStateSpec covers the genuinely-racing form and
    * EraseStateSpec binds the committed subject baskets to batch-A
    * re-admissions only. Scale shape: each stage is q244's
    * bounded ingest or q248's request-scale decrement; the conditional
    * validate+mark holds the per-kind commit lock for the marker instant
    * only, never for a spill. */
  def q265(spark: SparkSession, dir: String, cap: Int = 256): DataFrame = {
    val store = graft.core.DurableState.Store(spark, dir)
    val kind = s"cfcas$cap"
    val filterA =
      col("o_orderkey") % 10 >= 5 && col("o_orderkey") % 10 < 7
    val v3 = graft.core.StandingState.of(spark, "cfcas", dir, cap) {
      // ---- v1: the old base's state, committed ----
      val v1 = cfBaseSpilled(spark, dir, cap, kind, 5)
      // ---- the ingest writer loads v1 and derives its merge (about
      //      to be stale) ----
      val base1 = store.load(kind, v1, "basket")
      val co1 = store.load(kind, v1, "co")
      Pins.scope { pins =>
        val stale = mergedBatch(base1, co1,
          pins.pin(admittedNovel(spark, dir, base1, cap, filterA)))
        // ---- the erasure, also derived from v1, commits FIRST ----
        val (eBase, _, eCo) =
          erasedCf(base1, co1, Erasure.isErased(col("c"), 10L))
        val v2 = store.persistAllIf(kind, Some(v1),
          Seq("basket" -> eBase, "co" -> eCo))
        // ---- the stale commit MUST lose: validate-under-lock rejects
        //      the v1 base, publishes nothing ----
        val conflicted =
          try { store.persistAllIf(kind, Some(v1), stale); false }
          catch { case _: graft.core.CommitConflictException => true }
        require(conflicted, "lost-update protection failed: a commit " +
          s"derived from v$v1 was accepted over the erasure at v$v2")
        require(store.latestVersion(kind).contains(v2),
          "stale commit published state despite the conflict")
        // ---- retry: re-derive batch A from the ERASED latest ----
        val base2 = store.load(kind, v2, "basket")
        val co2 = store.load(kind, v2, "co")
        store.persistAllIf(kind, Some(v2), mergedBatch(base2, co2,
          pins.pin(admittedNovel(spark, dir, base2, cap, filterA))))
      }
    }
    // ---- boot: reload v3 once per process and pin; per invocation:
    //      the batch-B ingest only ----
    val (base3, co3) = reloadedCf(spark, dir, kind, v3)
    Pins.result(pins => ingestLedger(pins, spark, dir, base3, co3, cap))
  }

}
