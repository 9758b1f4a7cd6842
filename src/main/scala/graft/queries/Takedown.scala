package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Pins, Tables}
import graft.dedup.{Components, Dedup}

/** Takedown / right-to-be-forgotten propagation: what actually happens to
  * a training corpus's DERIVED artifacts when a set of documents must be
  * removed — the compliance operation every production corpus eventually
  * runs (DMCA takedowns, GDPR/CCPA erasure, licensing reversals). The
  * reference has no notion of deletion (its corpus is 8 static files,
  * /root/reference/src/main); at 100 TB the hard part is not deleting the
  * rows but REPAIRING everything derived from them:
  *
  *   - the near-dup cluster table's KEEPERS: removing a cluster's
  *     canonical keeper must promote a new one, and removing a bridge
  *     member can SPLIT a cluster into independent components — so
  *     keeper repair is a re-run of connected components on the
  *     surviving edge set, not a per-cluster min() (q179);
  *   - the packed manifest: token offsets are prefix sums, so removal
  *     re-packs; the audit ledger carries the post-takedown totals the
  *     repack must land on (q180);
  *   - residual references: NO derived artifact may still reference a
  *     taken-down id — the checks a compliance audit actually signs off
  *     on (q180's residual rows, planted-violation-style non-vacuous
  *     because the fixture's clusters DO contain taken-down docs).
  *
  * The takedown selector is deterministic (doc_id ≡ 0 mod `modK`,
  * default 60) so both engines derive the same set and — deliberately —
  * it intersects the fixture's planted near-dup clusters in BOTH
  * interesting ways: a cluster whose keeper (min id) is removed (doc 0's
  * triangle) and a cluster losing a non-keeper member (doc 120's K4).
  *
  * Scale shape: everything is edge- or doc-keyed — the pair list is the
  * q66 machinery (banded candidates, never all-pairs), label propagation
  * is the bounded-round checkpointed loop, and the ledger aggregates are
  * one pass each. Nothing touches more than the dedup tier already does;
  * the takedown itself is a map-only predicate.
  */
object Takedown {

  private def isTaken(c: Column, modK: Long): Column =
    pmod(c, lit(modK)) === 0L

  /** q179 — KEEPER RE-ELECTION after takedown: for every surviving
    * member of a near-dup cluster that lost at least one document,
    * the repaired canonical assignment. `new_keeper` comes from
    * connected components over the SURVIVING edge set — a member whose
    * every neighbor was removed becomes its own keeper, and a cluster
    * held together by a removed bridge splits into separate new
    * clusters (a per-cluster min() over survivors would silently merge
    * them). `keeper_removed` flags clusters whose old canonical doc
    * itself was taken down; `rehomed` flags rows whose canonical
    * assignment changed. */
  def q179(spark: SparkSession, dir: String, modK: Long = 60L): DataFrame =
    Pins.result { pins =>
      // consumed by BOTH component runs — pin once
      val pairs = pins.pin(Dedup.minhashVerifiedPairs(spark, dir, 0.5, 0.7)
        .select(col("d1").as("src"), col("d2").as("dst")))
      val before = pins.own(Components.connectedComponents(pairs))
      val after = pins.own(Components.connectedComponents(
        pairs.where(!isTaken(col("src"), modK) &&
          !isTaken(col("dst"), modK))))
      reelect(before, after, modK)
    }

  /** The re-election subtree over the two label tables: survivors of
    * clusters that lost at least one member, LEFT OUTER re-homed
    * against the post-takedown labels (a member whose every neighbor
    * was removed has no `after` row — it becomes its own keeper). */
  private def reelect(before: DataFrame, after: DataFrame,
      modK: Long): DataFrame = {
    val affected = before.where(isTaken(col("id"), modK))
      .select(col("comp")).distinct()
    before
      .join(affected, Seq("comp"), "left_semi")
      .where(!isTaken(col("id"), modK))
      .join(after.select(col("id"), col("comp").as("new_comp")),
        Seq("id"), "left_outer")
      .select(col("id").as("doc_id"),
        col("comp").as("old_keeper"),
        coalesce(col("new_comp"), col("id")).as("new_keeper"),
        isTaken(col("comp"), modK).as("keeper_removed"),
        (coalesce(col("new_comp"), col("id")) =!= col("comp"))
          .as("rehomed"))
      .orderBy(col("doc_id"))
  }

  /** q180 — TAKEDOWN PROPAGATION AUDIT: the one-page ledger a
    * compliance sign-off reads after a takedown runs — per derived
    * artifact, what the post-takedown state must be, plus residual
    * checks proving no artifact still references a taken-down id.
    * The manifest rows come from a REAL re-pack of the surviving
    * corpus (Curation.pack — the q87 two-pass engine), not from
    * arithmetic on the old manifest; the cluster rows from a real
    * component re-run on the surviving edges. Long-form
    * (artifact, metric, value) like q162's audit. */
  def q180(spark: SparkSession, dir: String, modK: Long = 60L): DataFrame =
    Pins.result { pins =>
      val taken = isTaken(col("doc_id"), modK)
      val counts = Tables(spark, dir, "documents")
        .select(col("doc_id").cast(LongType),
          size(graft.text.TextAnalysis.toks(col("text")))
            .cast(LongType).as("n_tok"))

      def row(artifact: String, metric: String, v: Column): Column =
        struct(lit(artifact).as("artifact"), lit(metric).as("metric"),
          v.cast(LongType).as("value"))

      // corpus accounting: one pass
      val docRows = counts.agg(
        row("documents", "rows_before", count(lit(1))).as("a"),
        row("documents", "rows_removed", sum(when(taken, 1L).otherwise(0L))).as("b"),
        row("documents", "rows_after", sum(when(taken, 0L).otherwise(1L))).as("c"))
        .select(explode(array(col("a"), col("b"), col("c"))).as("r"))

      // manifest: the surviving corpus genuinely RE-PACKED
      val repacked = pins.own(Curation.pack(spark, counts.where(!taken), 128))
      val manRows = pins.pin(repacked.agg(
          row("manifest", "rows_after", count(lit(1))).as("a"),
          row("manifest", "tot_tok_after", sum(col("n_tok"))).as("b"),
          row("manifest", "last_seq_after", max(col("last_seq"))).as("c"),
          row("residual", "manifest_takedown_refs",
            sum(when(taken, 1L).otherwise(0L))).as("d"))
        .select(explode(array(col("a"), col("b"), col("c"), col("d"))).as("r")))
      pins.release(repacked)

      // clusters: components re-run on the surviving edge set
      val pairs = pins.pin(Dedup.minhashVerifiedPairs(spark, dir, 0.5, 0.7)
        .select(col("d1").as("src"), col("d2").as("dst")))
      val before = pins.own(Components.connectedComponents(pairs))
      val after = pins.own(Components.connectedComponents(
        pairs.where(!isTaken(col("src"), modK) &&
          !isTaken(col("dst"), modK))))
      val b = before.agg(
        row("clusters", "n_before", countDistinct(col("comp"))).as("a"),
        row("clusters", "docs_before", count(lit(1))).as("b"))
        .select(explode(array(col("a"), col("b"))).as("r"))
      val a = after.agg(
        row("clusters", "n_after", countDistinct(col("comp"))).as("a"),
        row("clusters", "docs_after", count(lit(1))).as("b"),
        row("residual", "cluster_takedown_refs",
          sum(when(isTaken(col("id"), modK), 1L).otherwise(0L))).as("c"))
        .select(explode(array(col("a"), col("b"), col("c"))).as("r"))
      val cluRows = pins.pin(b.unionByName(a))
      Seq(after, before, pairs).foreach(pins.release)

      docRows.unionByName(manRows).unionByName(cluRows)
        .select(col("r.artifact").as("artifact"), col("r.metric").as("metric"),
          col("r.value").as("value"))
        .orderBy(col("artifact"), col("metric"))
    }

  // ---------------------------------------------------------------------
  // Subject-keyed erasure (q181/q182): a GDPR/CCPA erasure request names
  // a DATA SUBJECT (here: an email address), not document ids — the doc
  // set to erase must be DISCOVERED by content scan before anything can
  // be removed. q179/q180 take the erasure set as given (id arithmetic);
  // this tier derives it from the corpus, which is what a real
  // right-to-be-forgotten intake actually does: match the subject's
  // identifiers against the corpus (map-only regex extract), resolve to
  // documents, THEN propagate. The subject identifiers reuse the q176
  // plant (TextAnalysis.pseudoPlanted): email locals are keyed by doc_id
  // mod 20, so each subject's address appears across MANY documents and
  // discovery is a genuine one-to-many resolution, not a lookup.
  // ---------------------------------------------------------------------

  /** The erasure-requested subjects: `user<n>@example.com` for n ≡ 2
    * (mod 5) of the 20 planted locals — 4 subjects, deterministic in
    * both engines, chosen to intersect the planted near-dup clusters
    * (doc 0 carries user7's address via the mod-13 second plant, so the
    * keeper-removed path fires under content-discovered erasure too). */
  private[graft] def subjects(spark: SparkSession): DataFrame =
    spark.range(20).where(pmod(col("id"), lit(5L)) === 2L)
      .select(concat(lit("user"), col("id"), lit("@example.com"))
        .as("subject"))

  /** Every (subject, doc_id) mention of a REQUESTED subject: map-only
    * regex extract over the planted corpus, exploded, then a broadcast
    * semi join against the 4-row request list — the corpus-scale work
    * is one codegen span; everything after is request-sized. */
  private[graft] def subjectMentions(spark: SparkSession, dir: String)
      : DataFrame = {
    import graft.text.TextAnalysis
    Tables(spark, dir, "documents")
      .select(col("doc_id").cast(LongType),
        TextAnalysis.pseudoPlanted.as("raw"))
      .select(col("doc_id"),
        explode(array_distinct(regexp_extract_all(col("raw"),
          lit(TextAnalysis.EmailRe), lit(0)))).as("subject"))
      .join(broadcast(subjects(spark)), Seq("subject"), "left_semi")
  }

  /** q181 — SUBJECT ERASURE DISCOVERY: the intake manifest an erasure
    * request produces before anything is deleted — per requested
    * subject, how many documents mention their identifier and the
    * id range (the "scope of processing" a controller must disclose).
    * LEFT join from the request list so a subject with zero corpus
    * presence still gets its ledger row (n_docs = 0) — "we hold
    * nothing on you" is itself the answer the request is owed. */
  def q181(spark: SparkSession, dir: String): DataFrame = {
    val perSubject = subjectMentions(spark, dir)
      .groupBy(col("subject"))
      .agg(count(col("doc_id")).as("hits"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
    subjects(spark)
      .join(perSubject, Seq("subject"), "left_outer")
      .select(col("subject"),
        coalesce(col("hits"), lit(0L)).as("n_docs"),
        col("first_doc"), col("last_doc"))
      .orderBy(col("subject"))
  }

  /** q182 — SUBJECT TAKEDOWN AUDIT: q180's propagation ledger with the
    * erasure set DISCOVERED (the distinct documents mentioning any
    * requested subject) instead of given by id arithmetic — so every
    * per-artifact repair runs off broadcast (anti/outer) joins against
    * the request-sized doc set rather than a row-local predicate: the
    * shape a real erasure at 100 TB has, because legal hands you
    * subjects, not a modulus. Adds the residual check q180 cannot
    * express: after removal, NO surviving document still mentions a
    * requested subject (zero by construction of discovery — the check
    * exists to catch a buggy removal, which is what residual checks
    * are for). */
  def q182(spark: SparkSession, dir: String): DataFrame = Pins.result { pins =>
    import graft.text.TextAnalysis
    // discovered ONCE; consumed by every probe below
    val taken = pins.pin(subjectMentions(spark, dir)
      .select(col("doc_id")).distinct())

    def row(artifact: String, metric: String, v: Column): Column =
      struct(lit(artifact).as("artifact"), lit(metric).as("metric"),
        v.cast(LongType).as("value"))
    // request-sized membership flag, attachable to any doc-keyed frame
    def flagged(df: DataFrame): DataFrame =
      df.join(broadcast(taken.withColumn("__tk", lit(1))),
        Seq("doc_id"), "left_outer")
    val isTk = col("__tk").isNotNull

    val counts = Tables(spark, dir, "documents")
      .select(col("doc_id").cast(LongType),
        size(TextAnalysis.toks(col("text")))
          .cast(LongType).as("n_tok"))

    val docRows = flagged(counts).agg(
      row("documents", "rows_before", count(lit(1))).as("a"),
      row("documents", "rows_removed",
        sum(when(isTk, 1L).otherwise(0L))).as("b"),
      row("documents", "rows_after",
        sum(when(isTk, 0L).otherwise(1L))).as("c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("r"))

    // manifest: the surviving corpus genuinely RE-PACKED
    val repacked = pins.own(Curation.pack(spark,
      counts.join(broadcast(taken), Seq("doc_id"), "left_anti"), 128))
    val manRows = pins.pin(flagged(repacked).agg(
        row("manifest", "rows_after", count(lit(1))).as("a"),
        row("manifest", "tot_tok_after", sum(col("n_tok"))).as("b"),
        row("manifest", "last_seq_after", max(col("last_seq"))).as("c"),
        row("residual", "manifest_takedown_refs",
          sum(when(isTk, 1L).otherwise(0L))).as("d"))
      .select(explode(array(col("a"), col("b"), col("c"), col("d")))
        .as("r")))
    pins.release(repacked)

    // clusters: components re-run on the surviving edge set
    val pairs = pins.pin(Dedup.minhashVerifiedPairs(spark, dir, 0.5, 0.7)
      .select(col("d1").as("src"), col("d2").as("dst")))
    val before = pins.own(Components.connectedComponents(pairs))
    val surviving = pairs
      .join(broadcast(taken.select(col("doc_id").as("src"))),
        Seq("src"), "left_anti")
      .join(broadcast(taken.select(col("doc_id").as("dst"))),
        Seq("dst"), "left_anti")
    val after = pins.own(Components.connectedComponents(surviving))
    val b = before.agg(
      row("clusters", "n_before", countDistinct(col("comp"))).as("a"),
      row("clusters", "docs_before", count(lit(1))).as("b"))
      .select(explode(array(col("a"), col("b"))).as("r"))
    val a = flagged(after.withColumnRenamed("id", "doc_id")).agg(
      row("clusters", "n_after", countDistinct(col("comp"))).as("a"),
      row("clusters", "docs_after", count(lit(1))).as("b"),
      row("residual", "cluster_takedown_refs",
        sum(when(isTk, 1L).otherwise(0L))).as("c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("r"))
    val cluRows = pins.pin(b.unionByName(a))
    Seq(after, before, pairs).foreach(pins.release)

    // the content-level residual: surviving docs mentioning a subject
    val resRows = subjectMentions(spark, dir)
      .join(broadcast(taken), Seq("doc_id"), "left_anti")
      .agg(row("residual", "surviving_subject_refs", count(lit(1)))
        .as("r"))
      .select(col("r"))

    docRows.unionByName(manRows).unionByName(cluRows)
      .unionByName(resRows)
      .select(col("r.artifact").as("artifact"),
        col("r.metric").as("metric"), col("r.value").as("value"))
      .orderBy(col("artifact"), col("metric"))
  }

  /** q186 — CASCADING RELATIONAL ERASURE: the takedown tier on the
    * RELATIONAL schema, where erasure propagates through FOREIGN KEYS
    * instead of derived artifacts — remove a set of customers, and
    * referential integrity forces their orders out, and the orders'
    * lineitems after them (the two-hop cascade every operational
    * erasure on a normalized schema runs; the doc-tier q180/q182 only
    * ever propagate one hop, id → artifact). Long-form ledger per
    * table plus residual checks that no surviving row references an
    * erased one — the q162 constraint audit's destructive sibling,
    * and `qty_removed` so the downstream aggregate impact is in the
    * sign-off.
    *
    * Scale shape: the subject key set is tiny and BROADCASTS into the
    * hop-1 semi/anti joins; the DEAD-ORDER key set is NOT tiny (a
    * fraction of a fact table), so hop 2 is a fact-to-fact semi join
    * SHUFFLING on the FK — the shape a cascade must have at 100 TB —
    * and the key set is pinned once, consumed by the removal count,
    * the lineitem hop, and the residual check. */
  def q186(spark: SparkSession, dir: String, modK: Long = 97L,
      res: Long = 5L): DataFrame = Pins.result { pins =>
    def row(artifact: String, metric: String, v: Column): Column =
      struct(lit(artifact).as("artifact"), lit(metric).as("metric"),
        v.cast(LongType).as("value"))
    val cust = Tables(spark, dir, "customer")
    val orders = Tables(spark, dir, "orders")
    val line = Tables(spark, dir, "lineitem")
    val subjKeys = cust
      .where(pmod(col("c_custkey"), lit(modK)) === res)
      .select(col("c_custkey"))

    val custRows = cust
      .select(pmod(col("c_custkey"), lit(modK)).===(res).as("tk"))
      .agg(row("customer", "rows_before", count(lit(1))).as("a"),
        row("customer", "rows_removed",
          sum(when(col("tk"), 1L).otherwise(0L))).as("b"),
        row("customer", "rows_after",
          sum(when(col("tk"), 0L).otherwise(1L))).as("c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("r"))

    // hop 1: the erased customers' orders (subject keys broadcast)
    val deadOrders = pins.pin(orders // consumed by 3 probes below
      .join(broadcast(subjKeys),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey")))
    val orderRows = orders
      .join(broadcast(subjKeys),
        col("o_custkey") === col("c_custkey"), "left_outer")
      .select(col("o_orderkey"), col("c_custkey").isNotNull.as("tk"))
      .agg(row("orders", "rows_before", count(lit(1))).as("a"),
        row("orders", "rows_removed",
          sum(when(col("tk"), 1L).otherwise(0L))).as("b"),
        row("orders", "rows_after",
          sum(when(col("tk"), 0L).otherwise(1L))).as("c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("r"))

    // hop 2: fact-to-fact — lineitems of dead orders, shuffled on the FK
    val lineFlag = line
      .join(deadOrders.withColumn("__dead", lit(1)),
        line("l_orderkey") === deadOrders("o_orderkey"), "left_outer")
      .select(col("l_quantity"), col("__dead").isNotNull.as("tk"))
    val lineRows = lineFlag
      .agg(row("lineitem", "rows_before", count(lit(1))).as("a"),
        row("lineitem", "rows_removed",
          sum(when(col("tk"), 1L).otherwise(0L))).as("b"),
        row("lineitem", "rows_after",
          sum(when(col("tk"), 0L).otherwise(1L))).as("c"),
        row("lineitem", "qty_removed",
          sum(when(col("tk"), col("l_quantity")).otherwise(0.0d))).as("d"))
      .select(explode(array(col("a"), col("b"), col("c"), col("d"))).as("r"))

    // residuals: NO surviving row references an erased one
    val orphanOrders = orders
      .join(broadcast(subjKeys),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .join(broadcast(subjKeys),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .agg(row("residual", "orders_orphaned_refs", count(lit(1))).as("r"))
      .select(col("r"))
    val orphanLines = line
      .join(deadOrders, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .join(deadOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .agg(row("residual", "lineitem_orphaned_refs", count(lit(1))).as("r"))
      .select(col("r"))

    custRows.unionByName(orderRows).unionByName(lineRows)
      .unionByName(orphanOrders).unionByName(orphanLines)
      .select(col("r.artifact").as("artifact"),
        col("r.metric").as("metric"), col("r.value").as("value"))
      .orderBy(col("artifact"), col("metric"))
  }

  /** The deterministic source→license map for q243: rank 0 (most
    * permissive) to 3 (most restrictive), keyed on the source index —
    * stands in for the license column a real crawl manifest carries. */
  private def licenseRank: Column =
    pmod(expr("CAST(substring(source, 4, 10) AS INT)"), lit(4))
  private def licenseName(rank: Column): Column =
    when(rank === 0, "cc0").when(rank === 1, "cc-by")
      .when(rank === 2, "cc-by-nc").otherwise("proprietary")

  /** q243 — LICENSE CONTAGION through near-dup clusters: when documents
    * are near-duplicates, the conservative compliance posture is that
    * every member of the cluster inherits the cluster's MOST
    * RESTRICTIVE license — a permissively-licensed page that is a
    * near-copy of proprietary text cannot be treated as cc0. The
    * takedown tier removes content by subject (q179–q186); this is the
    * PREVENTIVE face: the per-document ledger of effective licenses
    * after contagion, with the `escalated` flag marking exactly the
    * documents whose usable license CHANGED because of what they
    * duplicate — the rows a licensing review must re-clear.
    *
    * Semantics: clusters are the q66 relation (minhash-banded
    * candidates, exact Jaccard ≥ 0.7 verify, connected components —
    * banding is spec-proven lossless at this threshold, so the DuckDB
    * oracle's all-pairs reachability replays the same clusters);
    * singletons keep their own license. Scale shape: the cluster
    * machinery is the standing dedup tier; the contagion itself is one
    * component-keyed max-aggregate and one join back — label-sized,
    * not corpus-quadratic. */
  def q243(spark: SparkSession, dir: String): DataFrame = Pins.result { pins =>
    val pairs = Dedup.minhashVerifiedPairs(spark, dir, 0.5, 0.7)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val labels = pins.own(Components.connectedComponents(pairs))
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), licenseRank.as("rank"))
    val dl = docs
      .join(labels, col("doc_id") === col("id"), "left_outer")
      .select(col("doc_id"), col("source"), col("rank"),
        coalesce(col("comp"), col("doc_id")).as("comp"))
    val eff = dl.groupBy(col("comp")).agg(max(col("rank")).as("er"))
    dl.join(eff, Seq("comp"))
      .select(col("doc_id"), col("source"),
        licenseName(col("rank")).as("own_license"),
        licenseName(col("er")).as("effective_license"),
        (col("rank") < col("er")).as("escalated"))
      .orderBy(col("doc_id"))
  }
}
