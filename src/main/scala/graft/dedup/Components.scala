package graft.dedup

import scala.jdk.CollectionConverters._

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import graft.core.Pins

/** Connected components — the missing half of dedup: the
  * similarity tiers emit near-duplicate PAIRS (edges), but curation keeps
  * one canonical document per GROUP, and groups are the connected
  * components of the pair graph (A~B, B~C must collapse to one keeper
  * even when A~C was never emitted).
  *
  * Algorithm: iterated synchronous min-label propagation — each round
  * every vertex adopts the minimum component label in its closed
  * neighborhood. Rounds needed = component diameter — tiny for
  * near-clique dedup graphs (2–3), up to ~17 on the chain-shaped sf0.1
  * cosine graph; pointer jumping was measured and rejected for this
  * workload (see the loop note). Convergence is DETECTED (changed-label
  * count == 0), with a maxIters safety valve.
  *
  * Where the rounds run is chosen by MEASURED size: the symmetric edge
  * list is pinned first, and if the block manager holds no more bytes
  * for that pin than the session's `spark.sql.autoBroadcastJoinThreshold`
  * (the bound under which Spark already collects a relation to the
  * driver to broadcast it; −1 disables), the edges are collected and the
  * same rounds run in driver memory — one collect in place of ~9 small
  * jobs per round. Larger edge lists run the rounds as DataFrame graphs
  * (one edge-keyed join + one vertex-keyed aggregate per round, both
  * ordinary shuffles AQE can re-plan; per-round localCheckpoint keeps the
  * plan O(1) deep exactly like KMeans.fit), labels and edges stay
  * partitioned and the only driver value is the per-round changed-count.
  * So at 100 TB the driver holds at most a broadcast-threshold-sized edge
  * list, and only when the measured pin is that small.
  */
object Components {

  /** Connected components of an undirected edge list (src, dst).
    * Returns (id, comp) where comp = min vertex id reachable. Isolated
    * vertices (absent from edges) are absent from the output — callers
    * union them back if needed. The result is a direct checkpoint the
    * caller owns (an iterated result lives either as deep lineage or as
    * pinned storage). */
  def connectedComponents(edges: DataFrame, maxIters: Int = 25): DataFrame =
    Pins.result { pins =>
      // materialize the (possibly expensive) upstream edge pipeline ONCE —
      // the per-round join would otherwise re-run it every iteration.
      // Both directions come from ONE pass over `edges`: each edge row
      // explodes into (src, dst) and (dst, src). A union would evaluate
      // the edge pipeline once per branch wherever no exchange is left
      // for the second branch to reuse (an unsorted pair producer ends in
      // a join, not an exchange).
      val sym = pins.pin(edges
        .select(inline(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst"))))))
      val init = sym.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id"))
      val spark = sym.sparkSession
      if (inMemory(sym) && Bridge.pinnedBytes(sym) <=
          bytes(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))) {
        // the distributed result's schema, from its (unexecuted) plan
        val schema = labelRound(sym, init).select(col("id"), col("comp")).schema
        spark.createDataFrame(
          propagate(sym.collect(), maxIters).asJava, schema)
      } else distributed(pins, sym, init, maxIters)
    }

  /** One synchronous round: each vertex's label becomes the min over its
    * closed neighborhood; `chg` marks the vertices whose label fell. */
  private def labelRound(sym: DataFrame, labels: DataFrame): DataFrame = {
    // min neighbor label per vertex, via the edge list
    val fromNbrs = sym
      .join(labels.select(col("id").as("src"), col("comp")), Seq("src"))
      .groupBy(col("dst").as("id"))
      .agg(min(col("comp")).as("nbr_comp"))
    labels
      .join(fromNbrs, Seq("id"), "left_outer")
      .select(col("id"),
        least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"),
        (col("nbr_comp") < col("comp")).as("chg"))
  }

  /** The rounds as DataFrame graphs, one checkpoint job per round. */
  private def distributed(pins: Pins, sym: DataFrame, init: DataFrame,
                          maxIters: Int): DataFrame = {
    var prevCk = pins.pin(init)
    var labels = prevCk
    var it = 0
    var changed = 1L
    // superseded per-round checkpoints are freed as soon as the next
    // round is materialized — otherwise storage grows linearly with the
    // graph diameter
    while (changed > 0 && it < maxIters) {
      // (Two round-reduction schemes were measured and REJECTED:
      //  * pointer jumping — label-of-label self-joins, O(log d)
      //    rounds — saved ~0.5 s on the diameter-17 cosine graph
      //    (q105) but cost +0.7/+0.2 s on the near-clique minhash
      //    graphs that converge in 2–3 rounds: the extra shuffle per
      //    round outweighs the rounds saved;
      //  * batching K lazy rounds per materialized job — each round
      //    references the previous round's frame TWICE (fromNbrs +
      //    the outer join) and plans are trees, so the shared subtree
      //    duplicates per round: 2^K re-evaluation, measured q66
      //    2.44 s -> 3.15 s at K=3. The per-round barrier below is
      //    load-bearing, not overhead. Edge lists under the broadcast
      //    threshold skip this loop: see `propagate`.)
      // eager: prevCk no longer referenced
      val mat = pins.pin(labelRound(sym, labels))
      pins.release(prevCk)
      prevCk = mat
      changed = mat.where(col("chg")).count()
      labels = mat.select(col("id"), col("comp"))
      it += 1
    }
    checkConverged(changed, maxIters)
    // the clean (id, comp) projection is the RESULT checkpoint (returning
    // the derived select would pin the last round's storage forever)
    labels
  }

  /** The distributed rounds over a collected symmetric edge list, round
    * for round: vertices are numbered in id order, so the min label is
    * the min index. A null id (it joins nothing) keeps a null label, as
    * in the distributed plan. */
  private def propagate(sym: Array[Row], maxIters: Int): Seq[Row] = {
    val ids = sym.iterator.map(_.get(0)).filter(_ != null).distinct.toArray
      .sortBy(_.asInstanceOf[Number].longValue)
    val index = ids.zipWithIndex.toMap
    val linked = sym.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    val src = linked.map(r => index(r.get(0)))
    val dst = linked.map(r => index(r.get(1)))
    val comp = Array.range(0, ids.length)
    var it = 0
    var changed = 1L
    while (changed > 0 && it < maxIters) {
      val nbr = Array.fill(ids.length)(Int.MaxValue)
      var e = 0
      while (e < src.length) {
        if (comp(src(e)) < nbr(dst(e))) nbr(dst(e)) = comp(src(e))
        e += 1
      }
      changed = 0L
      var v = 0
      while (v < comp.length) {
        if (nbr(v) < comp(v)) { comp(v) = nbr(v); changed += 1 }
        v += 1
      }
      it += 1
    }
    checkConverged(changed, maxIters)
    val nullId = if (sym.exists(_.isNullAt(0))) Seq(Row(null, null)) else Nil
    ids.indices.map(v => Row(ids(v), ids(comp(v)))) ++ nullId
  }

  // a silent partial result would be internally inconsistent (labels
  // pointing at vertices that were themselves relabeled) — refuse
  private def checkConverged(changed: Long, maxIters: Int): Unit =
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters rounds " +
        s"($changed labels still changing) — component diameter exceeds " +
        "maxIters; raise it")

  /** A byte-size conf value as Spark reads it ("10MB", "-1"). */
  private def bytes(v: String): Long =
    if (v.startsWith("-")) -JavaUtils.byteStringAsBytes(v.drop(1))
    else JavaUtils.byteStringAsBytes(v)

  /** Integral ids are ranked by value on the driver; other id types keep
    * the distributed rounds, whose ordering is Spark's. */
  private def inMemory(sym: DataFrame): Boolean =
    sym.schema("src").dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }

  /** q66 — near-duplicate cluster collapse: connected components over the
    * minhash-verified exact near-dup pairs (j ≥ 0.7), one row per
    * multi-document cluster with its canonical keeper (min doc_id),
    * size, and sorted member list. ORACLE-CHECKED end-to-end (round 6):
    * under the spec-asserted LSH-recall-1 premise the verified edge set
    * equals exact all-pairs shingle Jaccard, so the DuckDB twin recomputes
    * the clusters from exact pairs + recursive-CTE reachability (the q105
    * pattern); the component partition is additionally spec-proven equal
    * to driver-side union-find on the same edges.
    *
    * The corpus-vertex-sized label table is consumed into the BOUNDED
    * presentation aggregate (one row per cluster), so the only storage
    * the query leaves behind is result-sized (leak spec). */
  def q66(spark: SparkSession, dir: String): DataFrame = Pins.result { pins =>
    val pairs = Dedup.minhashVerifiedPairs(spark, dir, 0.5, 0.7)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val labels = pins.own(connectedComponents(pairs))
    labels
      .groupBy(col("comp"))
      .agg(
        count(lit(1)).cast(IntegerType).as("n_docs"),
        array_join(sort_array(collect_set(col("id").cast(StringType))), ",")
          .as("docs"))
      .select(col("comp").as("keeper_doc"), col("n_docs"), col("docs"))
      .orderBy(col("keeper_doc"))
  }

  /** q122 — near-dup cluster-SIZE histogram: how much of the corpus is
    * duplicated, and in what shapes — the one-page duplication profile a
    * dedup rollout decision actually reads (a corpus of pairwise twins
    * and a corpus with one 10k-document pile dedup identically by count
    * but mean completely different things). Rows: (cluster_size,
    * n_clusters), INCLUDING the singleton row — documents in no verified
    * pair — so the histogram partitions the whole corpus and the
    * duplication factor falls out as Σ(size·n)/Σn.
    *
    * Same engine and premise as q66 (minhash-banded candidates, exact
    * Jaccard verify ≥ 0.7, label propagation; LSH-recall-1 spec-asserted
    * → exact recursive-CTE oracle). The histogram itself adds only
    * cluster-count-sized aggregates: labels → per-comp sizes → size
    * counts, with the singleton count derived arithmetically from the
    * 1-row corpus total minus the 1-row clustered total (two broadcast
    * folds, never a corpus-scale join). */
  def q122(spark: SparkSession, dir: String): DataFrame = Pins.result { pins =>
    val pairs = Dedup.minhashVerifiedPairs(spark, dir, 0.5, 0.7)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val labels = pins.own(connectedComponents(pairs))
    val sizes = labels.groupBy(col("comp")).agg(count(lit(1)).as("sz"))
    val hist = sizes.groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
    val nTotal = graft.core.Tables(spark, dir, "documents")
      .agg(count(lit(1)).as("n_total"))
    val nClustered = labels.agg(count(lit(1)).as("n_clustered"))
    // clusters are >= 2 by construction (every labeled vertex sits in a
    // verified edge), so the singleton row can never collide with hist
    val singleton = nTotal.crossJoin(broadcast(nClustered))
      .select(lit(1L).as("sz"),
        (col("n_total") - col("n_clustered")).as("n_clusters"))
    hist.unionByName(singleton)
      .select(col("sz").cast(IntegerType).as("cluster_size"),
        col("n_clusters"))
      .orderBy(col("cluster_size"))
  }

  /** q125 — EFFECTIVE post-dedup source mixture: what each source
    * actually contributes to the training set once near-dup clusters
    * collapse to their keeper — the mixture the trained model really
    * sees, as opposed to the raw-token mix (q88) computed before dedup.
    * A source whose volume is mostly clones of other sources' content
    * shrinks here and nowhere else.
    *
    * Same engine and premise as q66/q80/q122: minhash-banded candidates,
    * exact Jaccard verify ≥ 0.7, label propagation, min-id keeper; the
    * drop set (comp ≠ id) anti-filters via ONE doc-keyed left join, the
    * per-source accounting partials map-side, and the kept-corpus token
    * total rides back as a 1-row broadcast for the share division
    * (exact integers until that one rounded divide). */
  def q125(spark: SparkSession, dir: String): DataFrame = Pins.result { pins =>
    val pairs = Dedup.minhashVerifiedPairs(spark, dir, 0.5, 0.7)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val labels = pins.own(connectedComponents(pairs))
    val drop = labels.where(col("comp") =!= col("id"))
      .select(col("id").as("doc_id"), lit(1).as("dropped"))
    val perSource = graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(graft.text.TextAnalysis.toks(col("text")))
          .cast(LongType).as("n_tok"))
      .join(drop, Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("dropped").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("dropped").isNull, col("n_tok")).otherwise(0L))
          .as("n_tokens_kept"))
    val total = perSource.agg(sum(col("n_tokens_kept")).as("t"))
    perSource.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("n_tokens"), col("n_tokens_kept"),
        when(col("t") > 0,
          round(col("n_tokens_kept").cast(DoubleType) / col("t"), 6))
          .as("mix_share"))
      .orderBy(col("source"))
  }
}
