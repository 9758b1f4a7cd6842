package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Pins
import graft.queries.EmbeddingQueries

/** Similarity search over the embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k (exact; O(Q×N) with a broadcast of
  * the query side — correct for small query sets at any corpus size).
  * Scale path: random-hyperplane LSH bucketing — signatures are computed
  * with deterministic hash-derived hyperplanes entirely in codegen'd
  * higher-order functions, candidates join per bucket (never all-pairs),
  * then exact cosine verifies. Both are pure DataFrame graphs.
  */
object Similarity {
  import EmbeddingQueries.{cosine, dot, vecs, vecsNorm}

  /** Brute-force cosine top-k neighbors for a small query set (vec_id <
    * nQueries). The query side is broadcast; the corpus side streams — at
    * 1000 executors this is a map-side-only pass plus a per-query top-k.
    * Vectors are unit-normalized once per row up front, so the O(Q×N)
    * kernel is a bare fused dot product (cosine == dot on unit vectors). */
  def annTopK(spark: SparkSession, dir: String, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val v = vecsNorm(spark, dir)
    annTopKOf(v, v.where(col("vec_id") < nQueries), k)
  }

  /** The brute-force ground truth shared by the recall ledgers
    * (q76/q164/q167/q177) — process-pinned via StandingState: an eval
    * set's exact truth is computed once per deployment and every index
    * variant is scored against it, not recomputed per ledger run. q32
    * (the DECLARED brute-force verifier) stays fresh-building.
    * Registry-owned — callers must NOT free. */
  private[graft] def annTruthStanding(spark: SparkSession, dir: String,
      k: Int, nQueries: Int): DataFrame =
    graft.core.StandingState.of(spark, "anntruth", dir, k, nQueries) {
      annTopK(spark, dir, k, nQueries)
        .select(col("q_id"), col("n_id")).localCheckpoint()
    }

  /** [[annTopK]] with explicit corpus and query frames — the erased-state
    * tier (q222) measures ground truth over a corpus with the erased
    * subjects removed, against the unchanged probe set. Both frames are
    * unit-normalized (vec_id, u). */
  def annTopKOf(corpusVn: DataFrame, queriesVn: DataFrame, k: Int): DataFrame = {
    val q = queriesVn
      .select(col("vec_id").as("q_id"), col("u").as("qu"))
    val joined = broadcast(q).join(corpusVn, col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(dot(col("qu"), col("u")), 4).as("sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    joined
      .withColumn("rank", row_number().over(w).cast(IntegerType))
      .where(col("rank") <= k)
      .orderBy(col("q_id"), col("rank"))
  }

  /** All near-duplicate pairs with cosine >= threshold — exact verifier
    * (all-pairs; use lshNearDup for the candidate-generation at scale).
    *
    * The O(n²) kernel is tuned to its floor: vectors are unit-normalized
    * once per row, so each pair costs one fused dot product, not
    * dot+2 norms. The sim predicate is written in the join condition
    * AFTER `d1 < d2`. Catalyst does not *contractually* guarantee
    * conjunct order, but measured both ways (sf0.1, warm): this form
    * keeps `d1 < d2 && dot >= t` and codegen short-circuits the And —
    * ~2.1 s; the "cleaner" project-then-filter form gets the filter
    * pushed back into the condition REORDERED as `dot >= t && d1 < d2`,
    * running the kernel on every ordered pair — ~4.3 s. The projection
    * re-computes the dot only for the handful of matched rows.
    * Unordered; queries order at presentation. */
  def nearDupPairs(spark: SparkSession, dir: String, threshold: Double): DataFrame =
    nearDupPairsOf(vecsNorm(spark, dir), threshold)

  /** [[nearDupPairs]] over any unit-normalized `(vec_id, u)` frame. */
  def nearDupPairsOf(vn: DataFrame, threshold: Double): DataFrame = {
    val a = vn.select(col("vec_id").as("d1"), col("u").as("v1"))
    val b = vn.select(col("vec_id").as("d2"), col("u").as("v2"))
    a.join(b, col("d1") < col("d2") &&
        round(dot(col("v1"), col("v2")), 4) >= threshold)
      .select(col("d1"), col("d2"), round(dot(col("v1"), col("v2")), 4).as("sim"))
  }

  /** LSH-bucketed near-dup: candidates from `tables` independent
    * hyperplane tables of `bits` bits (one fused native expression,
    * graft.functions.HyperplaneLshExpr), verified with exact cosine.
    * Per-bucket self-join keys are (table, bucket) — shuffle on small
    * fixed-width keys, pair generation bounded by bucket size; AQE handles
    * skewed buckets. Recall = 1-(1-(1-θ/π)^bits)^tables.
    * Unordered; queries order at presentation. */
  def lshNearDup(spark: SparkSession, dir: String, threshold: Double,
                 tables: Int = 16, bits: Int = 8): DataFrame =
    lshNearDupOf(vecs(spark, dir), vecsNorm(spark, dir),
      threshold, tables, bits)

  /** [[lshNearDup]] over any raw `(vec_id, v)` frame and its
    * unit-normalized `(vec_id, u)` twin. */
  def lshNearDupOf(v: DataFrame, vn: DataFrame, threshold: Double,
                   tables: Int = 16, bits: Int = 8): DataFrame = {
    // ids-only bucket rows: the self-join shuffles (table, bucket, id) —
    // never the vector payload. Hyperplane signs are computed on the raw
    // vectors (sign(w·v) == sign(w·u), so buckets are normalization-
    // invariant); the exact verify then runs on unit vectors, one fused
    // dot per candidate (same kernel as nearDupPairs, so LSH ⊆ brute
    // holds bit-for-bit at the rounding boundary).
    val sigs = v.select(
      col("vec_id"),
      posexplode(
        graft.functions.HyperplaneLshExpr.lshBuckets(col("v"), tables, bits)))
      .withColumnsRenamed(Map("pos" -> "t", "col" -> "bucket"))
    val cand = sigs.select(col("t"), col("bucket"), col("vec_id").as("d1"))
      .join(sigs.select(col("t"), col("bucket"), col("vec_id").as("d2")), Seq("t", "bucket"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
      .distinct()
    cand
      .join(vn.select(col("vec_id").as("d1"), col("u").as("v1")), Seq("d1"))
      .join(vn.select(col("vec_id").as("d2"), col("u").as("v2")), Seq("d2"))
      .select(col("d1"), col("d2"), round(dot(col("v1"), col("v2")), 4).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** IVF-style search: centroids = per-label mean vector (elementwise
    * array aggregate — a plain groupBy at any scale); each query probes
    * only its nearest centroid's partition. Demonstrates the
    * coarse-quantizer architecture (here the given labels stand in for
    * k-means cells). */
  def annIvf(spark: SparkSession, dir: String, k: Int = 5,
             nQueries: Int = 10): DataFrame = {
    val v = vecs(spark, dir)
    val centroids = labelCentroids(v)
    val cells = v.select(col("vec_id"), col("v"), col("label").as("cell"))
    ivfSearch(cells, centroids, k, nQueries)
  }

  /** Per-label mean vectors (cell, centroid) through the shared exact
    * update [[KMeans.groupMeans]]: per-(label, dim) decimal sums,
    * order-independent, so centroids are bit-stable under any
    * partitioning. (A collect_list fold of double additions is not: its
    * accumulation order follows task scheduling, and the run-to-run
    * centroid jitter can flip nearest-cell assignments.) */
  private[graft] def labelCentroids(v: DataFrame): DataFrame =
    KMeans.groupMeans(v, Seq("label"), "v", "centroid")
      .withColumnRenamed("label", "cell")

  /** IVF over LEARNED cells: k-means centroids (similarity.KMeans) as the
    * coarse quantizer, corpus partitioned by its k-means assignment.
    * `nprobe` > 1 widens the search to that many nearest cells. The
    * neighbor list is the result checkpoint, so the fitted model can be
    * freed. */
  def annIvfKmeans(spark: SparkSession, dir: String, k: Int = 5,
                   nQueries: Int = 10, cells: Int = 10, iters: Int = 3,
                   nprobe: Int = 1): DataFrame =
    Pins.result(pins => ivfKmeans(pins, spark, dir, k, nQueries, cells,
      iters, nprobe))

  /** [[annIvfKmeans]]'s search plan over a model pinned in `pins`. */
  private def ivfKmeans(pins: Pins, spark: SparkSession, dir: String,
      k: Int, nQueries: Int, cells: Int, iters: Int,
      nprobe: Int): DataFrame = {
    val v = vecs(spark, dir)
    val model = pins.own(KMeans.fit(v, cells, iters))
      .select(col("cluster").as("cell"), col("centroid"))
    val assigned = KMeans.assign(v, model.select(col("cell").as("cluster"), col("centroid")))
      .select(col("vec_id"), col("v"), col("cluster").as("cell"))
    ivfSearch(assigned, model, k, nQueries, nprobe)
  }

  /** q76 — ANN recall accounting: per-query recall@k of the learned-IVF
    * multiprobe search against the exact brute-force top-k — the honest
    * quality ledger every approximate index needs shipped next to it
    * (an ANN operator without a measured recall is an unbounded
    * approximation). Pure DataFrame composition of the two searches: an
    * inner join on (query, neighbor) counts the overlap, a left join
    * restores queries with zero hits. Differential by construction, so
    * the driver check is rows-only; RecallSpec pins the bounds (recall
    * ∈ [0,1], and nprobe = #cells ⇒ recall 1.0). The ledger is the
    * result checkpoint, so the fitted model can be freed. */
  def q76(spark: SparkSession, dir: String, k: Int = 10, nQueries: Int = 20,
          cells: Int = 10, iters: Int = 3, nprobe: Int = 2): DataFrame =
    Pins.result { pins =>
      val brute = annTruthStanding(spark, dir, k, nQueries)
      val approx = ivfKmeans(pins, spark, dir, k, nQueries, cells, iters, nprobe)
        .select(col("q_id"), col("n_id"))
      val hits = brute.join(approx, Seq("q_id", "n_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
      brute.groupBy(col("q_id")).agg(count(lit(1)).as("n_true"))
        .join(hits, Seq("q_id"), "left_outer")
        .select(col("q_id"),
          coalesce(col("n_hit"), lit(0L)).cast(IntegerType).as("n_hit"),
          col("n_true").cast(IntegerType).as("n_true"),
          round(coalesce(col("n_hit"), lit(0L)).cast(DoubleType) /
            col("n_true"), 4).as("recall"))
        .orderBy(col("q_id"))
    }

  /** q105 — SEMANTIC dedup cluster collapse: the embedding-space
    * counterpart of q66's token-space clusters, completing the dedup
    * tier symmetry (exact fingerprint → token near-dup → semantic
    * near-dup). Documents whose embeddings sit within `threshold` cosine
    * are near-duplicate EDGES; the groups a curation run drops are the
    * connected components of that graph, one keeper (min vec_id) per
    * cluster with size and sorted member list — q66's presentation over
    * cosine edges.
    *
    * Unlike q66 (minhash-dependent edges → rows-only check), this
    * composition is oracle-checked END-TO-END: the exact pair kernel is
    * the q31 deterministic-double discipline (normalize → in-order fused
    * dot → round 4) that DuckDB reproduces bit-for-bit, and the cluster
    * collapse is integer/string-exact, so the oracle computes the same
    * clusters via recursive-CTE reachability.
    *
    * Scale posture: pair generation is a PARAMETER (`candidates`). The
    * default `"exact"` is the declared all-pairs verifier (the q31/q28
    * posture — quadratic in corpus similarity density, the right tool at
    * verification scale). `"lsh"` is the 100 TB path — lshNearDup's
    * bucketed hyperplane candidates, verified per pair by the SAME exact
    * rounded-dot kernel, feeding the SAME collapse (hyperplane recall is
    * high precisely in the τ ≥ 0.9 regime real semantic dedup runs at;
    * q111 runs this path non-vacuously on the planted-twin corpus and
    * SimilaritySpec proves the two candidate sources yield identical
    * clusters there). Collapse + presentation are candidate-agnostic —
    * label propagation and a bounded per-cluster aggregate; the label
    * table is consumed into the bounded presentation aggregate. */
  def q105(spark: SparkSession, dir: String, threshold: Double = 0.4,
           candidates: String = "exact"): DataFrame = {
    val pairs = candidates match {
      case "exact" => nearDupPairs(spark, dir, threshold)
      case "lsh"   => lshNearDup(spark, dir, threshold)
      case other => throw new IllegalArgumentException(
        s"unknown candidate source '$other' (expected 'exact' or 'lsh')")
    }
    collapse(pairs.select(col("d1").as("src"), col("d2").as("dst")))
  }

  /** The shared cluster-collapse presentation over any verified pair
    * frame `(src, dst)`: connected components → one row per cluster with
    * the min-id keeper, size, and sorted member list (q66's presentation
    * over embedding-space edges), checkpointed as the result. */
  private def collapse(pairs: DataFrame): DataFrame = Pins.result { pins =>
    val labels = pins.own(graft.dedup.Components.connectedComponents(pairs))
    labels
      .groupBy(col("comp"))
      .agg(
        count(lit(1)).cast(IntegerType).as("n_vecs"),
        array_join(sort_array(collect_set(col("id").cast(StringType))), ",")
          .as("vecs"))
      .select(col("comp").as("keeper_vec"), col("n_vecs"), col("vecs"))
      .orderBy(col("keeper_vec"))
  }

  /** Offset separating planted twin ids from every real vec_id — the
    * augmented corpus stays collision-free as long as the fixture's ids
    * are below it (spec-checked). */
  val PlantOffset = 1000000L

  /** The embeddings corpus AUGMENTED with deterministic planted
    * near-duplicates: every `plantEvery`-th vector re-enters as
    * `vec_id + PlantOffset` with its first dimension scaled by 1.01 — a
    * cosine ≈ 0.9999 twin. Pure deterministic arithmetic (no rand()),
    * expressed identically in the DuckDB oracle, so the augmented corpus
    * is a FIXTURE both engines derive bit-for-bit. This is what makes
    * the LSH candidate path demonstrable: the synthetic embeddings have
    * no natural pairs above cosine 0.7 (ARCHITECTURE.md), so without
    * planting, any τ ≥ 0.9 run — exactly the regime hyperplane LSH is
    * built for — would be vacuous. */
  def augmentedVecs(spark: SparkSession, dir: String,
                    plantEvery: Int = 100): DataFrame = {
    val base = vecs(spark, dir).select(col("vec_id"), col("v"))
    val planted = base
      .where(col("vec_id") % plantEvery === 0)
      .select(
        (col("vec_id") + lit(PlantOffset)).as("vec_id"),
        transform(sequence(lit(1), size(col("v"))),
          i => when(i === 1, element_at(col("v"), i) * lit(1.01d))
            .otherwise(element_at(col("v"), i))).as("v"))
    base.unionAll(planted)
  }

  /** Unit-normalize any raw `(vec_id, v)` frame — the [[vecsNorm]]
    * discipline (NULL unit vector on zero norm) without the label
    * column. */
  def normalized(v: DataFrame): DataFrame =
    v.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id"),
        when(col("nrm") === 0.0d, lit(null).cast(ArrayType(DoubleType)))
          .otherwise(transform(col("v"), x => x / col("nrm"))).as("u"))

  /** q111 — q105's semantic collapse with the SCALE candidate path LIVE:
    * hyperplane-LSH bucketed candidates (lshNearDupOf) instead of the
    * exact all-pairs verifier, run at τ = 0.9 — the regime real semantic
    * dedup operates in — over the planted-twin corpus ([[augmentedVecs]])
    * so the path is exercised NON-vacuously: every planted twin must be
    * found through the bucket join, verified by the exact rounded-dot
    * kernel, and collapsed with its source.
    *
    * Oracle premise (the q47/q66/q103 pattern): at cosine ≈ 0.9999 the
    * per-pair LSH miss probability is (1−p^bits)^tables with
    * p = 1−θ/π ≈ 0.9955 — about 5e-24 — and the hyperplanes are
    * hash-derived constants, so candidate recall 1 on this fixture is a
    * fixed fact, spec-asserted at both gate SFs (SimilaritySpec). Under
    * it the verified LSH pair set EQUALS exact all-pairs at τ, so the
    * DuckDB twin derives the same augmented corpus arithmetically and
    * computes the same clusters from exact pairs + recursive-CTE
    * reachability. Collapse and presentation are q105's, unchanged. */
  def q111(spark: SparkSession, dir: String, threshold: Double = 0.9,
           plantEvery: Int = 100): DataFrame = {
    val aug = augmentedVecs(spark, dir, plantEvery)
    val pairs = lshNearDupOf(aug, normalized(aug), threshold)
    collapse(pairs.select(col("d1").as("src"), col("d2").as("dst")))
  }

  /** Shared IVF probe: assign each query vector to its `nprobe` nearest
    * centroids (broadcast), then search only those cells' partitions.
    * nprobe is the standard IVF recall/cost dial — cells touched per
    * query scale linearly and recall approaches brute-force as
    * nprobe → #cells (monotonicity is spec-asserted). Each corpus vector
    * lives in exactly one cell, so multi-probe never duplicates a
    * candidate. */
  private def ivfSearch(cells: DataFrame, centroids: DataFrame,
                        k: Int, nQueries: Int, nprobe: Int = 1): DataFrame = {
    val q = cells.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val wc = Window.partitionBy(col("q_id"))
      .orderBy(col("c_sim").desc, col("c_cell"))
    val assigned = q.crossJoin(broadcast(
        centroids.select(col("cell").as("c_cell"), col("centroid"))))
      .select(col("q_id"), col("qv"), col("c_cell"),
        cosine(col("qv"), col("centroid")).as("c_sim"))
      .withColumn("rnk", row_number().over(wc))
      .where(col("rnk") <= nprobe)
      .select(col("q_id"), col("qv"), col("c_cell"))
    val joined = broadcast(assigned)
      .join(cells, col("cell") === col("c_cell") && col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(cosine(col("qv"), col("v")), 4).as("sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    joined
      .withColumn("rank", row_number().over(w).cast(IntegerType))
      .where(col("rank") <= k)
      .orderBy(col("q_id"), col("rank"))
  }

  /** q137 — Johnson–Lindenstrauss random projection 64 → 16 dims
    * ([[graft.functions.RandomProjectExpr]]): the dimensionality-reduction
    * stage an embedding pipeline runs before indexing when the raw dims
    * are too wide to afford per-pair work. Pure map stage — one native
    * codegen'd kernel over the scan, no matrix broadcast (entries
    * re-derive from splitmix64 in-register), output exploded to
    * (vec_id, dim, value) rounded at 4 dp.
    *
    * The whole projection is cross-engine exact: matrix entries are
    * integer-arithmetic-derived and the accumulation is in-order doubles,
    * so the DuckDB oracle rebuilds every value bit-for-bit before the
    * final rounding. Distance-preservation (the reason this op exists) is
    * spec-asserted in SimilaritySpec. */
  def q137(spark: SparkSession, dir: String, outDims: Int = 16): DataFrame =
    vecs(spark, dir)
      .select(col("vec_id"),
        posexplode(graft.functions.RandomProjectExpr.project(col("v"), outDims)))
      .select(col("vec_id"), col("pos").cast(IntegerType).as("dim"),
        round(col("col"), 4).as("value"))
      .orderBy(col("vec_id"), col("dim"))

  /** q183 — HARD-NEGATIVE MINING for contrastive embedding training:
    * per query, the k nearest neighbors whose LABEL DIFFERS from the
    * query's — the examples a contrastive loss learns the most from —
    * each annotated with its `margin` against the query's hardest
    * POSITIVE (max same-label sim): `margin = sim − pos_sim`, the
    * quantity triplet/InfoNCE mining thresholds on (a negative at
    * positive-level similarity is the hard case; margin NULL when the
    * query's label has no other member). The label exclusion is
    * non-vacuous on this fixture: same-label rows DO crack the
    * unfiltered q32 top-k (SimilaritySpec pins it), so mined ranks
    * genuinely differ from raw ANN ranks.
    *
    * Scale shape: q32's — the query side is BROADCAST and the corpus
    * streams (two map-only passes: one for the negative candidates,
    * one conditional max for the hardest positives — each a bare fused
    * dot on unit vectors), then a per-query top-k. At 1000 executors
    * the corpus is never shuffled; only (query × corpus-partition)
    * partials move. Cross-engine exact: round-4 sims, margin as the
    * difference OF THE ROUNDED values re-rounded, in-order double
    * accumulation throughout. */
  def hardNegatives(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Int = 10): DataFrame = {
    val v = vecsNorm(spark, dir)
    val q = v.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("u").as("qu"))
    val scored = broadcast(q).join(v, col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("q_label"), col("vec_id").as("n_id"),
        col("label").as("n_label"),
        round(dot(col("qu"), col("u")), 4).as("sim"))
    val pos = scored.where(col("n_label") === col("q_label"))
      .groupBy(col("q_id")).agg(max(col("sim")).as("pos_sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id"))
    scored.where(col("n_label") =!= col("q_label"))
      .withColumn("rank", row_number().over(w).cast(IntegerType))
      .where(col("rank") <= k)
      .join(broadcast(pos), Seq("q_id"), "left_outer")
      .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"),
        col("sim"), col("rank"),
        round(col("sim") - col("pos_sim"), 4).as("margin"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** q190 — METADATA-FILTERED ANN ("filtered vector search"): top-k
    * neighbors restricted to vectors whose DOCUMENT passes a metadata
    * predicate (lang = 'en') — the retrieval shape every RAG stack
    * actually runs, because production queries carry filters (tenant,
    * language, date range) and a vector index alone can't apply them.
    * Strategy is PRE-FILTER: the predicate semi-joins the corpus
    * BEFORE scoring, so the top-k is always filled from eligible
    * candidates — the POST-filter alternative (take top-k, then drop
    * ineligible rows) under-fills k whenever the predicate is
    * selective, and SimilaritySpec pins that contrast on this fixture.
    * Queries themselves are NOT restricted (a query may be any doc;
    * its neighbors must be eligible).
    *
    * Scale shape: the predicate side is a column-pruned documents scan
    * semi-joined on the id (the join a lakehouse pays anyway to bind
    * vectors to metadata); after it, exactly q32's broadcast-query
    * streaming-corpus kernel over the surviving rows. Cross-engine
    * exact under the q32 round-4 discipline. */
  def filteredAnn(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Int = 10, lang: String = "en"): DataFrame = {
    val eligible = graft.core.Tables(spark, dir, "documents")
      .where(col("lang") === lang)
      .select(col("doc_id").as("vec_id"))
    val v = vecsNorm(spark, dir).join(eligible, Seq("vec_id"), "left_semi")
    val q = vecsNorm(spark, dir).where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("u").as("qu"))
    val joined = broadcast(q).join(v, col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(dot(col("qu"), col("u")), 4).as("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id"))
    joined
      .withColumn("rank", row_number().over(w).cast(IntegerType))
      .where(col("rank") <= k)
      .orderBy(col("q_id"), col("rank"))
  }

  /** q184 — the SCALE PATH for hard-negative mining: instead of scoring
    * every cross-label vector (q183's exact anchor), probe only the
    * `nprobe` foreign cells whose centroid is nearest the query — the
    * IVF posture (q33/q63) applied to mining, where the label structure
    * IS the coarse quantizer: every member of a foreign cell is a valid
    * negative by construction, so no per-candidate label test survives
    * into the scan. Per 100 TB query the work is ~nprobe/cells of the
    * corpus; recall is the standard IVF dial (monotone in nprobe,
    * spec-asserted), and at nprobe = cells−1 the result is
    * BIT-FOR-BIT q183 (SimilaritySpec — the exactness anchor that
    * makes the pruned path auditable). Sims, tie-breaks, and margin
    * are exactly q183's (unit-vector fused dot, round-4); centroids
    * are the decimal-exact per-label means ([[labelCentroids]]), so
    * the DuckDB twin reproduces cell ranking and pricing alike. */
  def hardNegativesIvf(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Int = 10, nprobe: Int = 3): DataFrame = {
    val vn = vecsNorm(spark, dir)
    val centroids = labelCentroids(vecs(spark, dir))
    val q = vn.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("u").as("qu"))
    val wc = Window.partitionBy(col("q_id"))
      .orderBy(col("c_sim").desc, col("c_cell"))
    val probed = q.crossJoin(broadcast(
        centroids.select(col("cell").as("c_cell"), col("centroid"))))
      .where(col("c_cell") =!= col("q_label"))
      .withColumn("c_sim", cosine(col("qu"), col("centroid")))
      .withColumn("rnk", row_number().over(wc))
      .where(col("rnk") <= nprobe)
      .select(col("q_id"), col("q_label"), col("qu"), col("c_cell"))
    val joined = broadcast(probed)
      .join(vn, col("label") === col("c_cell"))
      .select(col("q_id"), col("q_label"), col("vec_id").as("n_id"),
        col("label").as("n_label"),
        round(dot(col("qu"), col("u")), 4).as("sim"))
    val pos = broadcast(q).join(vn,
        col("label") === col("q_label") && col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"))
      .agg(max(round(dot(col("qu"), col("u")), 4)).as("pos_sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id"))
    joined.withColumn("rank", row_number().over(w).cast(IntegerType))
      .where(col("rank") <= k)
      .join(broadcast(pos), Seq("q_id"), "left_outer")
      .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"),
        col("sim"), col("rank"),
        round(col("sim") - col("pos_sim"), 4).as("margin"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Squared L2 distance as a strict LEFT-TO-RIGHT fold over the 64
    * dimensions — the operation order is part of the q204 contract (the
    * DuckDB oracle replays the identical fold via list_reduce, so every
    * intermediate double is bit-equal and the arg-max picks the same
    * vector on both engines). */
  private def sqdist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, v) => acc + v)

  /** q204 — CORESET SELECTION by greedy k-center (Gonzalez 1985
    * farthest-point traversal, the 2-approximation for metric k-center;
    * the diversity-coverage selector of modern data-curation pipelines —
    * "pick the k docs that together SPAN the embedding space", the
    * complement of q192's importance sampling and q132's novelty
    * scoring): seed with the smallest vec_id, then k−1 times select the
    * vector FARTHEST from everything chosen so far (max-min distance,
    * ties to the smaller vec_id).
    *
    * Scale shape: the classic sequential algorithm distributes cleanly
    * because the state per round is ONE new center — each round is a
    * map-only pass updating every vector's running min-distance against
    * the broadcast new center (64 fused multiply-adds/row) plus a top-1
    * reduction (TakeOrderedAndProject: per-partition top-1, never a
    * global sort), so k centers cost k linear passes at any corpus size.
    * Per-round localCheckpoint keeps the plan O(1) deep (the k-means
    * discipline); superseded rounds freed immediately.
    *
    * Determinism: distances are double folds in a pinned operation order
    * (see [[sqdist]]), the seed and all ties are vec_id-keyed, and the
    * output carries selection metadata only (round, id, label) — no
    * floats. Bit-stable under any partitioning; full DuckDB oracle. */

  def q204(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    Pins.result { pins =>
      val v = pins.pin(vecs(spark, dir))
      // the 1-row center frames stay pinned until the output materializes
      // (the union reads them)
      val seed = pins.pin(v.orderBy(col("vec_id")).limit(1))
      var picks = List(seed.select(lit(0).cast(IntegerType).as("sel_round"),
        col("vec_id"), col("label")))
      var state = pins.pin(v
        .crossJoin(broadcast(seed.select(col("v").as("cv"))))
        .select(col("vec_id"), col("label"), col("v"),
          sqdist(col("v"), col("cv")).as("md")))
      for (r <- 1 until k) {
        val next = pins.pin(state.orderBy(col("md").desc, col("vec_id")).limit(1))
        picks = next.select(lit(r).cast(IntegerType).as("sel_round"),
          col("vec_id"), col("label")) :: picks
        if (r < k - 1) { // the last pick needs no distance update
          val newState = pins.pin(state.as("s")
            .crossJoin(broadcast(next.select(col("v").as("cv"))))
            .select(col("s.vec_id"), col("s.label"), col("s.v"),
              least(col("md"), sqdist(col("s.v"), col("cv"))).as("md")))
          pins.release(state)
          state = newState
        }
      }
      picks.reduce(_ unionByName _).orderBy(col("sel_round"))
    }
}
