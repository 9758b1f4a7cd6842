package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Pins
import graft.queries.EmbeddingQueries

/** Spherical k-means (cosine objective) as pure iterated DataFrame graphs —
  * Lloyd's algorithm with no driver-side math:
  *
  *  - init: the k lowest vec_ids (deterministic, no RNG)
  *  - assign: centroids packed into ONE broadcast row (array of k structs);
  *    argmax cosine is a fold over that array inside a single projection —
  *    map-only, no per-vector window shuffle, ties broken toward the lower
  *    cluster id (strict `>` over an id-sorted array)
  *  - update: [[groupMeans]] — per-(cluster, dimension) DECIMAL sums,
  *    exact and therefore ORDER-INDEPENDENT; the same update trains Pq's
  *    product codebook and builds Similarity's per-label centroids
  *  - each iteration's k-row centroid table is localCheckpoint'ed, so plan
  *    depth stays O(1) in the iteration count instead of O(iters)
  *
  * Per iteration: one map pass + one narrow (cluster, dim)-keyed aggregate.
  */
object KMeans {

  /** Returns (cluster, centroid: array<double>) after `iters` Lloyd steps
    * of [[assign]] + [[groupMeans]]. */
  def fit(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    var centroids = vecs.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id"), col("v"))
      .withColumn("cluster",
        row_number().over(Window.orderBy(col("vec_id"))).cast(IntegerType) - 1)
      .select(col("cluster"), col("v").as("centroid"))

    // round 0 is an un-checkpointed plan (nothing pinned); the last round
    // is the caller's (a direct checkpoint once iters > 0)
    Pins.scope { pins =>
      (1 to iters).foreach { i =>
        val next = groupMeans(assign(vecs, centroids), Seq("cluster"), "v",
          "centroid")
        val ck = pins.pin(next) // eager: prior round no longer referenced
        // free the superseded round's checkpoint storage
        if (i > 1) pins.release(centroids)
        centroids = ck
      }
      pins.disown(centroids)
    }
  }

  /** The exact per-group mean-vector update: (keys…, `out`) with `out`
    * the elementwise mean of the array column `vec` over each group of
    * `rows`. Per-(group, dimension) DECIMAL(38,14) sums via posexplode are
    * exact and therefore ORDER-INDEPENDENT — bit-stable under any
    * partitioning, AQE re-plan or task retry (the property the
    * determinism specs pin); a double sum's value would follow the
    * reduction order. Per-group state is one decimal per dim, never a
    * collected array, and the mean array is reassembled from the per-dim
    * means. The one update behind [[fit]], Pq's codebook training and
    * `Similarity.labelCentroids`. Measured at sf0.1 (see
    * ARCHITECTURE.md): the decimal tax is well under the 2× line. */
  private[graft] def groupMeans(rows: DataFrame, keys: Seq[String],
      vec: String, out: String): DataFrame =
    rows.select(keys.map(col(_)) :+ posexplode(col(vec)): _*)
      .groupBy((keys :+ "pos").map(col(_)): _*)
      .agg(sum(col("col").cast(DecimalType(38, 14))).as("sm"),
        count(lit(1)).as("cnt"))
      .groupBy(keys.map(col(_)): _*)
      .agg(array_sort(collect_list(struct(col("pos"),
        (col("sm").cast(DoubleType) / col("cnt")).as("v")))).as("dims"))
      .select(keys.map(col(_)) :+
        transform(col("dims"), d => d.getField("v")).as(out): _*)

  /** Nearest-centroid assignment: (vec_id, v, cluster, sim). Map-only:
    * the k centroids ride along as one broadcast array-of-structs row and
    * the argmax is a per-row fold — nothing shuffles but the broadcast.
    * A degenerate cosine (NULL on zero-norm, NaN on NaN element) is floored to -1.5,
    * strictly above the -2.0 fold seed, so every row — degenerate or not —
    * lands in a REAL cluster (the lowest id, since the array is id-sorted
    * and the comparison is strict `>`), never in a phantom sentinel one. */
  def assign(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    val packed = centroids
      .agg(array_sort(collect_list(struct(col("cluster"), col("centroid"))))
        .as("cents"))
    val best = aggregate(
      col("cents"),
      struct(lit(Int.MaxValue).as("cluster"), lit(-2.0d).as("sim")),
      (acc, c) => {
        val s0 = EmbeddingQueries.cosine(col("v"), c.getField("centroid"))
        // degenerate similarity (NaN element → NaN; zero-norm → NULL since
        // the kernel follows Divide semantics) floors to -1.5
        val s = when(isnan(s0) || isnull(s0), lit(-1.5d)).otherwise(s0)
        when(s > acc.getField("sim"),
          struct(c.getField("cluster").as("cluster"), s.as("sim")))
          .otherwise(acc)
      })
    vecs.crossJoin(broadcast(packed))
      .select(col("vec_id"), col("v"), best.as("best"))
      .select(col("vec_id"), col("v"),
        col("best.cluster").as("cluster"), col("best.sim").as("sim"))
  }

  /** q48 — k-means clustering summary: cluster sizes + mean within-cluster
    * cosine (the spherical k-means objective), rounded. Deterministic
    * (fixed init, exact-decimal reductions) but hash/float-pipeline
    * dependent — no cross-engine oracle; invariants are spec-tested. The
    * summary is the result checkpoint, so the fitted model can be freed. */
  def q48(spark: SparkSession, dir: String, k: Int = 10, iters: Int = 3): DataFrame =
    Pins.result { pins =>
      val vecs = EmbeddingQueries.vecs(spark, dir)
      val model = pins.own(fit(vecs, k, iters))
      assign(vecs, model)
        .groupBy(col("cluster"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("sim").cast(DecimalType(20, 8))).cast(DoubleType) /
            count(lit(1)), 4).as("mean_cos"))
        .orderBy(col("cluster"))
    }
}
