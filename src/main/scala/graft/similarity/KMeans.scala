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
  *  - update: per-(cluster, dimension) DECIMAL sums via posexplode — exact
  *    and therefore ORDER-INDEPENDENT (no sorted collect_list fold, whose
  *    per-cluster array would not fit one task at 100 TB); the centroid
  *    array is reassembled from the 64 per-dim means
  *  - each iteration's k-row centroid table is localCheckpoint'ed, so plan
  *    depth stays O(1) in the iteration count instead of O(iters)
  *
  * Per iteration: one map pass + one narrow (cluster, dim)-keyed aggregate.
  */
object KMeans {

  private val SumDec = DecimalType(38, 14)

  /** Returns (cluster, centroid: array<double>) after `iters` Lloyd steps.
    * `sumType` picks the per-dimension reduction arithmetic: the default
    * DECIMAL(38,14) is exact and therefore order-independent (bit-stable
    * under any partitioning / AQE re-plan / task retry — the property the
    * determinism specs pin); DoubleType sums are faster but their value
    * depends on reduction order, so only the decimal form is the library
    * default. Measured at sf0.1 (see ARCHITECTURE.md): the decimal tax is
    * well under the 2× line, so exactness wins. */
  def fit(vecs: DataFrame, k: Int, iters: Int,
          sumType: NumericType = SumDec): DataFrame = {
    var centroids = vecs.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id"), col("v"))
      .withColumn("cluster",
        row_number().over(Window.orderBy(col("vec_id"))).cast(IntegerType) - 1)
      .select(col("cluster"), col("v").as("centroid"))

    // round 0 is an un-checkpointed plan (nothing pinned); the last round
    // is the caller's (a direct checkpoint once iters > 0)
    Pins.scope { pins =>
      (1 to iters).foreach { i =>
        val next = assign(vecs, centroids)
          .select(col("cluster"), posexplode(col("v")))
          .groupBy(col("cluster"), col("pos"))
          .agg(sum(col("col").cast(sumType)).as("s"), count(lit(1)).as("cnt"))
          .groupBy(col("cluster"))
          .agg(array_sort(collect_list(struct(
            col("pos"),
            (col("s").cast(DoubleType) / col("cnt")).as("m")))).as("dims"))
          .select(col("cluster"),
            transform(col("dims"), d => d.getField("m")).as("centroid"))
        val ck = pins.pin(next) // eager: prior round no longer referenced
        // free the superseded round's checkpoint storage
        if (i > 1) pins.release(centroids)
        centroids = ck
      }
      pins.disown(centroids)
    }
  }

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
