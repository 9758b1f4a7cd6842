package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Pins
import graft.queries.EmbeddingQueries.vecsNorm

/** Product quantization ANN (Jégou, Douze, Schmid 2011, "Product
  * Quantization for Nearest Neighbor Search" — public literature): split
  * the embedding into `m` subvectors, learn a small L2 k-means codebook
  * per subspace, store each vector as `m` byte-sized codes, and answer
  * queries with ASYMMETRIC DISTANCE (ADC): the query precomputes its
  * distance to every sub-centroid (an m×k table), and each corpus
  * vector's approximate distance is the SUM of m table lookups — no
  * original vectors are touched at query time.
  *
  * This is the memory-bound ANN tier the IVF family (q33/q50/q63) does
  * not cover: IVF prunes WHICH vectors are scored; PQ compresses WHAT
  * is stored per vector (64 f32 dims → m codes), which is what makes a
  * 100 TB embedding corpus fit an index at all. The two COMPOSE (q167 —
  * the IVF-PQ layout every production vector store runs): coarse cells
  * bound the candidate set, PQ codes price each candidate.
  *
  * Scale shape: codebook training touches only subvectors (k·m centroid
  * rows of state, decimal-exact means — the annIvf update discipline);
  * encoding is map-only against the broadcast codebook; the ADC scan is
  * one broadcast join of the (q, s, code) distance table against the
  * exploded code column + a (q, vec) aggregate — linear in corpus ×
  * queries, shuffle keys are tiny (q_id, vec_id) pairs. Distance-table
  * entries are rounded to DECIMAL(18,9) so the per-pair ADC sum is
  * order-independent (the repo's decimal-exact discipline — a double
  * sum's accumulation order would jitter ranks across retries).
  */
object Pq {

  /** Squared L2 between two equal-length double arrays — an in-order
    * fold, deterministic per pair. */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, v) => acc + v)

  /** Subvector `s` of the unit vector column `u`. */
  private def subCol(s: Int, sub: Int): Column = slice(col("u"), s * sub + 1, sub)

  /** The nearest sub-centroid's code for `sv` over a PER-SUBSPACE
    * (code, cent) array — an in-order fold, ties to the lowest code
    * (the array is sorted by code). The subspace's array arrives via a
    * broadcast join on `s`, so the fold touches k entries, not m·k:
    * the earlier single-packed-row form re-filtered all m·k structs on
    * EVERY (vec, s) row and was the dominant cost of the PQ tier. Fold
    * order (code ascending) is unchanged, so codes — and therefore the
    * whole tier — are bit-identical to the previous form. */
  private def nearestCode(cbs: Column): Column =
    aggregate(cbs,
      struct(lit(-1).cast(IntegerType).as("code"),
        lit(Double.MaxValue).as("d2")),
      (acc, c) => {
        val d = l2sq(col("sv"), c.getField("cent"))
        when(d < acc.getField("d2"),
          struct(c.getField("code").as("code"), d.as("d2")))
          .otherwise(acc)
      }).getField("code")

  /** Codebook packed per subspace: (s, cbs) with cbs the code-ascending
    * (code, cent) array — the broadcast build side for assign/encode. */
  private def packPerSubspace(codebook: DataFrame): DataFrame =
    codebook.groupBy(col("s"))
      .agg(array_sort(collect_list(
        struct(col("code"), col("cent")))).as("cbs"))

  /** Train the m×k product codebook over `corpus` (vec_id, u) — ALL m
    * subspaces in ONE dataflow: the corpus explodes once into
    * (vec_id, s, sv) rows, each round is a single broadcast-assign pass
    * + one (s, code, dim)-keyed decimal-exact mean (the annIvf update
    * discipline), so `iters` rounds cost `iters` jobs regardless of m —
    * the per-subspace sequential form ran m·iters rounds and was the
    * bench's slowest query at m = 8. Deterministic init: each
    * subspace's first k vectors by vec_id (the KMeans.fit convention).
    * Returns (s, code, cent) as a direct checkpoint the caller owns. */
  private def trainCodebook(corpus: DataFrame, m: Int, sub: Int, k: Int,
      iters: Int): DataFrame = {
    val subRows = corpus.select(col("vec_id"),
      posexplode(array((0 until m).map(subCol(_, sub)): _*)))
      .withColumnsRenamed(Map("pos" -> "s", "col" -> "sv"))
    val ws = Window.partitionBy(col("s")).orderBy(col("vec_id"))
    Pins.scope { pins =>
      var cents = pins.pin(subRows
        .withColumn("rn", row_number().over(ws))
        .where(col("rn") <= k)
        .select(col("s"), (col("rn") - 1).cast(IntegerType).as("code"),
          col("sv").as("cent")))
      for (_ <- 1 to iters) {
        val next = pins.pin(
          subRows.join(broadcast(packPerSubspace(cents)), Seq("s"))
            .select(col("s"), nearestCode(col("cbs")).as("code"), col("sv"))
            .select(col("s"), col("code"), posexplode(col("sv")))
            .groupBy(col("s"), col("code"), col("pos"))
            .agg(sum(col("col").cast(DecimalType(28, 14))).as("sm"),
              count(lit(1)).as("cnt"))
            .groupBy(col("s"), col("code"))
            .agg(array_sort(collect_list(struct(col("pos"),
              (col("sm").cast(DoubleType) / col("cnt")).as("v")))).as("dims"))
            .select(col("s"), col("code"),
              transform(col("dims"), d => d.getField("v")).as("cent")))
        pins.release(cents)
        cents = next
      }
      pins.disown(cents)
    }
  }

  /** Encode `corpus` against the codebook: (vec_id, s, code) — map-only
    * against the broadcast packed codebook. */
  private[graft] def encodeCodes(corpus: DataFrame, codebook: DataFrame, m: Int,
      sub: Int): DataFrame =
    corpus.select(col("vec_id"),
      posexplode(array((0 until m).map(subCol(_, sub)): _*)))
      .withColumnsRenamed(Map("pos" -> "s", "col" -> "sv"))
      .join(broadcast(packPerSubspace(codebook)), Seq("s"))
      .select(col("vec_id"), col("s"), nearestCode(col("cbs")).as("code"))

  /** Per-query ADC distance table (q_id, s, code, d2): one decimal-
    * rounded entry per (query, subspace, sub-centroid). */
  private def distTable(queries: DataFrame, codebook: DataFrame, m: Int,
      sub: Int): DataFrame =
    queries.select(col("vec_id").as("q_id"),
      posexplode(array((0 until m).map(subCol(_, sub)): _*)))
      .withColumnsRenamed(Map("pos" -> "s", "col" -> "qsv"))
      .join(broadcast(codebook), Seq("s"))
      .select(col("q_id"), col("s"), col("code"),
        round(l2sq(col("qsv"), col("cent")), 9)
          .cast(DecimalType(18, 9)).as("d2"))

  /** Shortlist-then-refine + recall accounting shared by q164/q167:
    * ADC top-`shortlist` per query → exact re-rank on the original
    * vectors → recall@kTop against brute force. Returns the MATERIALIZED
    * ledger (the pinned inputs may be freed after this returns). */
  private def refineAndScore(spark: SparkSession, dir: String,
      corpus: DataFrame, queries: DataFrame, adc: DataFrame, kTop: Int,
      nQueries: Int, shortlist: Int,
      bruteOverride: Option[DataFrame] = None,
      materialize: Boolean = true): DataFrame = {
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").asc, col("vec_id").asc)
    val cand = adc
      .withColumn("rank", row_number().over(wAdc))
      .where(col("rank") <= shortlist)
      .select(col("q_id"), col("vec_id"))
    val refined = cand
      .join(queries.select(col("vec_id").as("q_id"), col("u").as("qu")),
        Seq("q_id"))
      .join(corpus.select(col("vec_id"), col("u")), Seq("vec_id"))
      .select(col("q_id"), col("vec_id"),
        round(graft.functions.DotProductExpr.dot(col("qu"), col("u")), 4)
          .as("sim"))
    val wRef = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val approx = refined
      .withColumn("rank", row_number().over(wRef))
      .where(col("rank") <= kTop)
      .select(col("q_id"), col("vec_id").as("n_id"))

    val brute = bruteOverride
      .getOrElse(Similarity.annTruthStanding(spark, dir, kTop, nQueries))
      .select(col("q_id"), col("n_id"))
    val hits = brute.join(approx, Seq("q_id", "n_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    // materialize (tiny: one row per query) BEFORE the pinned
    // codebook/corpus are freed — their lineage is truncated, so a
    // lazy result referencing them could not recompute after free
    val ledger = brute.groupBy(col("q_id")).agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("q_id"), "left_outer")
      .select(col("q_id"),
        coalesce(col("n_hit"), lit(0L)).cast(IntegerType).as("n_hit"),
        col("n_true").cast(IntegerType).as("n_true"),
        round(coalesce(col("n_hit"), lit(0L)).cast(DoubleType) /
          col("n_true"), 4).as("recall"))
      .orderBy(col("q_id"))
    if (materialize) ledger.localCheckpoint() else ledger
  }

  /** q164 — PQ-ADC recall ledger: encode the (unit-normalized) corpus
    * with an m×k learned product codebook, answer the q32 query set via
    * ADC over the WHOLE corpus, and report per-query recall@k against
    * the exact brute-force top-k — the same honest-accounting shape as
    * q76 (an ANN tier ships WITH its measured recall or it ships
    * unbounded). Shortlist-then-refine (Jégou §V.C): ADC picks
    * `shortlistFactor·kTop` candidates from codes alone; only those
    * fetch their original vector for an exact re-rank. Differential by
    * construction → rows-only driver check; PqSpec pins recall bounds
    * and the shortlist≥corpus ⇒ recall≡1 exactness anchor. */
  def q164(spark: SparkSession, dir: String, m: Int = 8, k: Int = 16,
           iters: Int = 3, kTop: Int = 10, nQueries: Int = 20,
           shortlistFactor: Int = 10): DataFrame = Pins.scope { pins =>
    val corpus = pins.pin(vecsNorm(spark, dir).where(col("u").isNotNull)
      .select(col("vec_id"), col("u")))
    val dim = corpus.select(size(col("u"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val codebook = pins.own(trainCodebook(corpus, m, sub, k, iters))
    val codes = encodeCodes(corpus, codebook, m, sub)
    val queries = corpus.where(col("vec_id") < nQueries)
    val dtable = distTable(queries, codebook, m, sub)
    val adc = codes.join(broadcast(dtable), Seq("s", "code"))
      .where(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adc"))
    refineAndScore(spark, dir, corpus, queries, adc, kTop, nQueries,
      shortlistFactor * kTop)
  }

  /** q167 — IVF-PQ: the composed production layout. A coarse k-means
    * quantizer (the q50 cosine KMeans) partitions the corpus into
    * `cells`; each query probes its `nprobe` nearest cells and prices
    * ONLY those cells' vectors with the PQ distance table; the shortlist
    * refines exactly as q164. Per query the ADC scan now touches
    * ~nprobe/cells of the corpus — the index does less work per query
    * at the cost of cell-miss recall, and the ledger REPORTS that cost
    * honestly (recall vs exact brute force, with q164's full-scan PQ as
    * the natural upper-bound comparison).
    *
    * Scale shape: everything q164 says, plus the candidate generation is
    * a broadcast of (q_id, cell) probe pairs against the cell-assigned
    * corpus — the 100 TB posture where cells are partitions and a query
    * reads nprobe of them. */
  /** The probe→ADC→refine tail shared by q167/q177: `codes` is the
    * cell-assigned encoded index (vec_id, s, code, cell); each query
    * probes its `nprobe` nearest cells by centroid cosine and prices
    * ONLY those cells' codes with its broadcast distance table; the
    * shortlist refines exactly as q164. */
  private def ivfPqLedger(spark: SparkSession, dir: String,
      corpus: DataFrame, codes: DataFrame, model: DataFrame,
      codebook: DataFrame, m: Int, sub: Int, kTop: Int, nQueries: Int,
      nprobe: Int, shortlist: Int,
      bruteOverride: Option[DataFrame] = None,
      materialize: Boolean = true): DataFrame = {
    import graft.queries.EmbeddingQueries.cosine
    val queries = corpus.where(col("vec_id") < nQueries)
    // probe list: nprobe nearest cells per query by centroid cosine
    val wc = Window.partitionBy(col("q_id"))
      .orderBy(col("c_sim").desc, col("cell"))
    val probes = queries.select(col("vec_id").as("q_id"), col("u"))
      .crossJoin(broadcast(model
        .select(col("cluster").as("cell"), col("centroid"))))
      .select(col("q_id"), col("cell"),
        cosine(col("u"), col("centroid")).as("c_sim"))
      .withColumn("rnk", row_number().over(wc))
      .where(col("rnk") <= nprobe)
      .select(col("q_id"), col("cell"))
    val dtable = distTable(queries, codebook, m, sub)
    // ADC restricted to probed cells: the (s, code) lookup join also
    // carries the probe's cell equality, so non-probed cells never
    // reach the aggregate
    val adc = codes
      .join(broadcast(dtable.join(probes, Seq("q_id"))),
        Seq("s", "code", "cell"))
      .where(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adc"), count(lit(1)).as("n_sub"))
      // a candidate is priced only if ALL m subspaces were looked up
      // inside a probed cell (they are — cell rides the vec row)
      .where(col("n_sub") === m)
      .select(col("q_id"), col("vec_id"), col("adc"))
    refineAndScore(spark, dir, corpus, queries, adc, kTop, nQueries,
      shortlist, bruteOverride, materialize)
  }

  def q167(spark: SparkSession, dir: String, m: Int = 8, k: Int = 16,
           iters: Int = 3, kTop: Int = 10, nQueries: Int = 20,
           cells: Int = 10, nprobe: Int = 3,
           shortlistFactor: Int = 10): DataFrame = Pins.scope { pins =>
    import graft.queries.EmbeddingQueries.vecs
    val corpus = pins.pin(vecsNorm(spark, dir).where(col("u").isNotNull)
      .select(col("vec_id"), col("u")))
    val dim = corpus.select(size(col("u"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    // coarse quantizer on the raw vectors (the q50 posture)
    val v = vecs(spark, dir)
    val model = pins.own(KMeans.fit(v, cells, iters))
    val codebook = pins.own(trainCodebook(corpus, m, sub, k, iters))
    val assigned = KMeans
      .assign(v, model.select(col("cluster"), col("centroid")))
      .select(col("vec_id"), col("cluster").as("cell"))
    val codes = encodeCodes(corpus, codebook, m, sub)
      .join(assigned, Seq("vec_id"))
    ivfPqLedger(spark, dir, corpus, codes, model, codebook, m, sub,
      kTop, nQueries, nprobe, shortlistFactor * kTop)
  }

  /** q177 — INCREMENTAL IVF-PQ ingest: q167 at the q106/q160 standing-
    * state posture. A production vector store does NOT retrain its
    * coarse cells or product codebook per ingest — both are FROZEN
    * state learned on the standing corpus (vec_id % 10 < 7, the repo's
    * base/batch convention), alongside the standing encoded index
    * (codes + cell assignments, PINNED). An arriving batch
    * (vec_id % 10 ≥ 7) is then handled entirely at BATCH scale:
    * encoded map-only against the frozen broadcast codebook
    * (encodeCodes touches only batch rows — its scan's filter is the
    * batch predicate), assigned to the frozen cells by one broadcast
    * argmax, and UNIONed with the standing index; queries probe the
    * merged index exactly as q167.
    *
    * The bind (PqSpec): union(standing, batch-encode) must equal the
    * MONOLITHIC one-pass encode of the full corpus against the same
    * frozen codebook/cells, row-for-row through the whole ledger —
    * encoding is per-row and state-free given the codebook, so ingest
    * ≡ rebuild (q160's batch==from-scratch discipline; a from-scratch
    * q167 would RETRAIN on the full corpus and is deliberately not the
    * bind — retraining is a different model, not a different path to
    * the same index).
    *
    * Scale shape: per ingest, everything new is O(batch) — the base is
    * touched only through its pinned codes; at 100 TB the standing
    * index is the table and this query is the loader's append path. */
  /** The frozen standing vector-store state shared by q177/q222 — the
    * pinned normalized corpus, coarse cells, product codebook, and the
    * encoded standing index, built ONCE PER PROCESS via
    * [[graft.core.StandingState]] (VERDICT r10 #2: a deployment persists
    * this; only the ingest/erasure leg belongs to each invocation's
    * cost). Never freed by callers. */
  private[graft] final case class PqStanding(corpus: DataFrame,
      model: DataFrame, codebook: DataFrame, standing: DataFrame, sub: Int)

  private[graft] def pqStanding(spark: SparkSession, dir: String, m: Int,
      k: Int, iters: Int, cells: Int): PqStanding =
    graft.core.StandingState.of(spark, "pq", dir, m, k, iters, cells) {
      import graft.queries.EmbeddingQueries.vecs
      val isBase = pmod(col("vec_id"), lit(10L)) < 7L
      val corpus = vecsNorm(spark, dir).where(col("u").isNotNull)
        .select(col("vec_id"), col("u")).localCheckpoint()
      val dim = corpus.select(size(col("u"))).head().getInt(0)
      require(dim % m == 0, s"dim $dim not divisible by m=$m")
      val sub = dim / m
      val v = vecs(spark, dir)
      val model = KMeans.fit(v.where(isBase), cells, iters)
      val codebook = trainCodebook(corpus.where(isBase), m, sub, k, iters)
      val standing = encodeCodes(corpus.where(isBase), codebook, m, sub)
        .join(KMeans.assign(v.where(isBase),
            model.select(col("cluster"), col("centroid")))
          .select(col("vec_id"), col("cluster").as("cell")),
          Seq("vec_id"))
        .localCheckpoint()
      PqStanding(corpus, model, codebook, standing, sub)
    }

  def q177(spark: SparkSession, dir: String, m: Int = 8, k: Int = 16,
           iters: Int = 3, kTop: Int = 10, nQueries: Int = 20,
           cells: Int = 10, nprobe: Int = 3,
           shortlistFactor: Int = 10): DataFrame = {
    import graft.queries.EmbeddingQueries.vecs
    val isBase = pmod(col("vec_id"), lit(10L)) < 7L
    val st = pqStanding(spark, dir, m, k, iters, cells)
    // the ingest leg (batch-scale — the per-invocation cost): encode +
    // assign the batch against the frozen broadcast state, union with
    // the standing index, probe the merged index
    val batch = encodeCodes(st.corpus.where(!isBase), st.codebook, m, st.sub)
      .join(KMeans.assign(vecs(spark, dir).where(!isBase),
          st.model.select(col("cluster"), col("centroid")))
        .select(col("vec_id"), col("cluster").as("cell")),
        Seq("vec_id"))
    ivfPqLedger(spark, dir, st.corpus, st.standing.unionByName(batch),
      st.model, st.codebook, m, st.sub, kTop, nQueries, nprobe,
      shortlistFactor * kTop)
  }

  /** The spec twin: identical frozen codebook/cells (trained on the
    * base), but the index built by ONE encode pass over the full
    * corpus — no standing pin, no union. PqSpec asserts q177 ≡ this,
    * bit for bit. */
  private[graft] def q177Monolithic(spark: SparkSession, dir: String,
      m: Int = 8, k: Int = 16, iters: Int = 3, kTop: Int = 10,
      nQueries: Int = 20, cells: Int = 10, nprobe: Int = 3,
      shortlistFactor: Int = 10): DataFrame =
    incrementalIvfPq(spark, dir, m, k, iters, kTop, nQueries, cells,
      nprobe, shortlistFactor, monolithic = true)

  /** q222 — ERASE FROM THE STANDING IVF-PQ INDEX, then ingest. q177's
    * standing state (frozen coarse cells + product codebook + the pinned
    * encoded index over the base corpus) serves an erasure request —
    * the base vectors with vec_id ≡ 0 (mod 10) are DELETED from the
    * standing codes by a broadcast anti-join (the index row is the
    * per-vector state; encoding is row-local, so nothing else must be
    * recomputed) — and the next batch then ingests exactly as q177:
    * map-only encode against the frozen broadcast codebook, one
    * broadcast cell argmax, union with the ERASED index.
    *
    * The MODEL (cells + codebook) deliberately stays: it was trained
    * before the request and is a model, not the subject's data — the
    * data-protection obligation is that the subject's VECTORS are no
    * longer stored or retrievable, which the index deletion delivers;
    * whether aggregate-trained parameters must also be re-fit is a
    * model-governance decision outside this query (re-fitting is q167
    * re-run on the erased corpus). Ground truth for the recall ledger is
    * brute force over the ERASED corpus — an erased vector is not a
    * legitimate neighbor — with the probe set unchanged.
    *
    * The bind (EraseStateSpec, the q177 discipline inverted): the
    * erased-then-ingested index must equal the MONOLITHIC one-pass
    * encode of the surviving corpus against the same frozen model, and
    * no erased vec_id may appear in the index or any shortlist.
    * Differential ledger → rows-only driver check (the q164 pattern).
    * Scale shape: q177's — everything O(batch) + O(request); the erased
    * index is the standing pin minus a broadcast anti-join. */
  def q222(spark: SparkSession, dir: String, m: Int = 8, k: Int = 16,
           iters: Int = 3, kTop: Int = 10, nQueries: Int = 20,
           cells: Int = 10, nprobe: Int = 3, shortlistFactor: Int = 10,
           modK: Long = 10L): DataFrame =
    erasedIvfPq(spark, dir, m, k, iters, kTop, nQueries, cells, nprobe,
      shortlistFactor, modK, monolithic = false)

  /** The spec twin: identical frozen model and erased-corpus truth, but
    * the index built by ONE encode pass over the surviving rows — no
    * standing pin, no delete, no union. EraseStateSpec asserts
    * q222 ≡ this, bit for bit. */
  private[graft] def q222Monolithic(spark: SparkSession, dir: String,
      m: Int = 8, k: Int = 16, iters: Int = 3, kTop: Int = 10,
      nQueries: Int = 20, cells: Int = 10, nprobe: Int = 3,
      shortlistFactor: Int = 10, modK: Long = 10L): DataFrame =
    erasedIvfPq(spark, dir, m, k, iters, kTop, nQueries, cells, nprobe,
      shortlistFactor, modK, monolithic = true)

  /** The frozen model over the erased merged index — `standing` is the
    * index (vec_id, s, code, cell), pinned in `pins` with the corpus,
    * model and codebook it was built from. EraseStateSpec's residual probe
    * (no erased id may remain) and equality surface. */
  private[graft] def q222Index(pins: Pins, spark: SparkSession, dir: String,
      m: Int = 8, k: Int = 16, iters: Int = 3, cells: Int = 10,
      modK: Long = 10L, monolithic: Boolean = false): PqStanding = {
    import graft.queries.EmbeddingQueries.vecs
    val isBase = pmod(col("vec_id"), lit(10L)) < 7L
    val isEr = isBase && pmod(col("vec_id"), lit(modK)) === 0L
    val corpus = pins.pin(vecsNorm(spark, dir).where(col("u").isNotNull)
      .select(col("vec_id"), col("u")))
    val dim = corpus.select(size(col("u"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val v = vecs(spark, dir)
    // FROZEN pre-request state: learned on the full standing corpus
    val model = pins.own(KMeans.fit(v.where(isBase), cells, iters))
    val codebook =
      pins.own(trainCodebook(corpus.where(isBase), m, sub, k, iters))
    val cents = model.select(col("cluster"), col("centroid"))
    def index(part: DataFrame, partV: DataFrame): DataFrame =
      encodeCodes(part, codebook, m, sub)
        .join(KMeans.assign(partV, cents)
          .select(col("vec_id"), col("cluster").as("cell")),
          Seq("vec_id"))
    val merged =
      if (monolithic) pins.pin(index(corpus.where(!isEr), v.where(!isEr)))
      else {
        val standing = pins.pin(index(corpus.where(isBase), v.where(isBase)))
        val erased = corpus.where(isEr).select(col("vec_id"))
        val erasedStanding = standing
          .join(broadcast(erased), Seq("vec_id"), "left_anti")
        val out = pins.pin(erasedStanding
          .unionByName(index(corpus.where(!isBase), v.where(!isBase))))
        pins.release(standing)
        out
      }
    PqStanding(corpus, model, codebook, merged, sub)
  }

  private def erasedIvfPq(spark: SparkSession, dir: String, m: Int,
      k: Int, iters: Int, kTop: Int, nQueries: Int, cells: Int,
      nprobe: Int, shortlistFactor: Int, modK: Long,
      monolithic: Boolean): DataFrame = {
    import graft.queries.EmbeddingQueries.vecs
    val isBase = pmod(col("vec_id"), lit(10L)) < 7L
    val isEr = isBase && pmod(col("vec_id"), lit(modK)) === 0L
    if (monolithic) Pins.scope { pins =>
      // spec twin: fresh one-pass build in its own scope
      val ix = q222Index(pins, spark, dir, m, k, iters, cells, modK,
        monolithic = true)
      val truth = Similarity.annTopKOf(
        ix.corpus.where(!isEr),
        ix.corpus.where(col("vec_id") < nQueries), kTop)
        .select(col("q_id"), col("n_id"))
      ivfPqLedger(spark, dir, ix.corpus, ix.standing, ix.model, ix.codebook,
        m, ix.sub, kTop, nQueries, nprobe, shortlistFactor * kTop,
        Some(truth))
    } else {
      // the shipped path: erasure + ingest over the PROCESS-PINNED
      // standing state (the q177 registry — shared key, built once)
      val st = pqStanding(spark, dir, m, k, iters, cells)
      val erased = st.corpus.where(isEr).select(col("vec_id"))
      val erasedStanding = st.standing
        .join(broadcast(erased), Seq("vec_id"), "left_anti")
      val batch = encodeCodes(st.corpus.where(!isBase), st.codebook, m,
          st.sub)
        .join(KMeans.assign(vecs(spark, dir).where(!isBase),
            st.model.select(col("cluster"), col("centroid")))
          .select(col("vec_id"), col("cluster").as("cell")),
          Seq("vec_id"))
      val truth = Similarity.annTopKOf(
        st.corpus.where(!isEr),
        st.corpus.where(col("vec_id") < nQueries), kTop)
        .select(col("q_id"), col("n_id"))
      ivfPqLedger(spark, dir, st.corpus,
        erasedStanding.unionByName(batch), st.model, st.codebook, m,
        st.sub, kTop, nQueries, nprobe, shortlistFactor * kTop,
        Some(truth))
    }
  }

  /** The spec twin's fresh one-pass build: identical frozen model
    * (trained on the base), index encoded over the FULL corpus in one
    * pass. PqSpec asserts q177 ≡ this. */
  private def incrementalIvfPq(spark: SparkSession, dir: String, m: Int,
      k: Int, iters: Int, kTop: Int, nQueries: Int, cells: Int,
      nprobe: Int, shortlistFactor: Int, monolithic: Boolean): DataFrame = {
    require(monolithic, "the shipped incremental path is q177 (registry)")
    import graft.queries.EmbeddingQueries.vecs
    val isBase = pmod(col("vec_id"), lit(10L)) < 7L
    Pins.scope { pins =>
      val corpus = pins.pin(vecsNorm(spark, dir).where(col("u").isNotNull)
        .select(col("vec_id"), col("u")))
      val dim = corpus.select(size(col("u"))).head().getInt(0)
      require(dim % m == 0, s"dim $dim not divisible by m=$m")
      val sub = dim / m
      val v = vecs(spark, dir)
      // FROZEN state: cells + codebook learned on the standing corpus only
      val model = pins.own(KMeans.fit(v.where(isBase), cells, iters))
      val codebook =
        pins.own(trainCodebook(corpus.where(isBase), m, sub, k, iters))
      val codes = encodeCodes(corpus, codebook, m, sub)
        .join(KMeans.assign(v,
            model.select(col("cluster"), col("centroid")))
          .select(col("vec_id"), col("cluster").as("cell")),
          Seq("vec_id"))
      ivfPqLedger(spark, dir, corpus, codes, model, codebook, m, sub,
        kTop, nQueries, nprobe, shortlistFactor * kTop)
    }
  }

  /** q263 — IVF-PQ ERASE-COMMIT (VERDICT r12 #4, the learned kind): the
    * frozen vector-store state (coarse model, product codebook, encoded
    * standing index) spills as kind `pq<m>-<k>-<iters>-<cells>`; the
    * erasure request reloads the codes, drops subject rows by broadcast
    * anti (encoding is row-local — nothing recomputes), and re-commits
    * the erased index ALONGSIDE the republished frozen model/codebook as
    * the next marker-committed version; the NEXT ingest then encodes the
    * batch against the RELOADED frozen state (doubles round-trip parquet
    * bit-exactly — DurableStateSpec tier 5) and unions with the reloaded
    * erased codes.
    *
    * The OUTPUT is the index's per-vector ACCOUNTING — (vec_id, origin,
    * n_codes, n_cells), erased subjects absent — which is ORACLE-EXACT
    * even for this learned kind: every indexed vector carries exactly m
    * code rows in one cell regardless of code values (the q225
    * argument), and membership is pure id/norm arithmetic the oracle
    * replays. The code VALUES are bound by EraseStateSpec: the reloaded
    * erased+ingested index equals the monolithic one-pass encode of the
    * surviving corpus, bit for bit. */
  def q263(spark: SparkSession, dir: String, m: Int = 8, k: Int = 16,
           iters: Int = 3, cells: Int = 10, modK: Long = 10L): DataFrame = {
    val isBase = pmod(col("vec_id"), lit(10L)) < 7L
    q263Index(spark, dir, m, k, iters, cells, modK)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_codes"),
        countDistinct(col("cell")).as("n_cells"))
      .select(col("vec_id"),
        when(isBase, "standing").otherwise("ingest").as("origin"),
        col("n_codes"), col("n_cells"))
      .orderBy(col("vec_id"))
      .localCheckpoint()
  }

  /** q263's merged index (vec_id, s, code, cell) — the erased spill's
    * reloaded codes unioned with the batch encoded against the RELOADED
    * frozen state. EraseStateSpec's equality surface. */
  /** Spill the IVF-PQ kind (frozen model + codebook + standing codes)
    * and commit its erased version, once per process each; returns
    * (v0, erasedVersion). */
  private[graft] def ensurePqErased(spark: SparkSession, dir: String,
      m: Int, k: Int, iters: Int, cells: Int, modK: Long): (Long, Long) = {
    val st = pqStanding(spark, dir, m, k, iters, cells)
    val store = graft.core.DurableState.Store(spark, dir)
    val kind = s"pq$m-$k-$iters-$cells"
    val v0 = store.spillOnce(kind) { _ =>
      Seq("model" -> st.model, "codebook" -> st.codebook,
        "codes" -> st.standing)
    }
    val eV = store.spillOnce(s"$kind-erased$modK") { _ =>
      val codes = store.load(kind, v0, "codes")
      val erased = codes.select(col("vec_id")).distinct()
        .where(pmod(col("vec_id"), lit(modK)) === 0L)
      Seq("model" -> store.load(kind, v0, "model"),
        "codebook" -> store.load(kind, v0, "codebook"),
        "codes" -> codes.join(broadcast(erased), Seq("vec_id"), "left_anti"))
    }
    (v0, eV)
  }

  private[graft] def q263Index(spark: SparkSession, dir: String,
      m: Int = 8, k: Int = 16, iters: Int = 3, cells: Int = 10,
      modK: Long = 10L): DataFrame = {
    import graft.queries.EmbeddingQueries.vecs
    val isBase = pmod(col("vec_id"), lit(10L)) < 7L
    val st = pqStanding(spark, dir, m, k, iters, cells)
    val eV = ensurePqErased(spark, dir, m, k, iters, cells, modK)._2
    val (eModel, eCodebook, eCodes) = graft.core.DurableState
      .Store(spark, dir).reloadOnce(s"pq$m-$k-$iters-$cells-erased$modK", eV) {
        table =>
          (table("model").localCheckpoint(),
            table("codebook").localCheckpoint(),
            table("codes").localCheckpoint())
      }
    val batch = encodeCodes(st.corpus.where(!isBase), eCodebook, m, st.sub)
      .join(KMeans.assign(vecs(spark, dir).where(!isBase),
          eModel.select(col("cluster"), col("centroid")))
        .select(col("vec_id"), col("cluster").as("cell")),
        Seq("vec_id"))
    eCodes.unionByName(batch)
  }
}
