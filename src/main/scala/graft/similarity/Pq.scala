package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Pins
import graft.queries.EmbeddingQueries.{vecs, vecsNorm}

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
  * ONE FUNCTION PER DECISION. Every query here (q164, q167, q177, q222,
  * q263; q225 reads the same registry state) is built from: [[corpusOf]]
  * (the normalized corpus and its subvector width), [[frozen]] (coarse
  * cells + product codebook trained on a row predicate), [[IvfPq.index]]
  * (encode + cell-assign a row predicate's vectors) and
  * [[KMeans.groupMeans]] (the exact mean update of both k-means fits).
  * The process-registry state ([[pqStanding]]) and a query's own scope
  * differ only in who takes the checkpoints — the `own` materializer
  * they pass (`identity` or `pins.own`), never a flag.
  *
  * The two references, [[q177Monolithic]] and [[q222Monolithic]], exist
  * for the specs (PqSpec, EraseStateSpec) to compare the shipped queries
  * against: each trains the same frozen state in its own scope and
  * encodes the rows its shipped query serves in ONE `index` pass, where
  * the shipped query unions the registry's standing index with a batch
  * encode (and, for q222, first deletes the erased rows from it).
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

  /** The standing-state tier's base/batch split: vec_id % 10 < 7 is the
    * standing corpus, the rest the arriving batch. */
  private val isBase = pmod(col("vec_id"), lit(10L)) < 7L

  /** Every row — the training and encoding predicate of the queries that
    * do not split base from batch. */
  private val allRows = lit(true)

  /** q222's erasure request: the base vectors with vec_id ≡ 0 (mod modK). */
  private def isErased(modK: Long): Column =
    isBase && pmod(col("vec_id"), lit(modK)) === 0L

  /** Squared L2 between two equal-length double arrays — an in-order
    * fold, deterministic per pair. */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, v) => acc + v)

  /** `frame`'s unit vectors `u` cut into `m` subvectors of width `sub`:
    * one (id, s, `name`) row per subspace. */
  private def subvectors(frame: DataFrame, id: Column, m: Int, sub: Int,
      name: String): DataFrame =
    frame.select(id, posexplode(array((0 until m).map(s =>
        slice(col("u"), s * sub + 1, sub)): _*)))
      .withColumnsRenamed(Map("pos" -> "s", "col" -> name))

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
    * + one (s, code)-keyed [[KMeans.groupMeans]] update, so `iters`
    * rounds cost `iters` jobs regardless of m — the per-subspace
    * sequential form ran m·iters rounds and was the bench's slowest
    * query at m = 8. Deterministic init: each subspace's first k vectors
    * by vec_id (the KMeans.fit convention). Returns (s, code, cent) as a
    * direct checkpoint the caller owns. */
  private def trainCodebook(corpus: DataFrame, m: Int, sub: Int, k: Int,
      iters: Int): DataFrame = {
    val subRows = subvectors(corpus, col("vec_id"), m, sub, "sv")
    val ws = Window.partitionBy(col("s")).orderBy(col("vec_id"))
    Pins.scope { pins =>
      var cents = pins.pin(subRows
        .withColumn("rn", row_number().over(ws))
        .where(col("rn") <= k)
        .select(col("s"), (col("rn") - 1).cast(IntegerType).as("code"),
          col("sv").as("cent")))
      for (_ <- 1 to iters) {
        val next = pins.pin(KMeans.groupMeans(
          subRows.join(broadcast(packPerSubspace(cents)), Seq("s"))
            .select(col("s"), nearestCode(col("cbs")).as("code"), col("sv")),
          Seq("s", "code"), "sv", "cent"))
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
    subvectors(corpus, col("vec_id"), m, sub, "sv")
      .join(broadcast(packPerSubspace(codebook)), Seq("s"))
      .select(col("vec_id"), col("s"), nearestCode(col("cbs")).as("code"))

  /** Per-query ADC distance table (q_id, s, code, d2): one decimal-
    * rounded entry per (query, subspace, sub-centroid). */
  private def distTable(queries: DataFrame, codebook: DataFrame, m: Int,
      sub: Int): DataFrame =
    subvectors(queries, col("vec_id").as("q_id"), m, sub, "qsv")
      .join(broadcast(codebook), Seq("s"))
      .select(col("q_id"), col("s"), col("code"),
        round(l2sq(col("qsv"), col("cent")), 9)
          .cast(DecimalType(18, 9)).as("d2"))

  /** The unit-normalized corpus (vec_id, u), checkpointed and handed to
    * `own`, and its subvector width dim / m. */
  private def corpusOf(spark: SparkSession, dir: String, m: Int,
      own: DataFrame => DataFrame): (DataFrame, Int) = {
    val corpus = own(vecsNorm(spark, dir).where(col("u").isNotNull)
      .select(col("vec_id"), col("u")).localCheckpoint())
    val dim = corpus.select(size(col("u"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    (corpus, dim / m)
  }

  /** Frozen IVF-PQ state: the normalized corpus, the raw vectors `v` the
    * coarse cells assign, the coarse k-means `model` (cluster, centroid),
    * the m×k product `codebook` (s, code, cent) and the subvector width. */
  private[graft] final case class IvfPq(corpus: DataFrame, v: DataFrame,
      model: DataFrame, codebook: DataFrame, m: Int, sub: Int) {

    /** The index rows (vec_id, s, code, cell) of the vectors matching
      * `rows`: encoded map-only against the broadcast codebook and
      * assigned to their nearest coarse cell by one broadcast argmax.
      * Both are per-row given the frozen state, so the indexes of
      * disjoint row sets union to the index of their union. */
    def index(rows: Column): DataFrame =
      encodeCodes(corpus.where(rows), codebook, m, sub)
        .join(KMeans.assign(v.where(rows),
            model.select(col("cluster"), col("centroid")))
          .select(col("vec_id"), col("cluster").as("cell")),
          Seq("vec_id"))
  }

  /** The frozen state trained on the rows matching `train`: coarse cells
    * on the raw vectors (the q50 posture), the product codebook on the
    * unit vectors. `own` takes every checkpoint built here — `pins.own`
    * in a query's scope, `identity` for process-registry state. */
  private def frozen(spark: SparkSession, dir: String, m: Int, k: Int,
      iters: Int, cells: Int, train: Column,
      own: DataFrame => DataFrame): IvfPq = {
    val (corpus, sub) = corpusOf(spark, dir, m, own)
    val v = vecs(spark, dir)
    val model = own(KMeans.fit(v.where(train), cells, iters))
    val codebook = own(trainCodebook(corpus.where(train), m, sub, k, iters))
    IvfPq(corpus, v, model, codebook, m, sub)
  }

  /** Shortlist-then-refine + recall accounting shared by q164/q167:
    * ADC top-`shortlist` per query → exact re-rank on the original
    * vectors → recall@kTop against the ground truth `truth` (q_id, n_id).
    * Returns the MATERIALIZED ledger (the pinned inputs may be freed
    * after this returns). */
  private def refineAndScore(corpus: DataFrame, queries: DataFrame,
      adc: DataFrame, truth: DataFrame, kTop: Int,
      shortlist: Int): DataFrame = {
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

    val brute = truth.select(col("q_id"), col("n_id"))
    val hits = brute.join(approx, Seq("q_id", "n_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    // materialize (tiny: one row per query) BEFORE the pinned
    // codebook/corpus are freed — their lineage is truncated, so a
    // lazy result referencing them could not recompute after free
    brute.groupBy(col("q_id")).agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("q_id"), "left_outer")
      .select(col("q_id"),
        coalesce(col("n_hit"), lit(0L)).cast(IntegerType).as("n_hit"),
        col("n_true").cast(IntegerType).as("n_true"),
        round(coalesce(col("n_hit"), lit(0L)).cast(DoubleType) /
          col("n_true"), 4).as("recall"))
      .orderBy(col("q_id"))
      .localCheckpoint()
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
    val (corpus, sub) = corpusOf(spark, dir, m, pins.own)
    val codebook = pins.own(trainCodebook(corpus, m, sub, k, iters))
    val codes = encodeCodes(corpus, codebook, m, sub)
    val queries = corpus.where(col("vec_id") < nQueries)
    val dtable = distTable(queries, codebook, m, sub)
    val adc = codes.join(broadcast(dtable), Seq("s", "code"))
      .where(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adc"))
    refineAndScore(corpus, queries, adc,
      Similarity.annTruthStanding(spark, dir, kTop, nQueries), kTop,
      shortlistFactor * kTop)
  }

  /** The probe→ADC→refine tail shared by q167/q177/q222: `codes` is the
    * cell-assigned encoded index (vec_id, s, code, cell); each query
    * probes its `nprobe` nearest cells by centroid cosine and prices
    * ONLY those cells' codes with its broadcast distance table; the
    * shortlist refines exactly as q164. */
  private def ivfPqLedger(fz: IvfPq, codes: DataFrame, truth: DataFrame,
      kTop: Int, nQueries: Int, nprobe: Int, shortlist: Int): DataFrame = {
    import graft.queries.EmbeddingQueries.cosine
    val queries = fz.corpus.where(col("vec_id") < nQueries)
    // probe list: nprobe nearest cells per query by centroid cosine
    val wc = Window.partitionBy(col("q_id"))
      .orderBy(col("c_sim").desc, col("cell"))
    val probes = queries.select(col("vec_id").as("q_id"), col("u"))
      .crossJoin(broadcast(fz.model
        .select(col("cluster").as("cell"), col("centroid"))))
      .select(col("q_id"), col("cell"),
        cosine(col("u"), col("centroid")).as("c_sim"))
      .withColumn("rnk", row_number().over(wc))
      .where(col("rnk") <= nprobe)
      .select(col("q_id"), col("cell"))
    val dtable = distTable(queries, fz.codebook, fz.m, fz.sub)
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
      .where(col("n_sub") === fz.m)
      .select(col("q_id"), col("vec_id"), col("adc"))
    refineAndScore(fz.corpus, queries, adc, truth, kTop, shortlist)
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
  def q167(spark: SparkSession, dir: String, m: Int = 8, k: Int = 16,
           iters: Int = 3, kTop: Int = 10, nQueries: Int = 20,
           cells: Int = 10, nprobe: Int = 3,
           shortlistFactor: Int = 10): DataFrame = Pins.scope { pins =>
    val fz = frozen(spark, dir, m, k, iters, cells, allRows, pins.own)
    ivfPqLedger(fz, fz.index(allRows),
      Similarity.annTruthStanding(spark, dir, kTop, nQueries), kTop,
      nQueries, nprobe, shortlistFactor * kTop)
  }

  /** The frozen standing vector-store state shared by q177/q222/q225/
    * q263 — the frozen state trained on the base corpus and the encoded
    * standing index over it (`index(isBase)`), built ONCE PER PROCESS
    * via [[graft.core.StandingState]] (a deployment persists this; only
    * the ingest/erasure leg belongs to each invocation's cost). Never
    * freed by callers. */
  private[graft] final case class PqStanding(ivf: IvfPq, standing: DataFrame)

  private[graft] def pqStanding(spark: SparkSession, dir: String, m: Int,
      k: Int, iters: Int, cells: Int): PqStanding =
    graft.core.StandingState.of(spark, "pq", dir, m, k, iters, cells) {
      val ivf = frozen(spark, dir, m, k, iters, cells, isBase, identity)
      PqStanding(ivf, ivf.index(isBase).localCheckpoint())
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
    * frozen codebook/cells ([[q177Monolithic]]), row-for-row through the
    * whole ledger — encoding is per-row and state-free given the
    * codebook, so ingest ≡ rebuild (q160's batch==from-scratch
    * discipline; a from-scratch q167 would RETRAIN on the full corpus
    * and is deliberately not the bind — retraining is a different
    * model, not a different path to the same index).
    *
    * Scale shape: per ingest, everything new is O(batch) — the base is
    * touched only through its pinned codes; at 100 TB the standing
    * index is the table and this query is the loader's append path. */
  def q177(spark: SparkSession, dir: String, m: Int = 8, k: Int = 16,
           iters: Int = 3, kTop: Int = 10, nQueries: Int = 20,
           cells: Int = 10, nprobe: Int = 3,
           shortlistFactor: Int = 10): DataFrame = {
    val st = pqStanding(spark, dir, m, k, iters, cells)
    // the ingest leg (batch-scale — the per-invocation cost)
    ivfPqLedger(st.ivf, st.standing.unionByName(st.ivf.index(!isBase)),
      Similarity.annTruthStanding(spark, dir, kTop, nQueries), kTop,
      nQueries, nprobe, shortlistFactor * kTop)
  }

  /** q177's reference: the same frozen state trained on the base in its
    * own scope, the whole corpus indexed in ONE pass — no standing pin,
    * no union. PqSpec asserts q177 ≡ this, bit for bit. */
  private[graft] def q177Monolithic(spark: SparkSession, dir: String,
      m: Int = 8, k: Int = 16, iters: Int = 3, kTop: Int = 10,
      nQueries: Int = 20, cells: Int = 10, nprobe: Int = 3,
      shortlistFactor: Int = 10): DataFrame = Pins.scope { pins =>
    val fz = frozen(spark, dir, m, k, iters, cells, isBase, pins.own)
    ivfPqLedger(fz, fz.index(allRows),
      Similarity.annTruthStanding(spark, dir, kTop, nQueries), kTop,
      nQueries, nprobe, shortlistFactor * kTop)
  }

  /** q222 — ERASE FROM THE STANDING IVF-PQ INDEX, then ingest. q177's
    * standing state (frozen coarse cells + product codebook + the pinned
    * encoded index over the base corpus) serves an erasure request —
    * the base vectors with vec_id ≡ 0 (mod 10) are DELETED from the
    * standing codes by a broadcast anti-join (the index row is the
    * per-vector state; encoding is row-local, so nothing else must be
    * recomputed) — and the next batch then ingests exactly as q177:
    * map-only encode against the frozen broadcast codebook, one
    * broadcast cell argmax, union with the ERASED index ([[q222Index]]).
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
    * The bind (EraseStateSpec, the q177 discipline inverted): the index
    * this query probes must equal the MONOLITHIC one-pass encode of the
    * surviving corpus against the same frozen model
    * ([[q222MonolithicIndex]]), and no erased vec_id may appear in it.
    * Differential ledger → rows-only driver check (the q164 pattern).
    * Scale shape: q177's — everything O(batch) + O(request); the erased
    * index is the standing pin minus a broadcast anti-join. */
  def q222(spark: SparkSession, dir: String, m: Int = 8, k: Int = 16,
           iters: Int = 3, kTop: Int = 10, nQueries: Int = 20,
           cells: Int = 10, nprobe: Int = 3, shortlistFactor: Int = 10,
           modK: Long = 10L): DataFrame =
    erasedLedger(pqStanding(spark, dir, m, k, iters, cells).ivf,
      q222Index(spark, dir, m, k, iters, cells, modK), modK, kTop,
      nQueries, nprobe, shortlistFactor)

  /** The index q222 probes (vec_id, s, code, cell): the registry's
    * standing index minus the erased base vectors, union the batch
    * encoded against the frozen state. */
  private[graft] def q222Index(spark: SparkSession, dir: String,
      m: Int = 8, k: Int = 16, iters: Int = 3, cells: Int = 10,
      modK: Long = 10L): DataFrame = {
    val st = pqStanding(spark, dir, m, k, iters, cells)
    val erased = st.ivf.corpus.where(isErased(modK)).select(col("vec_id"))
    st.standing.join(broadcast(erased), Seq("vec_id"), "left_anti")
      .unionByName(st.ivf.index(!isBase))
  }

  /** q222's reference: the same frozen model and erased-corpus truth,
    * the index built by ONE encode pass over the surviving rows — no
    * standing pin, no delete, no union. EraseStateSpec asserts
    * q222 ≡ this, bit for bit. */
  private[graft] def q222Monolithic(spark: SparkSession, dir: String,
      m: Int = 8, k: Int = 16, iters: Int = 3, kTop: Int = 10,
      nQueries: Int = 20, cells: Int = 10, nprobe: Int = 3,
      shortlistFactor: Int = 10, modK: Long = 10L): DataFrame =
    Pins.scope { pins =>
      val (fz, index) =
        q222MonolithicIndex(pins, spark, dir, m, k, iters, cells, modK)
      erasedLedger(fz, index, modK, kTop, nQueries, nprobe, shortlistFactor)
    }

  /** [[q222Monolithic]]'s frozen state, owned by `pins`, and its index:
    * the surviving corpus encoded in one pass. */
  private[graft] def q222MonolithicIndex(pins: Pins, spark: SparkSession,
      dir: String, m: Int = 8, k: Int = 16, iters: Int = 3,
      cells: Int = 10, modK: Long = 10L): (IvfPq, DataFrame) = {
    val fz = frozen(spark, dir, m, k, iters, cells, isBase, pins.own)
    (fz, fz.index(!isErased(modK)))
  }

  /** q222's ledger over `index`, with ground truth over the erased
    * corpus. */
  private def erasedLedger(fz: IvfPq, index: DataFrame, modK: Long,
      kTop: Int, nQueries: Int, nprobe: Int,
      shortlistFactor: Int): DataFrame =
    ivfPqLedger(fz, index,
      Similarity.annTopKOf(fz.corpus.where(!isErased(modK)),
        fz.corpus.where(col("vec_id") < nQueries), kTop),
      kTop, nQueries, nprobe, shortlistFactor * kTop)

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
           iters: Int = 3, cells: Int = 10, modK: Long = 10L): DataFrame =
    q263Index(spark, dir, m, k, iters, cells, modK)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_codes"),
        countDistinct(col("cell")).as("n_cells"))
      .select(col("vec_id"),
        when(isBase, "standing").otherwise("ingest").as("origin"),
        col("n_codes"), col("n_cells"))
      .orderBy(col("vec_id"))
      .localCheckpoint()

  /** Spill the IVF-PQ kind (frozen model + codebook + standing codes)
    * and commit its erased version, once per process each; returns
    * (v0, erasedVersion). */
  private[graft] def ensurePqErased(spark: SparkSession, dir: String,
      m: Int, k: Int, iters: Int, cells: Int, modK: Long): (Long, Long) = {
    val st = pqStanding(spark, dir, m, k, iters, cells)
    val store = graft.core.DurableState.Store(spark, dir)
    val kind = s"pq$m-$k-$iters-$cells"
    val v0 = store.spillOnce(kind) { _ =>
      Seq("model" -> st.ivf.model, "codebook" -> st.ivf.codebook,
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

  /** q263's merged index (vec_id, s, code, cell) — the erased spill's
    * reloaded codes unioned with the batch encoded against the RELOADED
    * frozen state. EraseStateSpec's equality surface. */
  private[graft] def q263Index(spark: SparkSession, dir: String,
      m: Int = 8, k: Int = 16, iters: Int = 3, cells: Int = 10,
      modK: Long = 10L): DataFrame = {
    val st = pqStanding(spark, dir, m, k, iters, cells)
    val eV = ensurePqErased(spark, dir, m, k, iters, cells, modK)._2
    val (eModel, eCodebook, eCodes) = graft.core.DurableState
      .Store(spark, dir).reloadOnce(s"pq$m-$k-$iters-$cells-erased$modK", eV) {
        table =>
          (table("model").localCheckpoint(),
            table("codebook").localCheckpoint(),
            table("codes").localCheckpoint())
      }
    eCodes.unionByName(
      st.ivf.copy(model = eModel, codebook = eCodebook).index(!isBase))
  }
}
