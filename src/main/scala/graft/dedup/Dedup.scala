package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.TextQueries

/** Document deduplication operators for large-scale training-data pipelines.
  *
  * Four tiers, in increasing fuzziness — all pure DataFrame graphs, no
  * driver-side data, designed so every shuffle key is a small fixed-width
  * hash rather than document content:
  *
  *  - exact:       md5 hash-groupBy (TextQueries.q22)
  *  - canonical:   fingerprint of the sorted distinct word set — catches
  *                 token-reordered copies exactly
  *  - jaccard:     exact word-set Jaccard via inverted-index self-join —
  *                 the verifier for candidate pairs
  *  - minhash/LSH: signature + banded bucketing — the 100 TB path: cost is
  *                 O(docs × sig) + per-bucket pair generation, never all-pairs
  *  - simhash:     64-bit weighted fingerprint + hamming distance — catches
  *                 multiset-identical and lightly-edited docs
  */
object Dedup {

  /** Per-doc sorted distinct word set (the canonical token-set view). */
  def wordSets(spark: SparkSession, dir: String): DataFrame =
    TextQueries.tokens(spark, dir)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("word"))).as("words"))

  /** Per-doc canonical-content fingerprint `(doc_id, fp)`: md5 of the
    * sorted distinct word set — the one fingerprint every exact-dedup
    * probe, curation keeper and fp-store ledger keys on. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    wordSets(spark, dir)
      .select(col("doc_id"), md5(array_join(col("words"), " ")).as("fp"))

  /** Canonical-content fingerprint dedup over [[fingerprints]]. One
    * narrow shuffle on a 32-byte key; finds reordered copies that
    * byte-exact dedup misses. */
  def fingerprintDups(spark: SparkSession, dir: String): DataFrame =
    fingerprints(spark, dir)
      .groupBy(col("fp"))
      .agg(
        count(lit(1)).as("n_docs"),
        array_join(sort_array(collect_set(col("doc_id").cast(StringType))), ",").as("docs"))
      .where(col("n_docs") > 1)
      .orderBy(col("fp"))

  /** q90 — INCREMENTAL dedup: how dedup actually runs at 100 TB. A whole-
    * corpus re-dedup per ingest batch is a full-corpus shuffle every day;
    * the production shape dedups only the INCOMING batch — against the
    * standing corpus's fingerprint set, then within itself. Here the
    * standing corpus is the deterministic slice `doc_id % mod < lt` and
    * the rest is the incoming batch; each incoming document is labeled
    *
    *  - `dup_existing` — its canonical fingerprint (q27's sorted-distinct-
    *    word-set md5) already exists in the corpus,
    *  - `dup_batch`    — first seen EARLIER in this batch (min-doc_id
    *    keeper rule),
    *  - `new`          — first occurrence anywhere.
    *
    * Plan shape: both joins key on the 32-byte fingerprint — the corpus
    * side is a SHUFFLE join (it does NOT fit in a broadcast at scale; only
    * its fp column is read), and the within-batch keeper is an algebraic
    * min aggregate (map-side partials), not a window. Everything scales
    * with the BATCH, not the corpus, except the one fp-keyed probe of the
    * corpus — which is the irreducible cost of exact incremental dedup. */
  def q90(spark: SparkSession, dir: String,
          mod: Int = 10, lt: Int = 7): DataFrame = {
    val fp = fingerprints(spark, dir)
    val corpus = fp.where(col("doc_id") % mod < lt)
      .select(col("fp")).distinct()
      .withColumn("in_corpus", lit(1))
    val incoming = fp.where(col("doc_id") % mod >= lt)
    val keeper = incoming.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("first_id"))
    incoming
      .join(corpus, Seq("fp"), "left_outer")
      .join(keeper, Seq("fp"))
      .select(
        col("doc_id"), col("fp"),
        when(col("in_corpus").isNotNull, "dup_existing")
          .when(col("doc_id") > col("first_id"), "dup_batch")
          .otherwise("new").as("status"))
      .orderBy(col("doc_id"))
  }

  /** q109 — q90 with a BLOOM-FILTER pre-probe: the runtime-filter pattern
    * (Spark's own `InjectRuntimeFilter` shape) made explicit. At 100 TB
    * the overwhelming majority of an ingest batch is NEW — yet q90 ships
    * every incoming fingerprint through the corpus-keyed shuffle probe
    * just to discover that. Here the corpus fingerprints first OR-merge
    * into a bounded bloom sketch (`Bridge.bloomFilterAgg`, algebraic
    * partial aggregation, a few MB regardless of corpus size); the sketch
    * rides into the incoming scan as a scalar subquery and only BLOOM-
    * POSITIVE rows (true dups + the fpp sliver) enter the exact corpus
    * join. Bloom-negative rows are labeled without ever shuffling against
    * the corpus.
    *
    * Exactness is preserved — the sketch has no false negatives and every
    * positive is CONFIRMED by the exact fp join — so output is
    * row-identical to q90 (same oracle SQL; equality also spec-asserted).
    * The within-batch keeper aggregate is unchanged: it must see all
    * incoming rows regardless.
    *
    * Sizing: `expectedItems` is passed by the caller (here the corpus
    * slice size at test SF); at production scale it comes from the
    * standing corpus's row-count stats, and the session's
    * `spark.sql.optimizer.runtime.bloomFilter.*` confs clamp the sketch. */
  def q109(spark: SparkSession, dir: String,
           mod: Int = 10, lt: Int = 7): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val fp = fingerprints(spark, dir)
    val corpus = fp.where(col("doc_id") % mod < lt)
      .select(col("fp")).distinct()
    val bloom = corpus.agg(
      Bridge.bloomFilterAgg(col("fp"), 100000L).as("bloom"))
    val incoming = fp.where(col("doc_id") % mod >= lt)
    // only bloom-positive candidates reach the exact corpus probe
    val confirmed = incoming
      .where(Bridge.bloomMightContain(bloom, col("fp")))
      .join(corpus.withColumn("in_corpus", lit(1)), Seq("fp"), "left_outer")
      .where(col("in_corpus").isNotNull)
      .select(col("doc_id").as("dup_id"))
    val keeper = incoming.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("first_id"))
    incoming
      .join(confirmed, col("doc_id") === col("dup_id"), "left_outer")
      .join(keeper, Seq("fp"))
      .select(
        col("doc_id"), col("fp"),
        when(col("dup_id").isNotNull, "dup_existing")
          .when(col("doc_id") > col("first_id"), "dup_batch")
          .otherwise("new").as("status"))
      .orderBy(col("doc_id"))
  }

  /** q106 — INCREMENTAL near-dup dedup: q90's batch-vs-corpus labeling
    * lifted to the minhash tier. Exact incremental dedup (q90) only
    * catches byte/canonical-identical copies; the production ingest also
    * drops documents NEAR-duplicating the standing corpus (the scraped-
    * again-with-edits page). Each incoming document is labeled
    *
    *  - `neardup_corpus` — a verified near-match (exact shingle Jaccard
    *    ≥ `exactThreshold` on an LSH bucket hit) of some corpus doc,
    *  - `neardup_batch`  — near-matches an EARLIER-id doc of this batch
    *    (greedy suppress: ANY earlier near-match drops the later doc —
    *    the deterministic ingest rule; cluster-exact collapse is the
    *    q103 tier, run offline),
    *  - `new`            — survives both probes (shingle-less short docs
    *    are trivially `new`).
    *
    * Plan shape: the corpus is banded ONCE into its standing (band, bh)
    * bucket table — at 100 TB that table persists between ingests and
    * only the BATCH is shingled/signed/banded fresh (banding is per-doc
    * deterministic, so split-table bucket joins equal the global
    * self-join restricted to the split — bandedSignatures note). Both
    * probes are bucket-keyed joins verified per candidate with exact
    * set intersection: everything scales with the batch except the one
    * bucket-keyed probe of the standing table, the same irreducible
    * cost as q90's fp probe. No est-threshold pre-filter before the
    * verify (bucket hits go straight to exact Jaccard): strictly higher
    * recall than the q47 form, so the recall-1 oracle premise
    * (ManifestSpec) covers this operator a fortiori.
    *
    * Oracle: exact cross-split Jaccard in DuckDB over the same distinct
    * 3-token shingles with the same greedy rule — integer-exact
    * (ManifestSpec pins the LSH-recall premise; DedupSpec pins the
    * labeling against driver-computed exact pairs). */
  def q106(spark: SparkSession, dir: String, mod: Int = 10, lt: Int = 7,
           exactThreshold: Double = 0.7): DataFrame = {
    val isCorpus = col("doc_id") % mod < lt
    val sets = shingleHashes(spark, dir)
    val banded = bandedSignatures(minhashSignatures(sets))
    val corpusBands = banded.where(isCorpus)
    val inBands = banded.where(!isCorpus)
    // exact per-candidate verify, returning the distinct incoming ids
    // with at least one verified near-match
    def verifiedIds(cand: DataFrame): DataFrame =
      cand
        .join(sets.select(col("doc_id").as("in_id"), col("items").as("i1")),
          Seq("in_id"))
        .join(sets.select(col("doc_id").as("other_id"), col("items").as("i2")),
          Seq("other_id"))
        .select(col("in_id"),
          size(array_intersect(col("i1"), col("i2"))).as("inter"),
          size(col("i1")).as("n1"), size(col("i2")).as("n2"))
        .where(round(col("inter").cast(DoubleType) /
          (col("n1") + col("n2") - col("inter")), 4) >= exactThreshold)
        .select(col("in_id")).distinct()
    val candCorpus = inBands
      .select(col("band"), col("bh"), col("doc_id").as("in_id"))
      .join(corpusBands.select(col("band"), col("bh"), col("doc_id").as("other_id")),
        Seq("band", "bh"))
      .select(col("in_id"), col("other_id")).distinct()
    val candBatch = inBands
      .select(col("band"), col("bh"), col("doc_id").as("in_id"))
      .join(inBands.select(col("band"), col("bh"), col("doc_id").as("other_id")),
        Seq("band", "bh"))
      .where(col("other_id") < col("in_id"))
      .select(col("in_id"), col("other_id")).distinct()
    val dupCorpus = verifiedIds(candCorpus).withColumn("dc", lit(1))
    val dupBatch = verifiedIds(candBatch).withColumn("db", lit(1))
    graft.core.Tables(spark, dir, "documents")
      .where(!isCorpus)
      .select(col("doc_id").cast(LongType))
      .join(dupCorpus.withColumnRenamed("in_id", "doc_id"), Seq("doc_id"), "left_outer")
      .join(dupBatch.withColumnRenamed("in_id", "doc_id"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("dc").isNotNull, "neardup_corpus")
          .when(col("db").isNotNull, "neardup_batch")
          .otherwise("new").as("status"))
      .orderBy(col("doc_id"))
  }

  /** Per-doc distinct 3-token shingle set (rolling n-gram over the token
    * sequence) — the order-sensitive unit for near-dup detection. Docs
    * shorter than n tokens have no shingles and are excluded. */
  def shingleSets(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id"),
        filter(split(lower(col("text")), "[^a-z]+"), w => w =!= "").as("tk"))
      .where(size(col("tk")) >= n)
      .select(col("doc_id"),
        array_distinct(
          transform(sequence(lit(1), size(col("tk")) - (n - 1)),
            i => array_join(slice(col("tk"), i, lit(n)), " "))).as("items"))

  /** Exact Jaccard similarity pairs over any (doc_id, items: array) set
    * table, via inverted-index self-join: join on item, count
    * co-occurrences, J = i/(|A|+|B|-i). All-integer arithmetic until the
    * final division — deterministic across engines. This is the *verifier*;
    * at 100 TB the candidate set comes from minhashPairs and this runs on
    * candidates only. */
  def jaccardFromSets(sets: DataFrame, threshold: Double): DataFrame = {
    val w = sets.select(col("doc_id"), explode(col("items")).as("item"))
    val sz = w.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = w.select(col("doc_id").as("d1"), col("item"))
    val b = w.select(col("doc_id").as("d2"), col("item"))
    val inter = a.join(b, Seq("item"))
      .where(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sz.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
      .join(sz.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
      .withColumn("jaccard",
        round(col("i").cast(DoubleType) / (col("n1") + col("n2") - col("i")), 4))
      .where(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Per-doc distinct character n-gram set over the canonicalized text
    * (lower, non-letters collapsed to single spaces, trimmed). */
  def charGramSets(spark: SparkSession, dir: String, n: Int = 5): DataFrame =
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), "[^a-z]+", " ")).as("s"))
      .where(length(col("s")) >= n)
      .select(col("doc_id"),
        array_distinct(
          transform(sequence(lit(1), length(col("s")) - (n - 1)),
            i => col("s").substr(i, lit(n)))).as("items"))

  /** PPJoin-style prefix-filtered set-similarity join (Xiao, Wang, Lin,
    * Yu 2008, "Efficient Similarity Joins for Near Duplicate Detection" —
    * public literature): the LOSSLESS scale-shape twin for
    * [[jaccardFromSets]] (q28/q43). Honest caveat, measured: on a corpus
    * whose duplicate clusters are huge (this fixture plants them), the
    * qualifying-pair OUTPUT is itself Θ(Σ cluster²) — 12.2M prefix
    * candidates at sf0.1, barely τ-sensitive because near-copies share
    * even their rarest tokens — so the pair-LISTING form is an excluded
    * correctness anchor (Bench.scala) and cluster-collapsing dedup
    * (q29/q47/q66) is the benched production path.
    *
    * Tokens are globally ordered by (df ASC, token ASC) — no dense rank
    * is materialized, the (df, token) tuple IS the order, so there is no
    * vocabulary-scale global window. Each doc indexes only its PREFIX in
    * that order: the first |T| − ⌈τ·|T|⌉ + 1 tokens. Completeness
    * theorem: J(A,B) ≥ τ ⇒ |A∩B| ≥ ⌈τ·|A|⌉ (J ≤ |A∩B|/|A|); if no
    * shared token fell in A's prefix, every shared token sits in A's
    * suffix of ⌈τ·|A|⌉ − 1 slots — fewer than the intersection.
    * Contradiction, so prefix-bucket candidates ⊇ all qualifying pairs,
    * and the exact verify makes the output equal the all-pairs form
    * bit-for-bit (the oracle is literally q28/q43's).
    *
    * Scale: the index holds ~(1−τ) of each doc's postings, and those are
    * its RAREST tokens (df-ascending order) — bucket fan-out collapses
    * exactly where the all-pairs inverted-index join explodes
    * (stopwords sort last and never enter the index). Verification joins
    * touch only candidate pairs. */
  /** The candidate pair set of the prefix-filtered join — exposed so the
    * bench-exclusion evidence (DedupSpec: the candidate count is
    * output-bound and barely τ-sensitive on this fixture's planted
    * clusters) REGENERATES from the same code the join runs, instead of
    * living as a quoted one-off measurement in a comment. */
  private[graft] def prefixCandidates(sets: DataFrame,
                                      threshold: Double): DataFrame = {
    val w = sets.select(col("doc_id"), explode(col("items")).as("item"))
    val dfreq = w.groupBy(col("item")).agg(count(lit(1)).as("df"))
    val wd = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val prefix = w.join(dfreq, Seq("item"))
      .withColumn("t", count(lit(1)).over(wd))
      .withColumn("rn",
        row_number().over(wd.orderBy(col("df"), col("item"))))
      .where(col("rn") <= col("t") - ceil(lit(threshold) * col("t")) + 1)
      .select(col("item"), col("doc_id"))
    prefix.select(col("item"), col("doc_id").as("d1"))
      .join(prefix.select(col("item"), col("doc_id").as("d2")), Seq("item"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
      .distinct()
  }

  def prefixJaccardFromSets(sets: DataFrame, threshold: Double): DataFrame = {
    val w = sets.select(col("doc_id"), explode(col("items")).as("item"))
    val cand = prefixCandidates(sets, threshold)
    val sz = w.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(w.select(col("doc_id").as("d1"), col("item")), Seq("d1"))
      .join(w.select(col("doc_id").as("d2"), col("item")), Seq("d2", "item"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sz.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
      .join(sz.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
      .withColumn("jaccard",
        round(col("i").cast(DoubleType) / (col("n1") + col("n2") - col("i")), 4))
      .where(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** q169 — q28's word-set jaccard pairs via the prefix-filtered join. */
  def prefixJaccardPairs(spark: SparkSession, dir: String,
                         threshold: Double): DataFrame =
    prefixJaccardFromSets(
      wordSets(spark, dir).withColumnRenamed("words", "items"), threshold)

  /** q170 — q43's char-5-gram jaccard pairs via the prefix-filtered join. */
  def prefixCharGramJaccardPairs(spark: SparkSession, dir: String,
                                 threshold: Double): DataFrame =
    prefixJaccardFromSets(charGramSets(spark, dir), threshold)

  /** Exact character-5-gram Jaccard pairs (the classic n-gram Jaccard
    * dedup; robust to word-boundary edits). */
  def charGramJaccardPairs(spark: SparkSession, dir: String, threshold: Double): DataFrame =
    jaccardFromSets(charGramSets(spark, dir), threshold)

  /** Exact word-set Jaccard pairs (order-insensitive; oracle query q28). */
  def jaccardPairs(spark: SparkSession, dir: String, threshold: Double): DataFrame =
    jaccardFromSets(
      wordSets(spark, dir).withColumnRenamed("words", "items"), threshold)

  /** Exact shingle Jaccard pairs (order-sensitive; minhash ground truth). */
  def shingleJaccardPairs(spark: SparkSession, dir: String, threshold: Double): DataFrame =
    jaccardFromSets(shingleSets(spark, dir), threshold)

  val MinhashSigSize = 128
  val MinhashBands   = 32 // 32 bands × 4 rows

  /** Per-doc distinct shingle *hashes* as array<long> — n-gram content
    * hashes combined positionally from single-token xxhash64 values
    * (h1·P1 + h2·P2 + h3·P3), so no shingle string is ever materialized. */
  def shingleHashes(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id"),
        filter(split(lower(col("text")), "[^a-z]+"), w => w =!= "").as("tk"))
      .where(size(col("tk")) >= n)
      .select(col("doc_id"), transform(col("tk"), w => xxhash64(w)).as("th"))
      .select(col("doc_id"),
        array_distinct(
          transform(sequence(lit(1), size(col("th")) - (n - 1)),
            i => xxhash64((0 until n).map(o => element_at(col("th"), i + o)): _*)))
          .as("items"))

  /** [[shingleHashes]] as a single per-row column expression — the
    * streaming ingest face (EventStreams.nearDupIngest) needs the
    * shingle-hash set computable on a stream row with no table scan.
    * Identical to the table form for every doc with >= n tokens; shorter
    * docs yield an EMPTY array (the table form has no row for them —
    * callers filter `size > 0` for parity). */
  def shingleItemsCol(text: Column, n: Int = 3): Column = {
    val tk = filter(split(lower(text), "[^a-z]+"), w => w =!= "")
    val th = transform(tk, w => xxhash64(w))
    when(size(tk) >= n,
      array_distinct(
        transform(sequence(lit(1), size(th) - (n - 1)),
          i => xxhash64((0 until n).map(o => element_at(th, i + o)): _*))))
      .otherwise(array().cast(ArrayType(LongType)))
  }

  /** MinHash signatures over a (doc_id, items: array<long>) table — one
    * fused-loop native expression (graft.functions.MinHashSigExpr). */
  def minhashSignatures(sets: DataFrame): DataFrame =
    sets.select(
      col("doc_id"),
      graft.functions.MinHashSigExpr.minhashSig(col("items"), MinhashSigSize).as("sig"))

  /** MinHash + LSH banded near-dup detection over 3-token shingles.
    *
    * Scale shape: (1) signatures — one map pass; (2) banding — a fixed 32
    * (band, bandHash) rows per doc, *signatures dropped* so the self-join
    * shuffles only 16-byte keys + ids, never the 1 KB signature payload;
    * (3) candidates = per-bucket pairs, distinct; (4) signatures joined
    * back by doc id (a small table — broadcast at these SFs) for the
    * similarity estimate. Banding math: P(candidate) = 1-(1-j^4)^32, so
    * j=0.9 pairs are found with P ≈ 1-1e-15.
    */
  /** (doc_id, band, bh) LSH bucket rows for a signature table — a fixed
    * `MinhashBands` rows per doc, signatures dropped so downstream joins
    * shuffle only 16-byte keys + ids. Banding is PER-DOC deterministic,
    * so bucket matches across any corpus split equal the matches of the
    * global table restricted to that split (what lets q106 probe a
    * standing corpus with only the incoming batch banded fresh). */
  def bandedSignatures(sig: DataFrame): DataFrame = {
    val rows = MinhashSigSize / MinhashBands
    sig.select(
      col("doc_id"),
      explode(
        transform(
          sequence(lit(0), lit(MinhashBands - 1)),
          // hash the signature slice directly (xxhash64 folds over array
          // elements) — no per-band string materialization
          b => struct(
            b.as("band"),
            xxhash64(slice(col("sig"), b * rows + 1, lit(rows))).as("bh"))))
        .as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bh"))
  }

  /** q29 — the MinHash/LSH near-dup operator, GRADUATED to a full DuckDB
    * oracle (round 7): banded candidates are verified by exact
    * per-candidate shingle Jaccard and the EXACT value is presented,
    * instead of the hash-dependent signature estimate the operator
    * previously emitted (which no other engine can reproduce). Candidate
    * generation is unchanged — the same signatures, the same 32-band
    * bucketing, cost still O(docs × sig) + per-bucket pairs — and
    * `candidateEst = 0` means every bucket candidate reaches the
    * verifier (no estimate pre-filter), so the output is exactly the
    * verified-candidate set. Under the spec-asserted banding-recall-1
    * premise (ManifestSpec — and a fortiori: this set contains q47's
    * est-prefiltered one and is contained in exact all-pairs) the result
    * EQUALS exact all-pairs shingle Jaccard at `threshold`, which is the
    * oracle. The signature ESTIMATE itself stays exercised by q47's
    * pre-filter stage and the banding invariant specs. */
  def q29(spark: SparkSession, dir: String,
          threshold: Double = 0.7): DataFrame =
    minhashVerifiedPairs(spark, dir, candidateEst = 0.0,
      exactThreshold = threshold).orderBy(col("d1"), col("d2"))

  /** MinHash-LSH candidate pairs whose signature estimate reaches
    * `estThreshold`. Unordered; queries order at presentation. */
  def minhashPairs(spark: SparkSession, dir: String, estThreshold: Double): DataFrame = {
    val sig = minhashSignatures(shingleHashes(spark, dir))
    val banded = bandedSignatures(sig)
    val cand = banded.select(col("band"), col("bh"), col("doc_id").as("d1"))
      .join(banded.select(col("band"), col("bh"), col("doc_id").as("d2")), Seq("band", "bh"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
      .distinct()
    cand
      .join(sig.select(col("doc_id").as("d1"), col("sig").as("s1")), Seq("d1"))
      .join(sig.select(col("doc_id").as("d2"), col("sig").as("s2")), Seq("d2"))
      .withColumn("est_jaccard",
        round(
          size(filter(zip_with(col("s1"), col("s2"), (x, y) => x === y), b => b))
            .cast(DoubleType) / MinhashSigSize, 4))
      .where(col("est_jaccard") >= estThreshold)
      .select(col("d1"), col("d2"), col("est_jaccard"))
  }

  /** Scale-safe EXACT near-dup detection: minhash-LSH candidate pairs,
    * each verified with exact shingle jaccard computed per pair via
    * array_intersect on the two (bounded) shingle-hash sets — no
    * inverted-index self-join, so cost is O(candidates × doc shingles),
    * never quadratic in the corpus. This is the production shape of
    * q28/q43's all-pairs verifiers. Unordered; queries order at
    * presentation. */
  def minhashVerifiedPairs(spark: SparkSession, dir: String,
                           candidateEst: Double, exactThreshold: Double): DataFrame = {
    val sets = shingleHashes(spark, dir)
    val cand = minhashPairs(spark, dir, candidateEst).select(col("d1"), col("d2"))
    cand
      .join(sets.select(col("doc_id").as("d1"), col("items").as("i1")), Seq("d1"))
      .join(sets.select(col("doc_id").as("d2"), col("items").as("i2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("i1"), col("i2"))).as("inter"),
        size(col("i1")).as("n1"), size(col("i2")).as("n2"))
      .withColumn("jaccard",
        round(col("inter").cast(DoubleType) /
          (col("n1") + col("n2") - col("inter")), 4))
      .where(col("jaccard") >= exactThreshold)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** 64-bit SimHash: each occurrence of a token contributes ±1 to each of
    * the 64 bit-counters according to its token hash's bits; the signature
    * bit is the sign of the counter. Identical word multisets → identical
    * simhash (hamming 0).
    *
    * The token hash is the PORTABLE poly31+splitmix64 kernel
    * (graft.functions.TokenHashExpr) rather than xxhash64 — full-avalanche
    * mixing (per-bit uniformity on par for SimHash's purpose), cheaper on
    * short tokens, and exactly recomputable in DuckDB, which is what lets
    * q30 carry a full oracle (round 8; previously rows-only).
    *
    * One shuffle on doc_id; the fold is a native TypedImperativeAggregate
    * (graft.functions.SimHashAgg) with a long[64] buffer and map-side
    * partial merge — no per-word count pre-aggregation (±count per
    * distinct word ≡ ±1 per occurrence) and no per-row array allocation. */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame =
    TextQueries.tokens(spark, dir)
      .select(col("doc_id"), graft.functions.TokenHashExpr.tokenHash(col("word")).as("h"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.SimHashAgg.simhash(col("h")).as("simhash"))

  /** SimHash near-dup pairs with hamming distance <= maxHamming,
    * candidates blocked on matching 16-bit blocks. Pigeonhole: <= 3
    * differing bits spread over 4 disjoint blocks leave at least one block
    * exactly equal — so block-equality candidate generation is COMPLETE
    * for hamming <= 3 (2 half-blocks would NOT be: a (1,2) error split
    * matches neither half). No all-pairs join; keys are (block index,
    * 16-bit value, id). Unordered; queries order at presentation. */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "16-bit-block blocking is complete only for hamming <= 3")
    val sig = simhashSignatures(spark, dir)
    val blocked = sig.select(
      col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(
          lit(b).as("band"),
          shiftright(col("simhash"), 16 * b).bitwiseAND(0xFFFFL).as("bv"))): _*))
        .as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bv"))
    val l = blocked.select(col("band"), col("bv"), col("doc_id").as("d1"), col("simhash").as("h1"))
    val r = blocked.select(col("band"), col("bv"), col("doc_id").as("d2"), col("simhash").as("h2"))
    l.join(r, Seq("band", "bv"))
      .where(col("d1") < col("d2"))
      // hamming is computable from the joined row — filter BEFORE the
      // dedup aggregate so the dedup shuffle carries true pairs only,
      // not every block collision (up to 4× duplicated)
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("d1", "d2")
      .select(col("d1"), col("d2"), col("hamming").cast(IntegerType).as("hamming"))
  }

  /** Winnowing (MOSS-style) local fingerprints — the SUBSTRING-overlap
    * tier the set-similarity tiers can't provide: MinHash/SimHash compare
    * whole-document token sets, so a long doc that merely CONTAINS a
    * copied passage looks dissimilar; winnowing fingerprints the passage
    * itself. Rolling char k-gram hashes, then the minimum hash of each
    * sliding window of w consecutive k-grams, deduplicated — the standard
    * guarantee: any shared substring of length ≥ w+k-1 contributes at
    * least one shared fingerprint (spec-asserted). Pure per-row map
    * (HOFs over the char sequence, no UDF, no shuffle); output one
    * (doc_id, fp) row per selected fingerprint. */
  def winnowFingerprints(spark: SparkSession, dir: String,
                         k: Int = 5, w: Int = 4): DataFrame =
    winnowFps(graft.core.Tables(spark, dir, "documents"), k, w)

  /** Core winnowing transform over any (doc_id, text) frame. The kernel
    * is the native WinnowFpExpr (codegen'd fused loop) — the equivalent
    * transform/sequence/slice HOF graph goes quadratic in practice
    * because CollapseProject inlines the gram-hash array into every
    * window element (see WinnowFpExpr scaladoc). */
  def winnowFps(docs: DataFrame, k: Int = 5, w: Int = 4): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.WinnowFpExpr.winnowFp(lower(col("text")), k, w).as("fps"))
      .select(col("doc_id"), explode(col("fps")).as("fp"))

  /** q65 — winnowed-fingerprint containment candidates: doc pairs sharing
    * ≥ minShared selected fingerprints. The join is on the 8-byte
    * fingerprint itself (bucketed, never all-pairs — LSH-shaped), BUT a
    * fingerprint occurring in many documents creates a quadratic bucket:
    * boilerplate phrases ("click here to", license headers) would pull
    * the whole corpus into one bucket. `maxDocFreq` drops those STOP
    * FINGERPRINTS before the self-join — the same frequency-cap every
    * production near-dup pipeline applies, and the reason this stays
    * bounded at 100 TB: per-bucket cost is ≤ maxDocFreq², total cost is
    * #fingerprints · maxDocFreq², linear in corpus size. (Measured here:
    * without the cap, this synthetic tiny-vocab corpus at sf0.1 wedges a
    * 32-core box; with it, sub-second.) Dropping a ubiquitous fingerprint
    * only suppresses pairs whose sole evidence is boilerplate — the
    * deliberate trade. Per-doc fingerprints are deduplicated
    * (array_distinct upstream), so n_shared counts distinct shared
    * fingerprints. Hash-dependent output (xxhash64): rows-only driver
    * check; the winnowing guarantee is spec-proven. Unordered; queries
    * order at presentation. */
  def winnowPairs(spark: SparkSession, dir: String,
                  minShared: Int = 8, maxDocFreq: Int = 20): DataFrame = {
    // The stop-fingerprint filter is a WINDOW count over fp, not a
    // separate groupBy+rejoin branch: `kept` is then one fp-partitioned
    // subtree, and because the self-join's two sides are canonically
    // identical, exchange reuse evaluates the scan+winnow-kernel ONCE and
    // the join consumes the same fp-partitioned, fp-sorted output on both
    // sides with no further shuffle. The previous shape localCheckpoint'ed
    // the fingerprint table to stop a 4x recompute — this shape makes the
    // recompute impossible by construction and pins no storage for the
    // session (the leak the checkpointing shape had).
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val kept = winnowFingerprints(spark, dir)
      .withColumn("df", count(lit(1)).over(byFp))
      .where(col("df") <= maxDocFreq)
      .select(col("fp"), col("doc_id"))
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).cast(IntegerType).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** q209 — EDIT-DISTANCE entity dedup (FastSS, Bocek et al. 2007):
    * all pairs of distinct part names within Levenshtein distance ≤ 2,
    * found by DELETION-NEIGHBORHOOD blocking — each name emits every
    * string reachable by deleting ≤ 2 characters; two names within
    * distance k share at least one such variant (complete by the FastSS
    * theorem: every edit op on one side is simulated by one deletion on
    * each side), so candidates come from an equality JOIN on variant
    * keys and exact `levenshtein` only verifies bucket-mates. The
    * typo/variant tier of entity resolution (q136 matches on blocking
    * keys + field equality; q209 catches what a single character slip
    * hides from it).
    *
    * Scale shape: O(L²) keys per name (L = name length, short by
    * domain), join keyed on short strings, never all-pairs across the
    * name universe; exact verify per bucket-mate pair only. The spec
    * proves the blocking lossless by comparing against brute-force
    * all-pairs levenshtein on the (bounded) distinct-name set. */
  def q209(spark: SparkSession, dir: String, maxDist: Int = 2): DataFrame = {
    require(maxDist == 2, "deletion neighborhood is generated for k = 2")
    val names = graft.core.Tables(spark, dir, "part")
      .groupBy(col("p_name").as("w")).agg(count(lit(1)).as("n_rows"))
    val keyed = names
      .withColumn("d1", expr(
        """transform(sequence(0, length(w) - 1),
          |  i -> concat(substring(w, 1, i), substring(w, i + 2, 1000000)))"""
          .stripMargin))
      .withColumn("dkey", explode(expr(
        """array_distinct(concat(
          |  array(w), d1,
          |  flatten(transform(d1, d -> CASE WHEN length(d) < 1 THEN
          |    CAST(array() AS ARRAY<STRING>)
          |  ELSE transform(sequence(0, length(d) - 1),
          |    i -> concat(substring(d, 1, i), substring(d, i + 2, 1000000)))
          |  END))))""".stripMargin)))
      .select(col("w"), col("n_rows"), col("dkey"))
    keyed.as("a").join(keyed.as("b"),
        col("a.dkey") === col("b.dkey") && col("a.w") < col("b.w"))
      .select(col("a.w").as("name1"), col("b.w").as("name2"),
        col("a.n_rows").as("n1"), col("b.n_rows").as("n2"))
      .distinct()
      .withColumn("dist",
        levenshtein(col("name1"), col("name2")).cast(IntegerType))
      .where(col("dist") <= maxDist)
      .select(col("name1"), col("name2"), col("dist"), col("n1"), col("n2"))
      .orderBy(col("name1"), col("name2"))
  }
}
