package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.core.{Pins, Tables}

/** BPE merge training (Sennrich et al. 2016, "Neural Machine Translation
  * of Rare Words with Subword Units") — the first iterations of tokenizer
  * vocabulary induction, run corpus-scale: count adjacent symbol pairs
  * weighted by word frequency, merge the most frequent pair everywhere,
  * repeat.
  *
  * Merge application is GREEDY-LEFTMOST non-overlapping (the standard BPE
  * sweep), expressed in CLOSED FORM so both engines compute it with plain
  * array expressions and no sequential fold: two candidate merges can
  * only overlap when left == right (a run of equal symbols), and within a
  * maximal run of consecutive matches the greedy sweep takes the 1st,
  * 3rd, 5th, … — so `merge(i) = match(i) AND (consecutive-match count
  * immediately before i) is even`. That trailing-run length is
  * `i − 1 − (last non-match index before i)`, an O(m²) per-word array
  * formula over words of bounded length — identical in Spark and DuckDB,
  * which is what makes the whole training loop oracle-checkable.
  *
  * Scale posture: the corpus is tokenized ONCE into a (word, cnt) vocab
  * aggregate (map-side partials); every iteration after that runs on the
  * vocab table — pair counting is a vocab-keyed explode + aggregate,
  * merge application a per-row array transform. The only driver-side
  * data per iteration is the single argmax pair (the k-means pattern:
  * a 1-row action, never a corpus collect), and the re-merged vocab is
  * MATERIALIZED per round (localCheckpoint, freed when superseded — the
  * q129/Components convention): composing iterations lazily would nest
  * the O(m²)-reference merge expression into an exponentially-growing
  * tree. At 100 TB the vocab table is millions of rows — still
  * trivially distributed.
  */
object Bpe {

  /** match(i): does the pair (l, r) sit at position i of symbol array
    * `t`? Guarded to i < size(t). (SQL-expr fragment, 1-based i.) */
  private def matchAt(t: String, i: String, l: String, r: String): String =
    s"""($i < size($t) AND element_at($t, $i) = '$l'
       | AND element_at($t, $i + 1) = '$r')""".stripMargin

  /** Greedy-leftmost merge flags for symbol array column `t` (array of
    * strings) and pair (l, r): array<boolean>, one per position. */
  def mergeFlags(t: String, l: String, r: String): Column = expr(
    s"""transform(sequence(1, size($t)), i ->
       |  ${matchAt(t, "i", l, r)}
       |  AND ((i - 1 - IF(i = 1, 0,
       |    COALESCE(array_max(filter(sequence(1, i - 1),
       |      j -> NOT ${matchAt(t, "j", l, r)})), 0))) % 2 = 0))"""
      .stripMargin)

  /** Apply the merge: positions flagged in `mf` emit the merged symbol,
    * positions immediately after a flagged one are consumed, the rest
    * pass through. */
  def applyMerge(t: String, mf: String, l: String, r: String): Column = expr(
    s"""filter(transform(sequence(1, size($t)), i ->
       |  CASE WHEN element_at($mf, i) THEN '$l$r'
       |       WHEN i > 1 AND element_at($mf, i - 1) THEN CAST(NULL AS STRING)
       |       ELSE element_at($t, i) END), x -> x IS NOT NULL)"""
      .stripMargin)

  /** One BPE iteration over a vocab of (cnt, t): the winning pair by
    * (total count DESC, left ASC, right ASC) and the re-merged vocab —
    * None when the vocab is EXHAUSTED (every entry is a single symbol,
    * so no pair exists; the oracle's empty b_k CTE truncates its chain
    * at exactly the same round). */
  /** One round's pair-frequency aggregate over the maintained vocab —
    * the corpus-scale work of every BPE iteration (the argmax collects
    * ONE row of it). */
  private def pairCounts(vocab: DataFrame): DataFrame =
    // sequence(1, 0) DESCENDS in Spark — single-symbol entries stay in
    // the vocab (merge application is a no-op on them) but contribute no
    // pairs, exactly like the oracle's empty range(1, 1)
    vocab
      .where(size(col("t")) >= 2)
      .select(col("cnt"), explode(expr(
        """transform(sequence(1, size(t) - 1),
          |  i -> struct(element_at(t, i) AS l, element_at(t, i + 1) AS r))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("n"))

  def step(vocab: DataFrame): Option[((String, String, Long), DataFrame)] = {
    val pairs = pairCounts(vocab)
    val best = pairs.orderBy(col("n").desc, col("l"), col("r")).limit(1)
      .collect()
    if (best.isEmpty) None
    else {
      val (l, r, n) =
        (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      val merged = vocab
        .withColumn("mf", mergeFlags("t", l, r))
        .withColumn("t", applyMerge("t", "mf", l, r))
        .drop("mf")
      Some(((l, r, n), merged))
    }
  }

  /** q145 — the first `iters` BPE merges learned from the corpus: per
    * merge, its rank, the pair, the merged symbol, and the weighted pair
    * count at selection time. Words (lowercased letter runs) weighted by
    * corpus frequency; symbols start as single characters. Default depth
    * 8 (round-9): deep enough to prove the per-round checkpoint keeps
    * every iteration's plan O(1) (BpeSpec asserts the plan node count is
    * CONSTANT across rounds) while the DuckDB oracle still replays every
    * round exactly. */
  def q145(spark: SparkSession, dir: String, iters: Int = 8): DataFrame =
    // RE-POINTED at the augmented corpus (round 11, the q157 note): BPE
    // merge dynamics over the raw fixture's 31 words were near-trivial;
    // the augmented stream's ~6.3k distinct 4-letter words give the
    // pair-frequency argmax a real distribution to climb.
    bpeMergesOf(TextAnalysis.augmentedWords(spark, dir).select(col("word")),
      iters)

  /** q145's training machinery over any single-column `(word)` stream —
    * split out so the golden-fixture and driver-reference specs can
    * drive it with controlled vocabularies. */
  private[graft] def bpeMergesOf(words: DataFrame, iters: Int): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    // MATERIALIZE the vocab between iterations (per-round localCheckpoint,
    // the q129 pattern): applyMerge references `t` O(m²) times, so
    // composing iterations as one lazy expression tree grows it
    // EXPONENTIALLY — the un-checkpointed form pinned one core for 19
    // minutes at iters = 3 where the materialized form takes seconds.
    val merges = Pins.scope { pins =>
      var vocab = pins.pin(words
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        // filter guards the empty tail some split(-1) semantics emit
        .withColumn("t", filter(split(col("word"), ""), x => x =!= ""))
        .select(col("cnt"), col("t")))
      (1 to iters).iterator.map { rank =>
        step(vocab).map { case ((l, r, n), next) =>
          val nextCp = pins.pin(next)
          pins.release(vocab)
          vocab = nextCp
          (rank, l, r, l + r, n)
        }
      }.takeWhile(_.isDefined).flatten.toSeq
    }
    merges.toDF("rank", "left", "right", "merged", "n")
      .orderBy(col("rank"))
  }

  /** q165 — corpus TOKENIZATION with the trained tokenizer: run the same
    * `iters` training merges as q145, but keep the vocab at (source,
    * word) granularity so the final symbol arrays ARE the per-source
    * encoded corpus, then aggregate the token accounting every training
    * pipeline budgets with: words, BPE tokens, characters, distinct
    * token types, and the tokens-per-word / tokens-per-char ratios.
    *
    * Training is UNCHANGED from q145 (pair totals sum over (source,
    * word) rows exactly as over (word) rows, so every round picks the
    * same winner); encoding costs nothing extra — the maintained vocab's
    * `t` column after the last merge IS each word's token sequence.
    * Scale shape: identical to q145 (vocab-sized state, one argmax
    * collect per round, per-round localCheckpoint); the final
    * aggregates are one groupBy(source) over the vocab plus one
    * distinct-token count — both tiny next to tokenization. The greedy
    * sweep is lossless (concat(t) == word, BpeSpec), so `n_chars`
    * derived from the token arrays equals the raw character count. */

  def q165(spark: SparkSession, dir: String, iters: Int = 8): DataFrame =
    Pins.result { pins =>
      var vocab = pins.pin(Tables(spark, dir, "documents")
        .select(col("source"),
          explode(TextAnalysis.toks(col("text"))).as("word"))
        .groupBy(col("source"), col("word")).agg(count(lit(1)).as("cnt"))
        .withColumn("t", filter(split(col("word"), ""), x => x =!= "")))
      var rank = 0
      var exhausted = false
      while (rank < iters && !exhausted) {
        step(vocab) match {
          case Some((_, next)) =>
            val nextCp = pins.pin(next)
            pins.release(vocab)
            vocab = nextCp
            rank += 1
          case None => exhausted = true
        }
      }
      val types = vocab
        .select(col("source"), explode(col("t")).as("tok"))
        .groupBy(col("source"))
        .agg(countDistinct(col("tok")).as("n_token_types"))
      vocab
        .groupBy(col("source"))
        .agg(
          sum(col("cnt")).as("n_words"),
          sum(col("cnt") * size(col("t"))).as("n_tokens"),
          sum(col("cnt") * length(col("word"))).as("n_chars"))
        .join(types, Seq("source"))
        .select(col("source"), col("n_words"), col("n_tokens"),
          col("n_chars"), col("n_token_types"),
          round(col("n_tokens").cast(DoubleType) / col("n_words"), 4)
            .as("tokens_per_word"),
          round(col("n_tokens").cast(DoubleType) / col("n_chars"), 4)
            .as("tokens_per_char"))
        .orderBy(col("source"))
    }
}
