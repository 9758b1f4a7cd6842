package graft.mr

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** Golden/differential tests of the MR-compat surface — the analog of the
  * reference's test-mr.sh methodology: compare merged sorted output against
  * an independently computed golden, and check partition-count invariance
  * (the invariant implicit in test-mr.sh:103's merge of per-partition
  * files). */
class MRJobSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  /** Deterministic corpus: a handful of files with known word content. */
  private lazy val corpus: (Path, Map[String, String]) = {
    val dir = Files.createTempDirectory("mr-corpus")
    val files = Map(
      "f1.txt" -> "the quick brown fox jumps over the lazy dog",
      "f2.txt" -> "the dog barks; the fox runs. Fox!",
      "f3.txt" -> "lorem ipsum dolor sit amet, lorem lorem")
    files.foreach { case (n, c) => Files.writeString(dir.resolve(n), c) }
    (dir, files)
  }

  private def goldenWordCount: Seq[String] = {
    val (_, files) = corpus
    files.values
      .flatMap(_.split("[^\\p{L}]+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => s"$w ${ws.size}" }
      .toSeq.sorted
  }

  test("wordcount merged output equals golden (differential, like test-mr.sh:104)") {
    val (dir, _) = corpus
    val got = MRJob.mergedOutput(spark, Seq(dir.toString + "/*.txt"),
      Apps.WordCount.map, Apps.WordCount.reduce, nReduce = 5)
    assert(got == goldenWordCount)
  }

  test("output invariant under reduce partition count R in {1, 3, 10}") {
    val (dir, _) = corpus
    val outs = Seq(1, 3, 10).map(r =>
      MRJob.mergedOutput(spark, Seq(dir.toString + "/*.txt"),
        Apps.WordCount.map, Apps.WordCount.reduce, nReduce = r))
    assert(outs.distinct.size == 1)
    assert(outs.head == goldenWordCount)
  }

  test("inverted index: sorted doc csv per word, count prefix (indexer.go:36-39)") {
    val (dir, files) = corpus
    val got = MRJob.mergedOutput(spark, Seq(dir.toString + "/*.txt"),
      Apps.InvertedIndex.map, Apps.InvertedIndex.reduce, nReduce = 3)
    val fox = got.find(_.startsWith("fox ")).get
    // 'fox' occurs in f1 and f2 (case-sensitive tokens; "Fox" is separate)
    assert(fox.matches("fox 2 \\S*f1\\.txt,\\S*f2\\.txt"))
    val theLine = got.find(_.startsWith("the ")).get
    assert(theLine.startsWith("the 2 "))
    assert(got.size == files.values.flatMap(_.split("[^\\p{L}]+")).filter(_.nonEmpty).toSet.size)
  }

  test("relational unicode twins q81/q82 equal the MR-compat apps on the documents fixture") {
    import org.apache.spark.sql.functions.col
    // same corpus on both paths: dump the sf0.001 documents table to one
    // file per doc, named by doc_id (lexicographic path order == the
    // relational doc_id-string order, so the indexer csv lines up)
    val docs = graft.core.Tables(spark, SparkTest.sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val dir = Files.createTempDirectory("mr-docs")
    docs.foreach { case (id, text) => Files.writeString(dir.resolve(s"$id.txt"), text) }

    // wordcount: MR "word N" lines == full relational unicode aggregate
    val mrWc = MRJob.mergedOutput(spark, Seq(dir.toString + "/*.txt"),
      Apps.WordCount.map, Apps.WordCount.reduce, nReduce = 5)
    val relWc = graft.queries.TextQueries.tokensUnicode(spark, SparkTest.sf0001)
      .groupBy(col("word")).count().collect()
      .map(r => s"${r.getString(0)} ${r.getLong(1)}").sorted.toSeq
    assert(relWc == mrWc)

    // inverted index: strip the MR doc names (path/<id>.txt) back to ids;
    // everything else (count prefix, lexicographically sorted csv) must
    // match the relational q82 aggregate exactly
    val mrIdx = MRJob.mergedOutput(spark, Seq(dir.toString + "/*.txt"),
      Apps.InvertedIndex.map, Apps.InvertedIndex.reduce, nReduce = 5)
      .map { line =>
        line.replaceAll("""[^,\s]*/(\d+)\.txt""", "$1")
      }
    val relIdx = graft.queries.TextQueries.tokensUnicode(spark, SparkTest.sf0001)
      .groupBy(col("word"))
      .agg(org.apache.spark.sql.functions.countDistinct(col("doc_id")).as("n"),
        org.apache.spark.sql.functions.array_join(
          org.apache.spark.sql.functions.sort_array(
            org.apache.spark.sql.functions.collect_set(
              col("doc_id").cast(org.apache.spark.sql.types.StringType))), ",").as("docs"))
      .collect()
      .map(r => s"${r.getString(0)} ${r.getLong(1)} ${r.getString(2)}").sorted.toSeq
    assert(relIdx == mrIdx)
  }

  test("file stats app emits 4 keys with sorted space-joined values (nocrash.go)") {
    val (dir, _) = corpus
    val got = MRJob.mergedOutput(spark, Seq(dir.toString + "/*.txt"),
      Apps.FileStats.map, Apps.FileStats.reduce, nReduce = 2)
    assert(got.size == 4)
    assert(got.map(_.takeWhile(_ != ' ')) == Seq("a", "b", "c", "d"))
    val d = got.find(_.startsWith("d ")).get
    assert(d == "d xyzzy xyzzy xyzzy")
  }

  test("runToDir writes text files whose merged lines equal the golden output") {
    val (dir, _) = corpus
    val out = Files.createTempDirectory("mr-out").toString + "/wc"
    MRJob.runToDir(spark, Seq(dir.toString + "/*.txt"),
      Apps.WordCount.map, Apps.WordCount.reduce, nReduce = 4, out)
    val lines = spark.read.text(out).collect().map(_.getString(0)).sorted.toSeq
    assert(lines == goldenWordCount)
  }

  test("runToDir sink layout: exactly nReduce files named mr-out-<r> (worker.go:118)") {
    val (dir, _) = corpus
    val nReduce = 6 // more partitions than distinct-hash buckets in use,
                    // so at least one mr-out-<r> must be created empty
    val out = Files.createTempDirectory("mr-out-layout").toString + "/wc"
    MRJob.runToDir(spark, Seq(dir.toString + "/*.txt"),
      Apps.WordCount.map, Apps.WordCount.reduce, nReduce, out)
    val names = new java.io.File(out).listFiles()
      .map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")) // commit markers/crc
      .sorted.toSeq
    assert(names == (0 until nReduce).map(r => s"mr-out-$r").sorted,
      s"got layout: $names")
    // merged content still golden after the rename pass
    val lines = (0 until nReduce).flatMap { r =>
      val src = scala.io.Source.fromFile(s"$out/mr-out-$r")
      try src.getLines().toList finally src.close()
    }.sorted
    assert(lines == goldenWordCount)
  }

  /** File names directly under `dir`, hidden ones included, sorted. */
  private def listing(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq

  private def mergedLines(dir: String): Seq[String] =
    listing(dir).flatMap(n => Files.readAllLines(Paths.get(dir, n)).asScala).sorted

  test("runToDir leaves exactly mr-out-0..R-1 in outDir: no markers, checksums or temp files") {
    val (dir, _) = corpus
    val out = Files.createTempDirectory("mr-out-exact").toString + "/wc"
    MRJob.runToDir(spark, Seq(dir.toString + "/*.txt"),
      Apps.WordCount.map, Apps.WordCount.reduce, nReduce = 5, out)
    assert(listing(out) == (0 until 5).map(r => s"mr-out-$r").sorted)
    assert(mergedLines(out) == goldenWordCount)
  }

  test("runToDir into the same outDir with a smaller R leaves exactly the new R files") {
    val (dir, _) = corpus
    val out = Files.createTempDirectory("mr-out-rerun").toString + "/wc"
    val glob = Seq(dir.toString + "/*.txt")
    MRJob.runToDir(spark, glob, Apps.WordCount.map, Apps.WordCount.reduce, nReduce = 7, out)
    MRJob.runToDir(spark, glob, Apps.WordCount.map, Apps.WordCount.reduce, nReduce = 3, out)
    assert(listing(out) == Seq("mr-out-0", "mr-out-1", "mr-out-2"))
    assert(mergedLines(out) == goldenWordCount)
  }

  test("runToDir rejects a non-local outDir before any Spark job starts") {
    val (dir, _) = corpus
    val jobs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try intercept[IllegalArgumentException] {
      MRJob.runToDir(spark, Seq(dir.toString + "/*.txt"),
        Apps.WordCount.map, Apps.WordCount.reduce, nReduce = 2, "hdfs://localhost:8020/mr/wc")
    } finally {
      Bridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get == 0, s"${jobs.get} Spark jobs started for a rejected outDir")
  }

  test("runToDir forks no process that names its output directory (JFR jdk.ProcessStart)") {
    // Hadoop's local file system forks `chmod` per file it creates when its
    // native library is absent; runToDir's commit must not go through it.
    val (dir, _) = corpus
    val out = Files.createTempDirectory("mr-out-nofork").toString + "/wc"
    val rec = new Recording()
    val jfr = Files.createTempFile("mr-out-nofork", ".jfr")
    val commands = try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try MRJob.runToDir(spark, Seq(dir.toString + "/*.txt"),
        Apps.WordCount.map, Apps.WordCount.reduce, nReduce = 4, out)
      finally rec.stop()
      rec.dump(jfr)
      RecordingFile.readAllEvents(jfr).asScala.map(_.getString("command")).toSeq
    } finally { rec.close(); Files.deleteIfExists(jfr) }
    val named = commands.filter(_.contains(out))
    assert(named.isEmpty, s"${named.size} processes forked on $out, e.g. ${named.take(3)}")
    assert(mergedLines(out) == goldenWordCount)
  }

  // the reference's wc test corpus shape: 8 Gutenberg files, 3,301,104
  // bytes (test-mr.sh:47-51), here drawn from a 14-word vocabulary
  private val vocab = Vector("the", "quick", "brown", "fox", "lazy", "dog", "spark",
    "shuffle", "reduce", "partition", "word", "count", "alpha", "beta")
  private lazy val referenceScale: Path = {
    val dir = Files.createTempDirectory("mr-large")
    val rnd = new scala.util.Random(42)
    (1 to 8).foreach { i =>
      val sb = new StringBuilder
      while (sb.length < 412000) { sb.append(vocab(rnd.nextInt(vocab.size))).append(' ') }
      Files.writeString(dir.resolve(s"pg-$i.txt"), sb.toString)
    }
    dir
  }

  test("reference-scale corpus (8 files, ~3.3 MB) beats the reference's 45 s wc bound") {
    // 3 workers must finish < 45 s (test-mr.sh:87-96)
    val t0 = System.nanoTime()
    val out = MRJob.mergedOutput(spark, Seq(referenceScale.toString + "/*.txt"),
      Apps.WordCount.map, Apps.WordCount.reduce, nReduce = 10)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(out.size == vocab.size)
    assert(secs < 45.0, s"took $secs s — slower than the reference bound")
    info(f"3.3 MB wc in $secs%.2f s (reference bound: 45 s)")
  }

  test("reduce sees values of one key exactly once per key (run-length grouping)") {
    val (dir, _) = corpus
    var calls = 0
    val countingReduce: MRJob.ReduceF = (k, vs) => { calls += 1; vs.size.toString }
    // mergedOutput collects to driver, so the local closure count is valid
    // only in local mode — good enough for the grouping invariant.
    val got = MRJob.mergedOutput(spark, Seq(dir.toString + "/*.txt"),
      Apps.WordCount.map, countingReduce, nReduce = 1)
    assert(got == goldenWordCount)
  }

  test("shuffle carries at most one record per distinct (key, value) per map call") {
    // wc emits one ("word", "1") per occurrence: ~650k pairs here, but only
    // 14 distinct ones per file
    val records = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    val glob = referenceScale.toString + "/*.txt"
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val out = try MRJob.mergedOutput(spark, Seq(glob), Apps.WordCount.map,
      Apps.WordCount.reduce, nReduce = 10)
    finally {
      Bridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(out.size == vocab.size)
    assert(records.get <= 8L * vocab.size,
      s"${records.get} shuffle records for 8 files of ${vocab.size} distinct words")
  }

  test("reducef gets exactly the multiset mapf emitted per key, for R in {1, 3, 10}") {
    // each line "key<TAB>value" of a file is one emitted pair
    val mapf: MRJob.MapF = (_, contents) =>
      contents.split("\n").iterator.filter(_.nonEmpty).map { line =>
        val Array(k, v) = line.split("\t", 2); (k, v)
      }
    val reducef: MRJob.ReduceF = (_, values) =>
      s"${values.size} ${values.sorted.mkString("|")}"
    val files = Seq(
      // the same pair several times in one file, an empty value, a value
      // with spaces, several distinct values for one key
      "m1.txt" -> Seq("a\t1", "a\t1", "a\t1", "b\t", "b\t", "c\tx y", "a\t2",
        "c\tx y", "d\t1"),
      // the same pairs again from a second file
      "m2.txt" -> Seq("a\t1", "c\tx y", "b\t", "e\t  two  spaces ", "a\t3"),
      "m3.txt" -> Seq("d\t1", "d\t1", "a\t1"))
      .map { case (n, lines) => n -> lines.mkString("", "\n", "\n") }
    val dir = Files.createTempDirectory("mr-multiset")
    files.foreach { case (n, c) => Files.writeString(dir.resolve(n), c) }

    // driver-side replay of mrsequential.go: map every file in order, then
    // reduce each key's values (its sort-then-scan groups them the same way)
    val golden = files.flatMap { case (n, c) => mapf(n, c) }
      .groupBy(_._1).toSeq
      .map { case (k, kvs) => s"$k ${reducef(k, kvs.map(_._2))}" }.sorted
    assert(golden.contains("a 7 1|1|1|1|1|2|3"))
    assert(golden.contains("b 3 ||"))

    Seq(1, 3, 10).foreach { r =>
      val got = MRJob.mergedOutput(spark, Seq(dir.toString + "/*.txt"), mapf, reducef, r)
      assert(got == golden, s"R=$r")
    }
  }
}
