package graft.mr

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, LinkOption, Paths, StandardCopyOption}

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** MR-compat API: the reference's complete dataflow surface
  * (/root/reference/src/mr/worker.go:142-143 — `mapf: (filename, contents)
  * → [](K,V)`, `reducef: (key, values) → value`) re-expressed as one Spark
  * job with two stages split by a hash shuffle.
  *
  * Stage mapping (reference → here):
  *  - whole-file scan (worker.go:75-87)      → `wholetext` text source + input_file_name
  *  - map apply (worker.go:87)               → flatMap
  *  - per-call combine (no reference analog) → identical (key, value) pairs
  *    of one `mapf` call become one `(key, value, n)` record; the hash map
  *    holds only that call's distinct pairs, next to the file's contents the
  *    `wholetext` row already holds. Lossless: reduce expands `n` copies.
  *  - ihash(key) % R partition (worker.go:30-44) → repartition(R, key) [Murmur3 —
  *    semantically equivalent co-location; bucket assignment is invisible in
  *    merged output, see test-mr.sh:103]
  *  - temp file + rename commit (worker.go:46-70) → intermediate files:
  *    Spark shuffle (attempt-scoped files: fixes the reference's
  *    append-on-retry bug); output files: `runToDir`, where each reduce task
  *    writes `.mr-out-<r>.<attempt>` and atomically renames it onto
  *    `mr-out-<r>`
  *  - per-partition sort + adjacent-key group (worker.go:117-131) →
  *    sortWithinPartitions + mapPartitions run-length scan
  *  - reduce apply (worker.go:131)           → called once per distinct key,
  *    with each value repeated its count times
  *  - "key value" text lines (worker.go:133-134) → formatted output Dataset
  *
  * Fault tolerance (10 s watchdog + re-execution, coordinator.go:87-107) is
  * Spark task retry/speculation — configured, not built.
  */
object MRJob {
  type MapF    = (String, String) => Iterator[(String, String)]

  /** `reducef(key, values)`: `values` is exactly the multiset of values every
    * `mapf` call emitted for `key`, one element per emitted pair, in
    * unspecified order (the reference sorts by key only, with the unstable
    * `sort.Sort`, worker.go:117). */
  type ReduceF = (String, Seq[String]) => String

  /** Counts identical pairs of one `mapf` call: one `(key, value, n)` per
    * distinct pair, so the shuffle carries counts instead of copies. */
  private def countPairs(pairs: Iterator[(String, String)]): Iterator[(String, String, Int)] = {
    val counts = mutable.HashMap.empty[(String, String), Array[Int]]
    pairs.foreach(p => counts.getOrElseUpdate(p, Array(0))(0) += 1)
    counts.iterator.map { case ((k, v), n) => (k, v, n(0)) }
  }

  /** Run a MapReduce job, returning the output lines `"key value"` with
    * their reduce-partition id (pid ≙ the reference's mr-out-<r> file id). */
  def run(spark: SparkSession,
          inputPaths: Seq[String],
          mapf: MapF,
          reducef: ReduceF,
          nReduce: Int): Dataset[(Int, String)] = {
    import spark.implicits._

    // F1: one row per whole file — matches one-file-per-map-task granularity.
    val files: Dataset[(String, String)] = spark.read
      .option("wholetext", "true")
      .text(inputPaths: _*)
      .select(input_file_name().as("filename"), col("value").as("contents"))
      .as[(String, String)]

    // F2: user map + per-call combine. F3/F4/F5: hash shuffle into R buckets.
    val kv = files.flatMap { case (f, c) => countPairs(mapf(f, c)) }
      .toDF("key", "value", "n")
    val bucketed = kv.repartition(nReduce, col("key"))
      .sortWithinPartitions(col("key"))   // F6: per-partition sort by key
      .as[(String, String, Int)]

    // F7/F8/F9: adjacent-key run scan (worker.go:121-131 semantics) + reduce
    // + output line format "key value" (worker.go:134).
    bucketed.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      new Iterator[(Int, String)] {
        private val buf = it.buffered
        def hasNext: Boolean = buf.hasNext
        def next(): (Int, String) = {
          val key = buf.head._1
          val values = mutable.ArrayBuilder.make[String]
          while (buf.hasNext && buf.head._1 == key) {
            val (_, v, n) = buf.next()
            var i = 0
            while (i < n) { values += v; i += 1 }
          }
          (pid, s"$key ${reducef(key, ArraySeq.unsafeWrapArray(values.result()))}")
        }
      }
    }
  }

  /** Run and write R text files `mr-out-<r>` under outDir — the
    * reference's exact sink layout (worker.go:118: one file per reduce
    * partition, named by partition id) and its commit (worker.go:46-70).
    * outDir is a local directory, a plain path or a `file:` URI; any other
    * scheme is an `IllegalArgumentException` before a job starts (write
    * `run`'s Dataset with Spark's writer to reach distributed storage). On a
    * cluster it must be a mount every executor shares.
    *
    * The driver deletes and re-creates outDir. Each reduce task — every
    * partition runs one, so an empty partition writes an empty file, as the
    * reference worker does — writes its lines to the hidden, attempt-scoped
    * `.mr-out-<r>.<taskAttemptId>` and atomically renames it onto
    * `mr-out-<r>`: a retried or speculative attempt replaces the file whole,
    * and a failed attempt deletes its temp file. A JVM killed mid-write can
    * leave a hidden temp file behind, as a crashed reference worker does.
    * Plain java.nio file calls: Hadoop's local file system forks a `chmod`
    * process per file it creates when its native library is absent. */
  def runToDir(spark: SparkSession, inputPaths: Seq[String], mapf: MapF,
               reducef: ReduceF, nReduce: Int, outDir: String): Unit = {
    val uri = new org.apache.hadoop.fs.Path(outDir).toUri
    require(uri.getScheme == null || uri.getScheme == "file",
      s"runToDir writes a local directory (a path or a file: URI), got $outDir")
    val dir = Paths.get(uri.getPath).toAbsolutePath
    if (Files.exists(dir, LinkOption.NOFOLLOW_LINKS)) FileUtils.forceDelete(dir.toFile)
    Files.createDirectories(dir)

    val target = dir.toString // tasks get a String: java.nio Paths do not serialize
    run(spark, inputPaths, mapf, reducef, nReduce)
      .foreachPartition((lines: Iterator[(Int, String)]) => commitPartition(target, lines))
    val missing = (0 until nReduce).filterNot(r => Files.exists(dir.resolve(s"mr-out-$r")))
    if (missing.nonEmpty)
      throw new IllegalStateException(s"runToDir: no mr-out-<r> for r in $missing under $dir")
  }

  /** One reduce task's `runToDir` output: write the attempt's temp file,
    * then rename it atomically onto `mr-out-<r>`. */
  private def commitPartition(dir: String, lines: Iterator[(Int, String)]): Unit = {
    val tc = TaskContext.get()
    val out = Paths.get(dir)
    val tmp = out.resolve(s".mr-out-${tc.partitionId()}.${tc.taskAttemptId()}")
    try {
      val w = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
      try lines.foreach { case (_, line) => w.write(line); w.write('\n') }
      finally w.close()
      Files.move(tmp, out.resolve(s"mr-out-${tc.partitionId()}"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  /** Merged, lexicographically sorted output lines — the comparison form
    * every reference test uses (`sort mr-out* | grep .`, test-mr.sh:103). */
  def mergedOutput(spark: SparkSession, inputPaths: Seq[String], mapf: MapF,
                   reducef: ReduceF, nReduce: Int): Seq[String] =
    run(spark, inputPaths, mapf, reducef, nReduce)
      .collect().map(_._2).sorted.toSeq
}
