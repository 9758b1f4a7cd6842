package graft.mr

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

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
  *  - intermediate files + rename commit (worker.go:46-70) → Spark shuffle
  *    (attempt-scoped files: fixes the reference's append-on-retry bug)
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
      val pid = org.apache.spark.TaskContext.getPartitionId()
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
    * partition, named by partition id). The job writes through the normal
    * committed text sink (attempt-scoped temp files + rename on commit,
    * so task retry can't produce torn output), then a driver-side rename
    * pass maps each committed `part-<r>-*` file to `mr-out-<r>`: the text
    * writer emits at most one file per partition and numbers it with the
    * partition index, so the mapping is total. Reduce partitions that
    * produced no keys get an empty `mr-out-<r>` — the reference worker
    * creates every output file unconditionally too. */
  def runToDir(spark: SparkSession, inputPaths: Seq[String], mapf: MapF,
               reducef: ReduceF, nReduce: Int, outDir: String): Unit = {
    import spark.implicits._
    run(spark, inputPaths, mapf, reducef, nReduce)
      .map(_._2)
      .write.mode("overwrite").text(outDir)

    val out = new org.apache.hadoop.fs.Path(outDir)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = "part-(\\d+)-.*".r
    fs.listStatus(out).foreach { st =>
      st.getPath.getName match {
        case part(idx) =>
          val dest = new org.apache.hadoop.fs.Path(out, s"mr-out-${idx.toInt}")
          fs.delete(dest, false)
          fs.rename(st.getPath, dest)
        case _ => ()
      }
    }
    (0 until nReduce).foreach { r =>
      val f = new org.apache.hadoop.fs.Path(out, s"mr-out-$r")
      if (!fs.exists(f)) fs.create(f).close()
    }
  }

  /** Merged, lexicographically sorted output lines — the comparison form
    * every reference test uses (`sort mr-out* | grep .`, test-mr.sh:103). */
  def mergedOutput(spark: SparkSession, inputPaths: Seq[String], mapf: MapF,
                   reducef: ReduceF, nReduce: Int): Seq[String] =
    run(spark, inputPaths, mapf, reducef, nReduce)
      .collect().map(_._2).sorted.toSeq
}
