package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`scripts/check_oracle.py`).
  *
  * `Verify <sfDir> <outDir> [name ...]`: with trailing query names, only
  * those queries are dumped and oracle_sql.json lists only them, so
  * `scripts/check_oracle.py` runs the compare on just the queries under
  * development. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val wanted = args.drop(2).toSet
    def selected(name: String): Boolean = wanted.isEmpty || wanted(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Plain int64 micros in result parquet (not INT96) so DuckDB's read
    // of timestamp columns is loss-free and type-stable.
    val spark = Session.local(cpus, cpus,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    wanted.diff(SparkEntry.queries.keySet).foreach { w =>
      failed += w
      System.err.println(s"[verify] $w: no such query")
    }
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // consume-then-free contract for direct-checkpoint results
        org.apache.spark.sql.graftbridge.Bridge.freeIfDirectCheckpoint(df)
      } catch { case e: Throwable =>
        failed += name
        // class + stack, not just getMessage (null for NPE and friends) —
        // the round-7 q37/q102 -1.0s left no diagnosable trace
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        e.getStackTrace.take(8).foreach(f => System.err.println(s"[verify]   at $f"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // a query that THREW has no result dump — without a nonzero rc the
    // round's correctness artifact would silently omit it (the round-7
    // q37/q102 failure mode: the bench showed -1.0 but rc stayed 0).
    // All surviving dumps + oracle_sql.json are already on disk, so the
    // driver's per-query compare still runs on everything that worked.
    if (failed.nonEmpty) {
      System.err.println(s"[verify] FAILING: ${failed.mkString(", ")}")
      sys.exit(2)
    }
  }
}
