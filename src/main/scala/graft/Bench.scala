package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  *
  * Protocol (BASELINE.md): warm session, one untimed warmup PASS over all
  * queries, then 3 timed PASSES — each pass runs every query once, so the
  * three samples of any query are separated in time (round-robin, not
  * 3-in-a-row). Ambient load on a shared box (a measured failure mode: the same
  * queries measured 0.7s in clean runs and 8.5s in driver-snapshot runs
  * with zero code change) then contaminates at most one sample per query
  * instead of all three, and min-of-runs recovers the true cost. `queries`
  * reports min (robust to external load — a query cannot run faster than
  * its real cost); `queries_median` keeps the older center statistic for
  * continuity. Queries are materialized through the noop sink so every
  * column is computed (a count() would let Catalyst prune the work).
  *
  * Exclusions from the headline set (quadratic verifiers q28/q43 and the
  * declared scale-unsafe oracle-parity forms q51/q57, whose benched scale
  * twins are q83/q61) are documented at the `excluded` set below; all
  * four stay correctness-gated at sf0.01 via Verify.
  */
object Bench {
  /** BASELINE.md protocol heap (MiB). Official numbers are only comparable
    * when measured at this driver size: the round-8 snapshot ran at 91 GiB
    * (a launcher default, not a choice) and inflated every query a uniform
    * ~1.145× vs the config-matched run two hours earlier. */
  private val PinnedDriverMemMb = 8192

  /** The stdout contract line's prefix — the child's last stdout line the
    * driver parses, and the signal [[reexecPinned]] watches for to decide
    * whether a nonzero child rc is a REAL failing-query exit (propagate)
    * or a harness crash (fall back to measuring inline). */
  private val ContractPrefix = "{\"metric\":\"total\""

  /** The add-opens set Spark 4.x needs on JDK 17 (matches build.sbt /
    * JavaModuleOptions.defaultModuleOptions) — shared with the harness
    * self-test so the test forks EXACTLY the JVM shape the re-exec does. */
  private[graft] val Jdk17AddOpens: Seq[String] =
    Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
      "java.io", "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))

  /** If the JVM we were launched in has an unpinned heap (launcher default),
    * re-exec ourselves under `java -Xmx8g` with the same env and args — so
    * the official snapshot can never again be measured at a drifted config
    * regardless of how the driver invokes us. The child classpath is
    * `sys.props("java.class.path")` — the THIS-JVM truth, correct under
    * sbt's forked runner (where every jar sits in its own bg-jobs hashed
    * directory and any single-dir wildcard glob misses scala-library — the
    * BENCH_r09 `NoClassDefFoundError` crash), spark-submit, and bare
    * `java` alike.
    *
    * Returns Some(rc) when the child ran far enough to print the stdout
    * contract line (caller exits with its rc — a nonzero rc WITH the line
    * is a genuine failing-query signal and must propagate); None → measure
    * inline (the config-drift annotation marks the record `config_ok:
    * false`). A harness crash can therefore never again yield a round with
    * ZERO bench data: the fallback path always produces a measured,
    * annotated record. */
  private def reexecPinned(args: Array[String]): Option[Int] = {
    val memMb = Runtime.getRuntime.maxMemory() / (1024L * 1024L)
    val drifted = memMb > PinnedDriverMemMb * 3 / 2 || memMb < PinnedDriverMemMb / 2
    if (!drifted || sys.env.contains("SPARK_GRAFT_BENCH_REEXEC")
        || sys.env.contains("SPARK_GRAFT_NO_REEXEC")) return None
    try {
      val javaBin = new java.io.File(
        new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
      val cmd = (Seq(javaBin) ++ Jdk17AddOpens ++ Seq(
        s"-Xmx${PinnedDriverMemMb}m",
        "-cp", sys.props("java.class.path"), "graft.Bench") ++ args)
      System.err.println(s"[bench] heap ${memMb}m != pinned ${PinnedDriverMemMb}m" +
        " — re-execing under the BASELINE.md protocol config")
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_BENCH_REEXEC", "1")
      val proc = pb.start()
      // pump both child streams through ours, watching stdout for the
      // contract line (inheritIO would forward but not let us observe)
      @volatile var sawContract = false
      def pump(in: java.io.InputStream, out: java.io.PrintStream,
               watch: Boolean): Thread = {
        val t = new Thread(() => {
          val br = new java.io.BufferedReader(
            new java.io.InputStreamReader(in))
          var line = br.readLine()
          while (line != null) {
            if (watch && line.startsWith(ContractPrefix)) sawContract = true
            out.println(line)
            line = br.readLine()
          }
        })
        t.setDaemon(true); t.start(); t
      }
      val to = pump(proc.getInputStream, System.out, watch = true)
      val te = pump(proc.getErrorStream, System.err, watch = false)
      val rc = proc.waitFor()
      to.join(10000); te.join(10000)
      if (rc == 0 || sawContract) Some(rc)
      else {
        System.err.println(s"[bench] child died rc=$rc WITHOUT printing the " +
          "contract line (harness crash, not a failing query) — measuring " +
          "inline, config_ok=false")
        None
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] re-exec failed ($e) — measuring inline, config_ok=false")
      None
    }
  }

  def main(args: Array[String]): Unit = {
    // NB: must be an explicit lambda — `.foreach(sys.exit)` resolves to the
    // ZERO-arg exit(): Nothing overload (Nothing <: Int => U) and exits 0
    // unconditionally before foreach ever runs.
    reexecPinned(args).foreach(rc => sys.exit(rc))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.bench()

    // Excluded from the HEADLINE set (all stay correctness-gated at sf0.01
    // via Verify):
    //  - q28/q43 and their lossless prefix-filtered twins q169/q170: the
    //    pair-LISTING jaccard task is output-bound on this fixture — its
    //    planted duplicate clusters are enormous, so qualifying pairs are
    //    Θ(Σ cluster²) (measured: 12.2M prefix candidates at sf0.1 at
    //    τ=0.8, and still 9.7M at τ=0.95 — the clusters share even their
    //    RAREST tokens, so no threshold rescues a pair list). No
    //    algorithm that emits the pairs avoids this; production dedup
    //    collapses clusters instead, and that path (q29/q47/q66 minhash →
    //    components → keeper) IS benched. q169/q170's pruning evidence is
    //    spec-carried (prefix index < half the postings; output equal to
    //    the quadratic verifiers bit-for-bit), both oracle-gated at
    //    sf0.01 via Verify — and the EXCLUSION's own measurements
    //    (candidates ≫ corpus, τ-insensitive) regenerate per round in
    //    DedupSpec's bench-exclusion-evidence test at sf0.01.
    //  - q51/q57: oracle-parity forms whose plans are DECLARED scale-unsafe
    //    (per-group ordered collect_list; partition-less global window) and
    //    exist to anchor correctness. Their exact scale twins q83/q61 are
    //    benched and spec-proven equal — benching the killer forms would
    //    only measure a shape the library tells you not to run at scale.
    val excluded = Set("q28_dedup_jaccard", "q43_dedup_chargram",
      "q169_prefix_jaccard", "q170_prefix_chargram",
      "q51_percentiles", "q57_distribution")
    // Harness-test hook: restrict the benched set to a named subset so the
    // end-to-end re-exec self-test (BenchHarnessSpec) can exercise the full
    // drifted-heap → pinned-child → contract-line path in seconds instead
    // of a full 170-query run. A subset run is annotated `"subset":true`
    // in-band so it can never masquerade as an official record.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => excluded(q._1))
      .filter(q => only.forall(_.contains(q._1)))

    def timeOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      // storage contract: queries returning a direct checkpoint (detected
      // by storage level in Bridge.freeIfDirectCheckpoint, not by name —
      // the q66/q80/q87 pack/manifest/cluster family) are freed once
      // consumed — 4 runs each per bench must not accumulate pinned RDDs
      org.apache.spark.sql.graftbridge.Bridge.freeIfDirectCheckpoint(df)
      t
    }

    // JIT/session warmup on an untimed flagship run
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // A swallowed Throwable leaves no trace of WHY a query went -1.0 (the
    // round-7 q37/q102 postmortem had nothing to work from) — log the first
    // failure per query, with its class and the top of its stack.
    val reported = scala.collection.mutable.Set.empty[String]
    def logFailure(name: String, e: Throwable): Unit =
      if (reported.add(name)) {
        System.err.println(s"[bench] $name THREW ${e.getClass.getName}: ${e.getMessage}")
        e.getStackTrace.take(8).foreach(f => System.err.println(s"[bench]   at $f"))
      }

    // Untimed warmup pass, then 3 timed passes interleaved across queries.
    queries.foreach { case (name, fn) =>
      try timeOne(fn) catch { case e: Throwable => logFailure(name, e) }
    }
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    for (pass <- 1 to 3; (name, fn) <- queries) {
      val t = try timeOne(fn)
        catch { case e: Throwable => logFailure(name, e); -1.0 }
      samples(name) = samples.getOrElse(name, Vector.empty) :+ t
      System.err.println(f"[bench] pass $pass $name%-28s ${t}%.2fs")
    }
    val results = queries.map { case (name, _) =>
      val ok = samples(name).filter(_ >= 0)
      val (mn, md) =
        if (ok.isEmpty) (-1.0, -1.0)
        else (ok.min, ok.sorted.apply(ok.size / 2))
      System.err.println(f"[bench] $name%-28s min=$mn%.2fs median=$md%.2fs")
      (name, mn, md)
    }
    // 3-decimal seconds: sub-ms noise is meaningless at this scale AND the
    // full-precision line was long enough to overflow the driver's output
    // tail buffer (BENCH_r03 "parsed":null) — the compact line must survive.
    def s3(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, mn, _) => "\"" + k + "\":" + s3(mn) }.mkString("{", ",", "}")
    val qsMed = results.map { case (k, _, md) => "\"" + k + "\":" + s3(md) }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // BASELINE.md protocol: record shuffle partitions, AQE, driver memory
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val mem = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    // BASELINE.md protocol assertion: the official record must be measured
    // at the pinned config (8 GiB driver, P=cores shuffle, AQE on). A drift
    // that survived re-exec (or an intentional sweep override) is annotated
    // in-band so a snapshot can never silently masquerade as protocol.
    val configOk = mem <= PinnedDriverMemMb * 3 / 2 && mem >= PinnedDriverMemMb / 2 &&
      aqe == "true"
    if (!configOk)
      System.err.println(s"[bench] CONFIG DRIFT vs BASELINE.md protocol: " +
        s"driver_mem_mb=$mem (pinned $PinnedDriverMemMb), aqe=$aqe — " +
        "this run is NOT comparable to the round record history")
    // the commit each measurement ran at — bench_diff's same-day ambient
    // re-check must only accept precedents from IDENTICAL code (read from
    // .git directly: no subprocess, works under sbt and bare java)
    val commit = gitHead()
    val subset = if (only.isDefined) ""","subset":true""" else ""
    val config = s"""{"shuffle_partitions":$shufflePartitions,"aqe":$aqe,"driver_mem_mb":$mem,"runs_per_query":3,"stat":"min-of-3-interleaved","config_ok":$configOk$subset}"""
    val full = s"""{"metric":"total","value":${s3(total)},"unit":"sec","queries":$qs,"queries_median":$qsMed,"sf":"$sfDir","commit":"$commit","config":$config,"ts":${System.currentTimeMillis()}}"""
    // Robust machine-readable channel: the stdout line gets [info]-prefixed
    // under sbt and has been lost to parsers before. Always ALSO write the
    // latest result and append to history.jsonl (same dir, so a Bench run
    // from any cwd keeps both together) so round-over-round per-query
    // diffing (scripts/bench_diff.py) can flag regressions a total hides.
    try {
      val histDir = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "bench_history"))
      histDir.mkdirs()
      val latest = new java.io.PrintWriter(new java.io.File(histDir, "BENCH_LOCAL.json"))
      try latest.println(full) finally latest.close()
      val hist = new java.io.FileWriter(new java.io.File(histDir, "history.jsonl"), true)
      try hist.write(full + "\n") finally hist.close()
    } catch { case e: Throwable => System.err.println(s"[bench] history write failed: $e") }
    // stdout carries a SHORT summary line and it is the LAST thing printed:
    // the driver captures only the stdout TAIL, and BENCH_r05–r08 all came
    // back "parsed":null because even the short-id 154-query map (~2.2 KB)
    // overflowed the window FROM THE FRONT. The contract line therefore
    // carries total + commit + config + the top-cost queries only (bounded
    // at 25 entries ≈ 400 B); the complete per-query map lives in
    // bench_history/BENCH_LOCAL.json + history.jsonl, written above from
    // the SAME run — so the snapshot's config fields always equal the
    // history entry they summarize.
    spark.stop()
    val qsTop = results.filter(_._2 >= 0).sortBy(-_._2).take(25)
      .map { case (k, mn, _) => "\"" + k.takeWhile(_ != '_') + "\":" + s3(mn) }
      .mkString("{", ",", "}")
    val nFail = results.count(_._2 < 0)
    println(s"""{"metric":"total","value":${s3(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_failing":$nFail,"commit":"$commit","config":$config,"queries":$qsTop,"detail":"bench_history/BENCH_LOCAL.json"}""")
    System.out.flush()
    // a -1.0 sentinel means a query FAILED all three passes — surface it in
    // the process rc so the driver cannot record a green bench over a
    // broken query (ADVICE r7: q37/q102 failed with rc=0)
    if (results.exists(_._2 < 0)) {
      System.err.println("[bench] FAILING: " +
        results.filter(_._2 < 0).map(_._1).mkString(", "))
      sys.exit(3)
    }
  }

  /** Current git HEAD (short), read straight from `.git` — follows one
    * level of `ref:` indirection and falls back to packed-refs. */
  private def gitHead(): String = try {
    import java.nio.file.{Files, Paths}
    val head = Files.readString(Paths.get(".git/HEAD")).trim
    val sha =
      if (head.startsWith("ref: ")) {
        val ref = head.stripPrefix("ref: ")
        val refFile = Paths.get(".git").resolve(ref)
        if (Files.exists(refFile)) Files.readString(refFile).trim
        else {
          val packed = Paths.get(".git/packed-refs")
          if (!Files.exists(packed)) "unknown"
          else Files.readAllLines(packed).stream()
            .filter(l => l.endsWith(" " + ref)).findFirst()
            .map[String](_.split(" ")(0)).orElse("unknown")
        }
      } else head
    sha.take(12)
  } catch { case _: Throwable => "unknown"
  }
}
