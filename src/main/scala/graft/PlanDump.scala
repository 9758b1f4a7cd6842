package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.graftbridge.Bridge

/** Dump the executed plans of named queries, or of every query:
  * `PlanDump <sfDir> <outDir> [name ...]` runs each query once at the
  * bench config ([[Session.bench]]) and writes `<outDir>/<name>.txt`: a
  * `jobs: N, actions: M` header line, then the AQE-final plan of every
  * action the query ran — its eager checkpoints as well as the final
  * write — in execution order. N counts every Spark job the query
  * started: AQE stage jobs, and jobs no action's plan shows
  * (range-partition sampling, schema inference). Unknown names and
  * queries that throw are reported on stderr and make the exit code
  * nonzero. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.bench()
    Files.createDirectories(Paths.get(outDir))
    var ok = true
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None =>
          ok = false
          System.err.println(s"[plandump] $name: no such query")
        case Some(fn) =>
          try {
            val run = PlanCapture.during(spark) {
              val df = fn(spark, sfDir)
              df.write.format("noop").mode("overwrite").save()
              Bridge.freeIfDirectCheckpoint(df)
            }
            val plans = run.plans
            val text = s"jobs: ${run.jobs}, actions: ${plans.size}\n" +
              plans.zipWithIndex.map { case (p, i) =>
                s"== ${i + 1}/${plans.size}: ${p.action} ==\n${p.executedPlan}"
              }.mkString("\n")
            Files.writeString(Paths.get(outDir, s"$name.txt"), text)
          } catch { case e: Exception =>
            ok = false
            System.err.println(
              s"[plandump] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          }
      }
    }
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
