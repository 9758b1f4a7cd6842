package graft

import org.apache.spark.sql.SparkSession

/** The one session factory. Verify, Bench, PlanDump and the test suite
  * all build their local session here, so the config a plan is checked
  * under cannot drift from the config it is timed under. */
object Session {
  /** `local[master]` with `partitions` shuffle partitions, UTC session
    * time, AQE on, no UI and WARN logging (two by-design WARN sources at
    * ERROR, [[QuietLoggers]]); `conf` adds entries on top. */
  def local(master: String, partitions: String,
            conf: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$master]")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    QuietLoggers.foreach(org.apache.logging.log4j.core.config.Configurator
      .setLevel(_, org.apache.logging.log4j.Level.ERROR))
    spark
  }

  /** Loggers whose WARNs fire by design and would bury real ones: every
    * freed pin ([[graft.core.Pins]]) makes its locally checkpointed RDD —
    * a MapPartitionsRDD — warn that it "cannot be recomputed after
    * unpersisting", hundreds of times per run; and every window with no
    * PARTITION BY warns "No Partition Defined for Window operation!"
    * when planned (logged by WindowExecBase under the concrete class;
    * QueriesSpec's hygiene test checks each such window structurally). */
  private val QuietLoggers = Seq("org.apache.spark.rdd.MapPartitionsRDD",
    "org.apache.spark.sql.execution.window.WindowExec")

  /** The benchmark config: `local[SPARK_GRAFT_CPUS]` (default 32) with
    * P = `SPARK_GRAFT_SHUFFLE_PARTITIONS` (default: the core count). The
    * independent P override lets a partition-count sweep prove no
    * residual P assumptions without also changing executor parallelism. */
  def bench(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    local(cpus, sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
  }
}
