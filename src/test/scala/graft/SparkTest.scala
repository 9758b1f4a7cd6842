package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked JVM, built once) —
  * SELF-HEALING (r14): if an environmental event stops the shared
  * context mid-run (the round-13 driver `sbt test` lost it and every
  * suite scheduled afterwards died on `assertNotStopped`, turning one
  * death into ~dozens of unrelated failures), the next accessor gets a
  * FRESH session with a loud diagnostic instead of the corpse. Suites
  * capture the session lazily at their first test, so a rebuild bounds
  * the damage to suites already mid-flight when the context died.
  * Registry state needs nothing here: `StandingState.of` keys every
  * entry on its session's applicationId, so a rebuilt session rebuilds
  * its pins and write-once tables rather than touching dead ones
  * (SessionRestartSpec runs that restart in a child JVM). */
object SparkTest {
  // local[4,2]: 4 threads, maxFailures=2 — lets the chaos spec exercise
  // task retry (the reference's crash-test semantics, test-mr.sh:283-330)
  private def build(): SparkSession =
    Session.local("4,2", "4", "spark.app.name" -> "graft-test")

  @volatile private var current: SparkSession = _

  def spark: SparkSession = synchronized {
    if (current == null) current = build()
    else if (current.sparkContext.isStopped) {
      System.err.println(
        "[SparkTest] *** shared SparkContext found STOPPED — something " +
          "fatal (OOM / environment) killed it; rebuilding a fresh one. " +
          "Failures in the suite that was running at the stop are the " +
          "real signal; later suites run on the new context. ***")
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      current = build()
    }
    current
  }

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
