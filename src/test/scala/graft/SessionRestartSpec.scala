package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Process-lifetime state must not outlive its SparkContext: a JVM that
  * stops its session and builds a fresh one must get the same rows from
  * the queries whose state the registry holds — a write-once catalog
  * table (q161), a write-once file layout (q205), and a durable spill
  * plus boot reload (q247). Runs in a forked child JVM
  * ([[SessionRestartChildMain]]) so the restart cannot disturb the
  * shared test session. */
class SessionRestartSpec extends AnyFunSuite {

  // the Spark 4 / JDK 17 module opens the build's javaOptions give the
  // test JVM; a plain `java` child needs them spelled out
  private val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
    "java.io", "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))

  test("a fresh session after a stopped one reruns q161, q205 and q247 " +
      "with the same rows") {
    val tmp = Files.createTempDirectory("graft-restart-")
    try {
      val java = Paths.get(sys.props("java.home"), "bin", "java").toString
      // heap capped: the child shares the box with the 8 GiB test JVM
      val child = new ProcessBuilder((Seq(java, "-Xmx1g",
          s"-Djava.io.tmpdir=$tmp", "-Dspark.ui.enabled=false",
          "-cp", sys.props("java.class.path")) ++ opens ++
          Seq("graft.SessionRestartChildMain", SparkTest.sf0001)): _*)
        .directory(tmp.toFile)
        .redirectErrorStream(true).start()
      val out = new String(child.getInputStream.readAllBytes())
      assert(child.waitFor(300, TimeUnit.SECONDS), "child wedged")
      assert(child.exitValue() == 0, s"child failed:\n$out")
      assert(out.contains("RESTART OK"), out)
    } finally deleteTree(tmp)
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f): Unit)
    finally s.close()
  }
}

/** Child JVM of [[SessionRestartSpec]]: runs the queries on one
  * `local[2]` session, stops it, runs them again on a fresh session, and
  * exits non-zero unless both runs give the same rows. */
object SessionRestartChildMain {
  private val names =
    Seq("q161_bucket_join", "q205_schema_evolution", "q247_durable_cf_restart")

  private def run(dir: String): Seq[Seq[String]] = {
    val spark = Session.local("2", "2")
    try names.map(n =>
      SparkEntry.queries(n)(spark, dir).collect().map(_.toString).toSeq.sorted)
    finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  def main(args: Array[String]): Unit = {
    val first = run(args(0))
    val second = run(args(0))
    names.zip(first.zip(second)).foreach { case (n, (a, b)) =>
      if (a.isEmpty || a != b) {
        System.err.println(s"$n: first run ${a.size} rows, after restart " +
          s"${b.size} rows, equal=${a == b}")
        sys.exit(1)
      }
    }
    println("RESTART OK")
  }
}
