package graft.mr

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** Chaos analog of the reference's crash test
  * (/root/reference/src/mrapps/crash.go + test-mr.sh:283-330): a map task
  * fails on its first attempt; Spark re-executes it; the job must succeed
  * and the output must be identical to the no-crash run — i.e. duplicate
  * *execution* happens (crash.go's whole point, verified like jobcount's
  * marker files via an attempt counter) but never duplicate *output*
  * (attempt-scoped shuffle files + commit protocol, fixing the reference's
  * F4 append bug, worker.go:52). crash.go crashes in Reduce as well as in
  * Map, so a reduce task fails on its first attempt too, also midway
  * through writing its `runToDir` file.
  */
object ChaosSpec {
  val mapInvocations = new AtomicInteger(0)
  val retriedReduces = new AtomicInteger(0)
  val firstAttemptCalls = new AtomicInteger(0)
  val tempSeenBeforeCrash = new AtomicInteger(0)
}

class ChaosSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  test("task retry: crash on first attempt, output equals no-crash golden") {
    val dir = Files.createTempDirectory("mr-chaos")
    Files.writeString(dir.resolve("a.txt"), "x y z x y x")
    Files.writeString(dir.resolve("b.txt"), "y z q z z")

    val golden = MRJob.mergedOutput(spark, Seq(dir.toString + "/*.txt"),
      Apps.WordCount.map, Apps.WordCount.reduce, nReduce = 3)

    ChaosSpec.mapInvocations.set(0)
    val crashingMap: MRJob.MapF = (f, c) => {
      ChaosSpec.mapInvocations.incrementAndGet()
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() == 0)
        throw new RuntimeException("injected crash (first attempt)")
      Apps.WordCount.map(f, c)
    }
    val got = MRJob.mergedOutput(spark, Seq(dir.toString + "/*.txt"),
      crashingMap, Apps.WordCount.reduce, nReduce = 3)

    assert(got == golden, "output after crash-retry differs from golden")
    // duplicate execution DID happen (like jobcount's marker-file count)
    assert(ChaosSpec.mapInvocations.get() > 2,
      s"expected a retried attempt, saw ${ChaosSpec.mapInvocations.get()} invocations")
  }

  test("reduce task retry: crash on first attempt of partition 0, output equals golden") {
    val dir = Files.createTempDirectory("mr-chaos-reduce")
    Files.writeString(dir.resolve("a.txt"), "x y z x y x w v")
    Files.writeString(dir.resolve("b.txt"), "y z q z z u t s")
    val glob = Seq(dir.toString + "/*.txt")

    val golden = MRJob.mergedOutput(spark, glob,
      Apps.WordCount.map, Apps.WordCount.reduce, nReduce = 3)

    ChaosSpec.retriedReduces.set(0)
    val crashingReduce: MRJob.ReduceF = (k, vs) => {
      val tc = TaskContext.get()
      if (tc.partitionId() == 0) {
        if (tc.attemptNumber() == 0)
          throw new RuntimeException("injected reduce crash (first attempt)")
        ChaosSpec.retriedReduces.incrementAndGet()
      }
      Apps.WordCount.reduce(k, vs)
    }
    val got = MRJob.mergedOutput(spark, glob,
      Apps.WordCount.map, crashingReduce, nReduce = 3)

    assert(got == golden, "output after reduce crash-retry differs from golden")
    assert(ChaosSpec.retriedReduces.get() > 0,
      "expected a retried attempt of reduce partition 0 to call reducef")
  }

  test("runToDir reduce retry after a partial write: golden output, no temp file left") {
    val dir = Files.createTempDirectory("mr-chaos-todir")
    Files.writeString(dir.resolve("a.txt"), "x y z x y x w v r p o n m")
    Files.writeString(dir.resolve("b.txt"), "y z q z z u t s k j i h")
    val glob = Seq(dir.toString + "/*.txt")
    val nReduce = 2
    val out = Files.createTempDirectory("mr-chaos-todir-out").resolve("wc")
    val outDir = out.toString // the reduce closure ships a String, not a Path

    val golden = MRJob.mergedOutput(spark, glob,
      Apps.WordCount.map, Apps.WordCount.reduce, nReduce)

    ChaosSpec.retriedReduces.set(0)
    ChaosSpec.firstAttemptCalls.set(0)
    ChaosSpec.tempSeenBeforeCrash.set(0)
    // attempt 0 of partition 0 crashes on its second key, after its first
    // line went to the attempt's temp file
    val crashingReduce: MRJob.ReduceF = (k, vs) => {
      val tc = TaskContext.get()
      if (tc.partitionId() == 0) {
        if (tc.attemptNumber() > 0) ChaosSpec.retriedReduces.incrementAndGet()
        else if (ChaosSpec.firstAttemptCalls.incrementAndGet() == 2) {
          if (Files.exists(Paths.get(outDir, s".mr-out-0.${tc.taskAttemptId()}")))
            ChaosSpec.tempSeenBeforeCrash.incrementAndGet()
          throw new RuntimeException("injected reduce crash after a partial write")
        }
      }
      Apps.WordCount.reduce(k, vs)
    }
    MRJob.runToDir(spark, glob, Apps.WordCount.map, crashingReduce, nReduce, outDir)

    val names = out.toFile.listFiles().map(_.getName).sorted.toSeq
    assert(names == (0 until nReduce).map(r => s"mr-out-$r"),
      s"outDir after a failed attempt: $names")
    val got = names.flatMap(n => Files.readAllLines(out.resolve(n)).asScala).sorted
    assert(got == golden, "runToDir output after reduce crash-retry differs from golden")
    assert(ChaosSpec.tempSeenBeforeCrash.get() == 1,
      "attempt 0 of partition 0 did not crash after writing to its temp file")
    assert(ChaosSpec.retriedReduces.get() > 0,
      "expected a retried attempt of reduce partition 0 to call reducef")
  }
}
