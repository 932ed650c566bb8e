package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins every env knob and `spark.graft.*` config key the engine reads.
  * A knob that only picks between two arms of a decided A/B keeps the
  * losing arm alive; a new one fails here until it is added below with
  * the reason it must stay. */
class KnobInventorySpec extends AnyFunSuite {

  /** Knob -> why it exists (harness, deployment or platform). */
  private val pinned: Map[String, String] = Map(
    "SPARK_GRAFT_SF_DIR" -> "harness: testdata directory Bench and Inspect run on",
    "SPARK_GRAFT_CPUS" -> "harness: local[N] core count of the LocalSession (Bench, Verify, ScaleUp, Inspect)",
    "SPARK_GRAFT_BENCH_ITERS" -> "harness: timed iterations per Bench query",
    "SPARK_GRAFT_BENCH_ONLY" -> "harness: Bench query subset",
    "SPARK_GRAFT_BENCH_REVERSE" -> "harness: reverse Bench query order",
    "SPARK_GRAFT_BENCH_OUT" -> "harness: Bench summary output path",
    "SPARK_GRAFT_BENCH_QUERIES_OUT" -> "harness: Bench per-query output path",
    "SPARK_GRAFT_BENCH_DEBUG" -> "harness: Bench per-query debug trace",
    "GRAFT_LOAD_GATE" -> "harness: ambient load1 threshold before timing",
    "GRAFT_LOAD_GATE_MAX_WAIT" -> "harness: bound on the load-gate wait",
    "SPARK_GRAFT_NO_SHM" -> "deployment: keep Spark local dirs off /dev/shm",
    "GRAFT_STATE_STORE" -> "platform: HDFS state store where rocksdbjni is missing")

  private val stringLiteral = "\"(?:[^\"\\\\\n]|\\\\.)*\"".r
  private val knob = "(?:SPARK_)?GRAFT_[A-Z_]+|spark\\.graft\\.[A-Za-z0-9_.]*".r

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("every knob read in src/main/scala is pinned with a reason") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val found = scalaFiles(root).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      stringLiteral.findAllIn(src).flatMap(knob.findAllIn(_)).map(_ -> f.getName)
    }
    val names = found.map(_._1).toSet
    val unpinned = found.filterNot(k => pinned.contains(k._1))
    assert(unpinned.isEmpty,
      s"knobs without a pinned reason (add them with one, or delete the arm): $unpinned")
    val stale = pinned.keySet -- names
    assert(stale.isEmpty, s"pinned knobs no longer read anywhere: $stale")
  }
}
