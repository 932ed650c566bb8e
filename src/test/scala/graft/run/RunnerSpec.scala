package graft.run

import graft.SparkSuite
import graft.model.{ColType, TableSpec}

class RunnerSpec extends SparkSuite {

  test("RunParams quirk #91: full_sync + or_ids demotes to merge-everything") {
    val p = Runner.RunParams(fullSync = true, orIds = Seq("OR-x"))
    assert(!p.effectiveFullSync)
    assert(p.effectiveSince.contains("0001-01-01T00:00:00"))
    assert(Runner.RunParams(fullSync = true).effectiveFullSync)
    assert(Runner.RunParams(since = Some("2024-01-01")).effectiveSince
      .contains("2024-01-01"))
  }

  test("static seed tables union into staged batches") {
    val s = spark
    import s.implicits._
    val staged = Map("t.a" -> Seq(("1", "g")).toDF("id", "v"))
    val static = Map(
      "t.a" -> Seq(("2", "s")).toDF("id", "v"),
      "t.b" -> Seq(("3", "s")).toDF("id", "v"))
    val out = Runner.withStaticSources(staged, static)
    assert(out("t.a").count() == 2)
    assert(out("t.b").count() == 1)
  }

  test("org-rename detection compares dim label vs stored document name") {
    val s = spark
    import s.implicits._
    val dim = Seq(
      ("OR-A", "New Name"), ("OR-B", "Same Name")).toDF("org_identifier", "skos_pref_label")
    val docs = Seq(
      ("or-a", """{"schema_maintainer":{"schema_name":"Old Name"}}"""),
      ("or-b", """{"schema_maintainer":{"schema_name":"Same Name"}}"""))
      .toDF("index", "document")
    assert(Runner.renamedOrgs(dim, docs) == Seq("or-a"))
  }

  test("stats listener keeps one record per completed stage") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stages").toString
    spark.range(0, 1000).selectExpr("id % 7 AS k", "id AS v")
      .write.mode("overwrite").parquet(dir)
    val input = spark.read.parquet(dir) // schema read before the listener
    val listener = new StatsListener()
    spark.sparkContext.addSparkListener(listener)
    try {
      // one shuffle: a file-scan map stage, then a shuffle-read stage
      assert(input.groupBy("k").count().collect().length == 7)
      val deadline = System.currentTimeMillis() + 10000
      while (listener.stages.count(_.recordsRead > 0) < 2 &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val read = listener.stages.filter(_.recordsRead > 0)
      assert(read.size >= 2, s"stages: ${listener.stages}")
      assert(read.exists(_.shuffleWriteBytes > 0) &&
        read.exists(_.shuffleReadBytes > 0), s"stages: $read")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
