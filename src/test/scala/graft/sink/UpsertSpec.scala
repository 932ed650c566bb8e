package graft.sink

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkSuite
import graft.model.{ColType, Tables, TableSpec}

/** Merge-strategy properties (SURVEY.md §5 #3: upsert idempotence,
  * incremental ≡ full on the union). */
class UpsertSpec extends SparkSuite {

  private def df(rows: Seq[(String, String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "intellectual_entity_id", "v")
  }

  private def rows(d: DataFrame): Set[(String, String, String)] =
    d.select("id", "intellectual_entity_id", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  private val target = df(Seq(
    ("r1", "ie1", "old-a"), ("r2", "ie1", "old-b"), ("r3", "ie2", "keep")))
  private val staged = df(Seq(("r9", "ie1", "new-a")))

  /** A child table merged on its entity key, and a PK table on `id`. */
  private val childSpec = TableSpec("t.child", Seq("v" -> ColType.Str),
    pk = Nil, entityKey = Some("intellectual_entity_id"))
  private val pkSpec = TableSpec("t.pk", Seq("v" -> ColType.Str))

  private def merge(t: DataFrame, s: DataFrame, spec: TableSpec) =
    Upsert.merge(t, s, spec, fullSync = false)

  test("merge on an entity key replaces ALL child rows of touched entities") {
    val out = rows(merge(target, staged, childSpec))
    // both ie1 rows must go, even though only one staged row arrived
    assert(out == Set(("r3", "ie2", "keep"), ("r9", "ie1", "new-a")))
  }

  test("merge on a PK: staged wins on PK, others survive") {
    val st = df(Seq(("r1", "ie1", "updated"), ("r4", "ie3", "inserted")))
    val out = rows(merge(target, st, pkSpec))
    assert(out == Set(
      ("r1", "ie1", "updated"), ("r2", "ie1", "old-b"),
      ("r3", "ie2", "keep"), ("r4", "ie3", "inserted")))
  }

  test("merge with neither an entity key nor a PK throws instead of " +
    "dropping every target row") {
    val keyless = TableSpec("t.keyless", Seq("v" -> ColType.Str), pk = Nil)
    val e = intercept[IllegalArgumentException] { merge(target, staged, keyless) }
    assert(e.getMessage.contains("t.keyless"), e.getMessage)
    // a full sync needs no key: the staged batch replaces the target
    assert(rows(Upsert.merge(target, staged, keyless, fullSync = true)) ==
      rows(staged))
  }

  test("a NULL merge key fails LOUDLY instead of duplicating forever") {
    // A NULL key never survives the anti-join's equi-comparison, so
    // pre-guard it would be re-APPENDED by every merge of the same
    // batch (idempotence silently broken); the reference target
    // rejects NULL PKs, and so do we.
    val badPk = df(Seq((null.asInstanceOf[String], "ie9", "poison")))
    val e1 = intercept[Exception] { rows(merge(target, badPk, pkSpec)) }
    assert(e1.getMessage.contains("NULL in merge-key column 'id'"),
      e1.getMessage)
    val badEk = df(Seq(("r9", null.asInstanceOf[String], "poison")))
    val e2 = intercept[Exception] { rows(merge(target, badEk, childSpec)) }
    assert(e2.getMessage.contains(
      "NULL in merge-key column 'intellectual_entity_id'"), e2.getMessage)
    // Non-key NULLs stay legal: only the key columns are guarded.
    val nullPayload = df(Seq(("r9", "ie9", null.asInstanceOf[String])))
    assert(rows(merge(target, nullPayload, pkSpec)).exists(_._1 == "r9"))
  }

  test("merges are idempotent: f(f(x)) = f(x)") {
    val once = merge(target, staged, childSpec)
    val twice = merge(once, staged, childSpec)
    assert(rows(once) == rows(twice))
    val p1 = merge(target, staged, pkSpec)
    val p2 = merge(p1, staged, pkSpec)
    assert(rows(p1) == rows(p2))
  }

  test("incremental after full == full on union (disjoint entities)") {
    val batch2 = df(Seq(("r5", "ie9", "late")))
    val incremental = merge(merge(df(Nil), target, childSpec), batch2, childSpec)
    val full = target.unionByName(batch2)
    assert(rows(incremental) == rows(full))
  }

  test("dropOrphans keeps only FK-satisfied children") {
    val s = spark
    import s.implicits._
    val parent = Seq(("ie1", "x")).toDF("id", "pv")
    val out = Upsert.dropOrphans(target, parent, "intellectual_entity_id", "id")
    assert(rows(out).map(_._2) == Set("ie1"))
    assert(rows(out).map(_._1) == Set("r1", "r2"))
  }

  test("applyAll runs in FK topo order and merges per strategy") {
    val s = spark
    import s.implicits._
    val parentSpec = TableSpec("t.parent", Seq("id" -> ColType.Str))
    val childSpec = TableSpec("t.child", Seq("intellectual_entity_id" -> ColType.Str),
      pk = Nil, entityKey = Some("intellectual_entity_id"), deps = Seq("t.parent"))
    val current = Map(
      "t.child" -> target,
      "t.parent" -> Seq(("ie1", "p")).toDF("id", "v"))
    val stagedM = Map(
      "t.child" -> staged,
      "t.parent" -> Seq(("ie2", "p2")).toDF("id", "v"))
    val out = Upsert.applyAll(current, stagedM, Seq(childSpec, parentSpec), fullSync = false)
    assert(out.map(_._1) == Seq("t.parent", "t.child")) // parent first
    assert(rows(out.toMap.apply("t.child")) ==
      Set(("r3", "ie2", "keep"), ("r9", "ie1", "new-a")))
    assert(out.toMap.apply("t.parent").count() == 2)
  }

  test("mergeAndWrite round-trips through parquet with a dir swap") {
    val tmp = java.nio.file.Files.createTempDirectory("upsert").toString + "/tbl"
    Upsert.mergeAndWrite(spark, tmp, target, childSpec, fullSync = true)
    Upsert.mergeAndWrite(spark, tmp, staged, childSpec, fullSync = false)
    val out = rows(spark.read.parquet(tmp).select("id", "intellectual_entity_id", "v"))
    assert(out == Set(("r3", "ie2", "keep"), ("r9", "ie1", "new-a")))
  }

  test("a non-empty incremental mergeAndWrite runs two SQL executions: " +
    "the touched-bucket collect and the write") {
    val tmp = java.nio.file.Files.createTempDirectory("upsert-jobs").toString + "/tbl"
    Upsert.mergeAndWrite(spark, tmp, target, childSpec, fullSync = true)
    val executions = sqlExecutions {
      Upsert.mergeAndWrite(spark, tmp, staged, childSpec, fullSync = false)
    }
    assert(executions.size === 2, executions)
    assert(rows(spark.read.parquet(tmp)) ===
      Set(("r3", "ie2", "keep"), ("r9", "ie1", "new-a")))
  }

  test("incremental mergeAndWrite rewrites ONLY the touched bucket dirs") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val tmp = java.nio.file.Files.createTempDirectory("upsert-bkt").toString + "/tbl"
    val spec = TableSpec("t.child", Seq("v" -> ColType.Str),
      pk = Nil, entityKey = Some("intellectual_entity_id"))
    val buckets = 16
    val seed = (1 to 200).map(i => (s"r$i", s"ie${i % 50}", s"v$i"))
      .toDF("id", "intellectual_entity_id", "v")
    Upsert.mergeAndWrite(spark, tmp, seed, spec, fullSync = true, numBuckets = buckets)

    // part-file names per bucket dir: rewritten dirs get fresh names
    def listing: Map[String, Set[String]] = {
      val root = new java.io.File(tmp)
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    }
    val before = listing
    assert(before.size > 1, "seed must populate several buckets")

    Upsert.mergeAndWrite(spark,
      tmp, Seq(("rX", "ie1", "new")).toDF("id", "intellectual_entity_id", "v"),
      spec, fullSync = false, numBuckets = buckets)
    val after = listing

    val touched = spark.range(1)
      .select(pmod(xxhash64(lit("ie1")), lit(buckets)).cast("int")).head.getInt(0)
    before.keys.filterNot(_ == s"__bucket=$touched").foreach { b =>
      assert(before(b) == after(b), s"untouched $b must keep its files")
    }
    assert(before(s"__bucket=$touched") != after(s"__bucket=$touched"))

    val out = rows(spark.read.parquet(tmp).select("id", "intellectual_entity_id", "v"))
    assert(out.filter(_._2 == "ie1") == Set(("rX", "ie1", "new")))
    assert(out.size == 200 - 4 + 1) // ie1 had 4 seed rows (1,51,101,151)
  }

  test("an empty staged batch runs only the touched-bucket collect and " +
    "leaves the target's files as they were") {
    val tmp = java.nio.file.Files.createTempDirectory("upsert-empty").toString + "/tbl"
    val spec = TableSpec("t.child", Seq("v" -> ColType.Str),
      pk = Nil, entityKey = Some("intellectual_entity_id"))
    Upsert.mergeAndWrite(spark, tmp, target, spec, fullSync = true)
    def listing: Set[String] = {
      val root = java.nio.file.Paths.get(tmp)
      val files = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        files.iterator().asScala.map(p => root.relativize(p).toString).toSet
      } finally files.close()
    }
    val before = listing
    val executions = sqlExecutions {
      Upsert.mergeAndWrite(spark, tmp, df(Nil), spec, fullSync = false)
    }
    assert(executions.size === 1, executions)
    assert(listing === before)
    assert(rows(spark.read.parquet(tmp)) === rows(target))
  }

  test("incremental merge uses the LAYOUT's bucket count, not the caller's") {
    // A target laid out with 8 buckets, incrementally merged by a
    // caller passing 64: without the _graft_buckets marker the touched
    // set would be computed under mod 64 and prune mod-8 directories —
    // a key whose old row lives in a dir the wrong modulus skips would
    // not be merged and would end up duplicated. The marker pins the
    // layout; the caller's mismatched value must be ignored.
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("upsert-marker").toString + "/tbl"
    val spec = TableSpec("t.pk", Seq("v" -> ColType.Str)) // PK merge on id
    val seed = (1 to 200).map(i => (s"r$i", s"old$i")).toDF("id", "v")
    Upsert.mergeAndWrite(spark, tmp, seed, spec, fullSync = true, numBuckets = 8)
    assert(new java.io.File(tmp, "_graft_buckets").isFile)
    val update = (1 to 200 by 2).map(i => (s"r$i", s"new$i")).toDF("id", "v")
    Upsert.mergeAndWrite(spark, tmp, update, spec, fullSync = false,
      numBuckets = 64) // wrong on purpose
    val out = spark.read.parquet(tmp).select("id", "v").collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(out.length === 200, "no duplicated or lost keys under a mismatched caller width")
    val m = out.toMap
    (1 to 200).foreach { i =>
      assert(m(s"r$i") === (if (i % 2 == 1) s"new$i" else s"old$i"))
    }
  }

  test("a corrupt/out-of-range bucket marker refuses incremental merge " +
    "instead of silently re-pinning the caller's width") {
    val s = spark
    import s.implicits._
    val spec = TableSpec("t.pk", Seq("v" -> ColType.Str))
    def seedTarget(): String = {
      val tmp = java.nio.file.Files.createTempDirectory("upsert-badmk").toString + "/tbl"
      Upsert.mergeAndWrite(spark, tmp,
        (1 to 20).map(i => (s"r$i", s"old$i")).toDF("id", "v"),
        spec, fullSync = true, numBuckets = 8)
      tmp
    }
    def corrupt(tmp: String, content: String): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "_graft_buckets"),
        content.getBytes("UTF-8"))
    val update = Seq(("r1", "new1")).toDF("id", "v")
    // Unparseable and out-of-range markers both mean the layout is
    // UNKNOWN — merging under a guessed modulus is the dup-key
    // corruption the marker exists to prevent, so the merge must die
    // loudly, and must NOT overwrite the evidence.
    Seq("garbage", "0", (1 << 21).toString).foreach { bad =>
      val tmp = seedTarget()
      corrupt(tmp, bad)
      val e = intercept[IllegalStateException] {
        Upsert.mergeAndWrite(spark, tmp, update, spec,
          fullSync = false, numBuckets = 8)
      }
      assert(e.getMessage.contains("refusing incremental"))
      assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(tmp, "_graft_buckets")), "UTF-8") == bad,
        "a corrupt marker must be preserved as evidence, not overwritten")
    }
    // An ABSENT marker is refused the same way: the caller's width is
    // a guess, and nothing is written — no data, no marker.
    val tmp = seedTarget()
    java.nio.file.Files.delete(java.nio.file.Paths.get(tmp, "_graft_buckets"))
    def files(): Set[String] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
      try walk.iterator().asScala.map(_.toString).toSet finally walk.close()
    }
    val before = files()
    val e = intercept[IllegalStateException] {
      Upsert.mergeAndWrite(spark, tmp, update, spec,
        fullSync = false, numBuckets = 8)
    }
    assert(e.getMessage.contains("absent; refusing incremental"))
    assert(files() == before)
    val m = spark.read.parquet(tmp).select("id", "v").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("r1") == "old1" && m.size == 20)
  }

  test("bucketsFor derives one bucket per ~32 MB, floored and capped") {
    // floor: tiny tables never fan below 4 buckets
    assert(Upsert.bucketsFor(0L) == 4)
    assert(Upsert.bucketsFor(32L << 20) == 4)
    // midpoint: exact multiples land on bytes/32MB
    assert(Upsert.bucketsFor(320L << 20) == 10)
    // cap: a 1 PB expectation stays at 4096
    assert(Upsert.bucketsFor(1L << 50) == 4096)
  }

  test("registry topo order puts every dep before its dependents") {
    val order = Tables.topoOrder().map(_.name).zipWithIndex.toMap
    Tables.all.foreach { t =>
      t.deps.filter(order.contains).foreach { d =>
        assert(order(d) < order(t.name), s"${t.name} before its dep $d")
      }
    }
  }
}
