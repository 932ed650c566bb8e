package graft.sink

import java.net.URI

import org.apache.hadoop.fs.{FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame

import graft.SparkSuite
import graft.model.{ColType, TableSpec}

/** A local file system under the `failrename` scheme whose rename of a
  * `__tmp` snapshot into place returns false, as an object store or a
  * full disk may. Every other call goes to the local file system. */
class FailingTmpRenameFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("failrename:///")
}) {
  override def getScheme: String = "failrename"
  override def rename(src: Path, dst: Path): Boolean =
    if (src.getName.endsWith("__tmp")) false else super.rename(src, dst)
}

/** Failure paths of the parquet-backed upsert: a failed swap leaves the
  * target as it was, and a merge leaves no storage behind. */
class UpsertFaultSpec extends SparkSuite {

  private def df(rows: Seq[(String, String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "intellectual_entity_id", "v")
  }

  private def rows(d: DataFrame): Set[(String, String, String)] =
    d.select("id", "intellectual_entity_id", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  private val spec = TableSpec("t.child", Seq("v" -> ColType.Str),
    pk = Nil, entityKey = Some("intellectual_entity_id"))
  private val target = df(Seq(
    ("r1", "ie1", "old-a"), ("r2", "ie1", "old-b"), ("r3", "ie2", "keep")))
  private val staged = df(Seq(("r9", "ie1", "new-a")))

  test("a full sync whose snapshot rename fails throws and keeps the " +
    "old target readable") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failrename.impl", classOf[FailingTmpRenameFs].getName)
    val tbl = java.nio.file.Files.createTempDirectory("upsert-fault").toString + "/tbl"
    Upsert.mergeAndWrite(spark, tbl, target, spec, fullSync = true)
    val e = intercept[java.io.IOException] {
      Upsert.mergeAndWrite(spark, s"failrename://$tbl", staged, spec,
        fullSync = true)
    }
    assert(e.getMessage.contains("returned false"), e.getMessage)
    assert(rows(spark.read.parquet(tbl)) === rows(target))
    assert(!new java.io.File(tbl + "__old").exists(),
      "the old target must be back in place, not left aside")
    // the next full sync through a working file system goes through
    Upsert.mergeAndWrite(spark, tbl, staged, spec, fullSync = true)
    assert(rows(spark.read.parquet(tbl)) === rows(staged))
  }

  test("an incremental mergeAndWrite frees its lineage-cut snapshot") {
    val tbl = java.nio.file.Files.createTempDirectory("upsert-free").toString + "/tbl"
    Upsert.mergeAndWrite(spark, tbl, target, spec, fullSync = true)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Upsert.mergeAndWrite(spark, tbl, staged, spec, fullSync = false)
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
    assert(rows(spark.read.parquet(tbl)) ===
      Set(("r3", "ie2", "keep"), ("r9", "ie1", "new-a")))
  }
}
