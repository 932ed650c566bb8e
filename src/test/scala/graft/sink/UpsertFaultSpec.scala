package graft.sink

import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
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

/** A local file system under the `failwrite` scheme that writes the
  * first part file of a job and refuses every later one, as a full disk
  * or a lost executor may: the job fails after it began writing. */
class FailingPartWriteFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("failwrite:///")
}) {
  override def getScheme: String = "failwrite"
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    if (f.getName.startsWith("part-") &&
        FailingPartWriteFs.created.incrementAndGet() > 1)
      throw new java.io.IOException(s"injected failure creating $f")
    else super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
}

object FailingPartWriteFs {
  /** Part files asked for since the last reset. */
  val created = new java.util.concurrent.atomic.AtomicInteger
}

/** Failure paths of the parquet-backed upsert: a failed swap or a
  * failed incremental write leaves the target as it was, and a merge
  * leaves no storage behind. */
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

  test("an incremental mergeAndWrite leaves no storage behind") {
    val tbl = java.nio.file.Files.createTempDirectory("upsert-free").toString + "/tbl"
    Upsert.mergeAndWrite(spark, tbl, target, spec, fullSync = true)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Upsert.mergeAndWrite(spark, tbl, staged, spec, fullSync = false)
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
    assert(rows(spark.read.parquet(tbl)) ===
      Set(("r3", "ie2", "keep"), ("r9", "ie1", "new-a")))
  }

  test("an incremental merge whose write fails mid-job leaves the target " +
    "row-identical and no staging directory behind") {
    // The merge job reads the touched buckets and overwrites them with
    // no snapshot in between. That is safe only because a dynamic
    // overwrite swaps partitions in at job commit: a job that fails
    // after it began writing must leave every bucket as it was. (A
    // static overwrite deletes the buckets before the job reads them.)
    spark.sparkContext.hadoopConfiguration
      .set("fs.failwrite.impl", classOf[FailingPartWriteFs].getName)
    val tbl = java.nio.file.Files.createTempDirectory("upsert-midwrite").toString + "/tbl"
    val seed = df((1 to 200).map(i => (s"r$i", s"ie${i % 50}", s"old$i")))
    Upsert.mergeAndWrite(spark, tbl, seed, spec, fullSync = true, numBuckets = 4)
    def files: Set[String] = {
      val root = java.nio.file.Paths.get(tbl)
      val walk = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.map(p => root.relativize(p).toString).toSet
      } finally walk.close()
    }
    def all: Seq[String] = spark.read.parquet(tbl).collect().map(_.toString).toSeq.sorted
    val (filesBefore, rowsBefore) = (files, all)
    // twenty entities, spread over every bucket: several part files
    val batch = df((0 until 20).map(i => (s"n$i", s"ie$i", s"new$i")))
    FailingPartWriteFs.created.set(0)
    val e = intercept[Exception] {
      Upsert.mergeAndWrite(spark, s"failwrite://$tbl", batch, spec,
        fullSync = false, numBuckets = 4)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("injected"))), e)
    assert(FailingPartWriteFs.created.get >= 2, "the write must fail mid-job")
    assert(all === rowsBefore)
    assert(files === filesBefore)
    assert(!files.exists(_.contains(".spark-staging")), files)
  }
}
