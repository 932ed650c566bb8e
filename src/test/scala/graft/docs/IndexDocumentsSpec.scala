package graft.docs

import graft.SparkSuite

/** Partition lifecycle: dynamic overwrite touches only present
  * partitions; empty-partition drop removes directories; a failed full
  * write leaves the previous documents in place. */
class IndexDocumentsSpec extends SparkSuite {

  test("dynamic partition overwrite rewrites only touched partitions") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("docs").toString + "/docs"
    val v1 = Seq((1L, "or_a", "doc-a1"), (2L, "or_b", "doc-b1"))
      .toDF("id", "index", "document")
    IndexDocuments.writePartitioned(v1, dir)
    // refresh ONLY or_a
    val v2 = Seq((1L, "or_a", "doc-a2")).toDF("id", "index", "document")
    IndexDocuments.overwriteTouchedPartitions(v2, dir)
    val out = spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("index") -> r.getAs[String]("document")).toMap
    assert(out == Map("or_a" -> "doc-a2", "or_b" -> "doc-b1"))
  }

  test("dropPartitions removes org partitions entirely") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("docs").toString + "/docs"
    val v1 = Seq((1L, "or_a", "a"), (2L, "or_b", "b")).toDF("id", "index", "document")
    IndexDocuments.writePartitioned(v1, dir)
    IndexDocuments.dropPartitions(spark, dir, Seq("or_b"))
    val left = spark.read.parquet(dir).collect().map(_.getAs[String]("index")).toSet
    assert(left == Set("or_a"))
  }

  test("a full write that fails mid-job leaves the previous documents readable") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val dir = java.nio.file.Files.createTempDirectory("docs").toString + "/docs"
    val v1 = Seq((1L, "or_a", "doc-a1"), (2L, "or_b", "doc-b1"))
      .toDF("id", "index", "document")
    IndexDocuments.writePartitioned(v1, dir)
    val before = spark.read.parquet(dir).collect().toSet
    // One row of the new documents fails inside the write job. The
    // rows are scanned from files: over a local relation the optimizer
    // would evaluate the error before the write began.
    Seq((1L, "or_a", "doc-a2"), (3L, "or_c", "doc-c2"))
      .toDF("id", "index", "document").write.parquet(dir + "_src")
    val v2 = spark.read.parquet(dir + "_src")
      .withColumn("document", when(col("id") === 3L,
        raise_error(lit("injected document failure"))).otherwise(col("document")))
    val e = intercept[Exception](IndexDocuments.writePartitioned(v2, dir))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("injected document failure")), s"got: $e")
    assert(spark.read.parquet(dir).collect().toSet === before)
  }
}
