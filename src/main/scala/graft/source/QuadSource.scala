package graft.source

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types._

/** Quad readers — the engine's ingestion layer (SURVEY.md §2.1 #1-3).
  *
  * The reference downloads its view graph as gzipped Turtle and parses it
  * in a single Node stream (typescript/src/2_database_load.ts:62-70,
  * 132-138). Every format here goes through the one [[TurtleParser]]:
  * Turtle per file (not splittable), and N-Triples per line — every
  * N-Triples statement line is a complete Turtle document, so the line
  * read splits across executors for free.
  */
object QuadSource {

  val schema: StructType = StructType(Seq(
    StructField("subject", StringType),
    StructField("predicate", StringType),
    StructField("obj", StringType),
    StructField("lang", StringType),
    StructField("datatype", StringType),
    StructField("graph", StringType)))

  /** Line-oriented N-Triples → quad DataFrame, each line parsed as its
    * own Turtle document. Splittable: `spark.read.textFile` distributes
    * line ranges. Comment and blank lines yield no rows; a malformed
    * line fails with [[TurtleParser.TurtleParseException]], as the
    * reference's stream rejects invalid statements (stream.ts:131-134). */
  def ntriples(spark: SparkSession, path: String): DataFrame =
    fromTurtleDocs(spark.read.textFile(path))

  /** Turtle ingest — the reference's wire format
    * (2_database_load.ts:62-70). One row per FILE (`wholetext`): Turtle
    * is stateful (@prefix, multi-line statements) so it cannot split
    * within a file; many files parallelize across executors, which is
    * the same per-stream constraint the reference's Node pipeline has.
    * Use NT or Parquet for splittable at-rest storage. */
  def turtle(spark: SparkSession, path: String): DataFrame =
    fromTurtleDocs(spark.read.option("wholetext", "true").textFile(path))

  /** [[TurtleParser]] over an existing one-document-per-row Dataset. */
  def fromTurtleDocs(docs: Dataset[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap(d => TurtleParser.parse(d)).toDF()
  }
}
