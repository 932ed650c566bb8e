package graft.sink

import org.apache.spark.sql.DataFrame

import graft.model.TableSpec

/** Batched JDBC sink (SURVEY.md §2.1 #5, §2.9 #76-77 JDBC side).
  *
  * The reference inserts per-table batches of 100 rows with multi-row
  * INSERTs through a pooled pg client (typescript/src/database.ts:257-297,
  * BATCH_SIZE configuration.ts:11) and merges with `MERGE INTO` or
  * `INSERT … ON CONFLICT` depending on a flag (database.ts:46-49,214-223).
  *
  * Spark-native: the batching, pooling and retry collapse into
  * `df.write.format("jdbc")` options (one connection per partition,
  * `batchsize` rows per round-trip, task retry = the reference's insert
  * retry). The upsert SQL the reference string-builds is generated here
  * and verified by unit test; execution requires a live database, which
  * the merge writers in [[Upsert]] replace for file-backed targets.
  */
object JdbcSink {

  sealed trait Dialect
  case object MergeInto extends Dialect      // USE_MERGE=true path
  case object OnConflict extends Dialect     // USE_MERGE=false path

  /** Append a staged batch through Spark's JDBC writer. */
  def append(df: DataFrame, url: String, table: String,
             batchSize: Int = 100): Unit =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize)
      .option("isolationLevel", "READ_COMMITTED")
      .mode("append").save()

  /** The upsert statement the reference generates per table — staged
    * (temp) relation merged into the target on its PK
    * (database.ts:214-223; ON CONFLICT builder database.ts:46-49). */
  def upsertSql(spec: TableSpec, stagedTable: String, dialect: Dialect): String = {
    require(spec.pk.nonEmpty, s"${spec.name} has no PK for an upsert")
    val cols = spec.colNames
    val nonPk = cols.filterNot(spec.pk.contains)
    dialect match {
      case MergeInto =>
        val on = spec.pk.map(k => s"t.$k = s.$k").mkString(" AND ")
        val set = nonPk.map(c => s"$c = s.$c").mkString(", ")
        val ins = cols.mkString(", ")
        val vals = cols.map(c => s"s.$c").mkString(", ")
        s"MERGE INTO ${spec.name} t USING $stagedTable s ON $on " +
          s"WHEN MATCHED THEN UPDATE SET $set " +
          s"WHEN NOT MATCHED THEN INSERT ($ins) VALUES ($vals)"
      case OnConflict =>
        val ins = cols.mkString(", ")
        val conflict = spec.pk.mkString(", ")
        val set = nonPk.map(c => s"$c = EXCLUDED.$c").mkString(", ")
        s"INSERT INTO ${spec.name} ($ins) SELECT $ins FROM $stagedTable " +
          s"ON CONFLICT ($conflict) DO UPDATE SET $set"
    }
  }

  /** Key-clear delete the reference issues before inserting child rows
    * (database.ts:186-212). */
  def keyClearSql(spec: TableSpec, stagedTable: String): String = {
    val k = spec.entityKey.getOrElse(
      throw new IllegalArgumentException(s"${spec.name} has no entity key"))
    s"DELETE FROM ${spec.name} WHERE $k IN (SELECT DISTINCT $k FROM $stagedTable)"
  }
}
