package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Tables, TableSpec}

/** Merge/upsert writer family (SURVEY.md §2.9 #74-77, #80).
  *
  * The reference merges per-table temp tables into targets with three
  * strategies (typescript/src/database.ts:168-254):
  *  - full sync: `TRUNCATE … CASCADE` + `INSERT SELECT *` (:178-184)
  *  - incremental, child tables: `DELETE` every row whose *entity key*
  *    appears in the staged batch, then insert — child rows have no
  *    stable identity, so replacement is per touched entity (:186-212)
  *  - incremental, PK tables: `MERGE INTO` / `INSERT … ON CONFLICT
  *    DO UPDATE` (:214-223)
  * applied in FK topological order (2_database_load.ts:188-207).
  *
  * Both incremental strategies are one plan here: drop the target rows
  * whose merge key ([[mergeKeys]]: the entity key, else the PK) the
  * staged batch carries, then append the batch. [[mergeAndWrite]]
  * lays the target out in hash buckets of that same key, so an
  * incremental merge reads and rewrites only the buckets its batch
  * touches, through a dynamic partition overwrite.
  */
object Upsert {

  /** In-plan NULL-key guard for the merge: a NULL merge key never
    * survives the anti-join's equi-comparison, so a staged row with a
    * NULL key would be APPENDED on every merge of the same batch —
    * silent duplication where the reference target (Postgres, NOT NULL
    * primary keys) rejects the insert loudly. One codegen'd
    * when-branch per key column converts that into the loud failure
    * the reference has; the key columns feed the join, so the check
    * is never pruned. */
  private def requireKeys(df: DataFrame, keys: Seq[String],
                          table: String): DataFrame =
    keys.foldLeft(df)((d, k) => d.withColumn(k,
      when(col(k).isNotNull, col(k)).otherwise(raise_error(lit(
        s"$table: NULL in merge-key column '$k' — the reference target " +
          "rejects NULL keys (NOT NULL PK); repair the staged batch " +
          "upstream")))))

  /** Merge `staged` into `target` the way the reference would for this
    * table. Full sync is TRUNCATE + INSERT: the staged batch replaces
    * the target. Incremental drops every target row whose merge key the
    * batch carries, then appends the batch. On an entity key that
    * replaces *all* rows of a touched entity (database.ts:186-212; per
    * PK it would silently duplicate child rows, SURVEY.md §7.4); on a
    * PK the staged row wins and untouched rows survive (MERGE INTO
    * matched→UPDATE / not-matched→INSERT, database.ts:214-223). */
  def merge(target: DataFrame, staged: DataFrame, spec: TableSpec,
            fullSync: Boolean): DataFrame =
    if (fullSync) staged
    else {
      val keys = mergeKeys(spec)
      val checked = requireKeys(staged, keys, spec.name)
      // a left-anti join ignores duplicate keys, so no distinct here
      target.join(checked.select(keys.map(col): _*), keys, "left_anti")
        .unionByName(checked)
    }

  /** Orphan cleanup (SURVEY.md §2.3 #30): keep child rows whose FK
    * exists in the parent (the anti of the reference's two quick-fix
    * DELETEs, database.ts:300-355). */
  def dropOrphans(child: DataFrame, parent: DataFrame,
                  fk: String, parentKey: String): DataFrame =
    child.join(parent.select(col(parentKey).as(fk)).distinct(), Seq(fk), "left_semi")

  /** Apply staged batches to current table states in FK topo order
    * (2_database_load.ts:188-207). Missing staged tables pass through;
    * missing targets are created from staged. Returns the new state per
    * table, ordered. */
  def applyAll(current: Map[String, DataFrame], staged: Map[String, DataFrame],
               specs: Seq[TableSpec], fullSync: Boolean): Seq[(String, DataFrame)] =
    Tables.topoOrder(specs).flatMap { spec =>
      (current.get(spec.name), staged.get(spec.name)) match {
        case (Some(t), Some(s)) => Some(spec.name -> merge(t, s, spec, fullSync))
        case (None, Some(s))    => Some(spec.name -> s)
        case (Some(t), None)    => Some(spec.name -> t)
        case (None, None)       => None
      }
    }

  /** Staging (SURVEY.md §2.1 #6): the reference stages batches in
    * UNLOGGED constraint-free temp tables (create_temp_table.sql:1).
    * The Spark analogue is a truncated-lineage snapshot: downstream
    * merges re-read the staged data, not the pipeline that built it. */
  def stage(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Hash-bucket partition column for partition-scoped merges. */
  val BucketCol = "__bucket"

  /** The key an incremental merge joins on and a bucketed target
    * hashes: the entity key for child tables, else the PK. A spec with
    * neither cannot be merged incrementally. */
  def mergeKeys(spec: TableSpec): Seq[String] = {
    val keys = spec.entityKey.map(Seq(_)).getOrElse(spec.pk)
    require(keys.nonEmpty,
      s"${spec.name}: an incremental merge needs an entityKey or a PK")
    keys
  }

  private def bucketOf(spec: TableSpec, numBuckets: Int) =
    pmod(xxhash64(mergeKeys(spec).map(col): _*), lit(numBuckets)).cast("int")

  /** Data-derived initial bucket count for a NEW bucketed target: one
    * bucket per ~32 MB of expected staged volume, floor 4, cap 4096.
    * The count trades rewrite granularity (each incremental merge
    * rewrites whole touched buckets — more buckets = finer pruning)
    * against per-merge file fan-out (every touched bucket is ≥1 file
    * per write — a tiny table laid out over many buckets pays task and
    * file overhead on EVERY batch). Sizing from volume the way
    * streaming replay width derives from feed bytes keeps both ends
    * honest: a sf-scale test table derives to the floor, a 100 TB
    * table derives to wide pruning. Existing targets ignore this —
    * the layout marker pins their count (see layoutBuckets). */
  def bucketsFor(expectedBytes: Long): Int =
    math.max(4, math.min(4096L, expectedBytes / (32L << 20)).toInt)

  /** Marker file pinning the bucket count a target was laid out with.
    * The underscore prefix keeps parquet readers from treating it as
    * data (same convention as _SUCCESS). */
  private val BucketMarker = "_graft_buckets"

  private def writeBucketMarker(fs: FileSystem,
                                dir: Path, n: Int): Unit = {
    val out = fs.create(new Path(dir, BucketMarker), true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The bucket count `dir`'s marker pins. The whole marker is read
    * (single `read` calls may return short on FSDataInputStream — a
    * short read would parse a truncated count, e.g. '6' from '64', and
    * silently merge under the wrong modulus). An absent, unparseable or
    * out-of-range marker, or a read error, means the layout is UNKNOWN:
    * merging under a guessed modulus is the dup-key corruption the
    * marker exists to prevent, so the incremental merge is refused and
    * the marker left as it is. A full sync rewrites layout and marker
    * atomically. */
  private def layoutBuckets(fs: FileSystem, dir: Path): Int = {
    def refuse(reason: String): Nothing =
      throw new IllegalStateException(
        s"bucket marker at $dir is $reason; refusing incremental " +
          "merge — run a full sync to re-pin the layout")
    val p = new Path(dir, BucketMarker)
    if (!fs.exists(p)) refuse("absent")
    val v = try {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream(32)
        val chunk = new Array[Byte](32)
        var n = in.read(chunk)
        while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        new String(buf.toByteArray, "UTF-8").trim.toInt
      } finally in.close()
    } catch {
      case e: Exception => refuse(s"unreadable: ${e.getMessage}")
    }
    if (v >= 1 && v <= (1 << 20)) v
    else refuse(s"bucket count $v outside [1, ${1 << 20}]")
  }

  /** Parquet-backed upsert, partition-scoped: the target lives
    * partitioned by `__bucket = pmod(xxhash64(mergeKey), numBuckets)`, so
    * an incremental batch touching 0.1% of entities rewrites only the
    * bucket directories its keys hash into — not the full snapshot. At
    * 100 TB this is the difference between an incremental sync moving
    * ~gigabytes and moving the whole table; the pure-merge semantics are
    * exactly `merge` either way (same key → same bucket → target row and
    * staged row meet inside the pruned read).
    *
    * Full sync (or first write) still snapshots everything via tmp-write
    * + atomic rename (read-your-own-input safety + the dual-write
    * ordering the reference gets from transactions,
    * arc_db_delete_flow.py:56-61; see [[swapIn]] for the failure path).
    * Incremental: read ONLY touched buckets (partition pruning), merge,
    * and dynamic-partition-overwrite just those buckets in one job.
    * That job may read the directories it replaces: a dynamic overwrite
    * writes into a staging directory and swaps the partitions in only
    * at job commit, and a failed job deletes its staging directory, so
    * the target stays as it was (`UpsertFaultSpec`). A static overwrite
    * would delete the target before reading it. The touched-bucket
    * collect is bounded by `numBuckets`, never by data size; an empty
    * staged batch ends after it. */
  def mergeAndWrite(spark: SparkSession, path: String, staged: DataFrame,
                    spec: TableSpec, fullSync: Boolean,
                    numBuckets: Int = 64): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(new Path(path))
    if (!exists || fullSync) {
      val tmp = new Path(path + "__tmp")
      staged.withColumn(BucketCol, bucketOf(spec, numBuckets))
        .write.mode("overwrite").partitionBy(BucketCol).parquet(tmp.toString)
      // Pin the layout's bucket count INSIDE the snapshot before the
      // atomic rename, so target + marker can never be seen apart.
      writeBucketMarker(fs, tmp, numBuckets)
      swapIn(fs, tmp, new Path(path))
    } else {
      // The bucket function MUST be the one the target was laid out
      // with — an incremental caller passing a different numBuckets
      // would compute touched-bucket ids under one modulus and prune
      // directories laid out under another: a key whose old row sits
      // in (say) bucket-64 dir 20 but hashes to staged bucket-16 id 4
      // would not be read, not merged, and end up DUPLICATED across
      // two dirs. The marker makes the layout self-describing.
      val layout = layoutBuckets(fs, new Path(path))
      val bucket = bucketOf(spec, layout)
      val touched = staged.select(bucket.as(BucketCol)).distinct()
        .collect().map(_.getInt(0)).sorted // ≤ layout values
      // A batch that touches no bucket leaves the target as it is.
      if (touched.nonEmpty) {
        val targetTouched = spark.read.parquet(path)
          .filter(col(BucketCol).isin(touched.map(Integer.valueOf): _*))
          .drop(BucketCol)
        merge(targetTouched, staged, spec, fullSync = false)
          .withColumn(BucketCol, bucket)
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(BucketCol)
          .parquet(path)
      }
    }
  }

  /** Replace `target` by the fully written snapshot `fresh`. The old
    * target moves aside first, the snapshot renames in, and only then
    * is the old target deleted. A rename that fails or returns false
    * puts the old target back and throws, so a failed swap leaves the
    * target as it was. A leftover from a swap that crashed is cleared
    * first: deleted if the target survived, else moved back as the
    * target. */
  private[graft] def swapIn(fs: FileSystem, fresh: Path, target: Path): Unit = {
    val aside = new Path(target.toString + "__old")
    if (fs.exists(aside)) {
      if (fs.exists(target)) fs.delete(aside, true)
      else if (!fs.rename(aside, target))
        throw new java.io.IOException(s"could not restore $aside to $target")
    }
    val hadTarget = fs.exists(target)
    if (hadTarget && !fs.rename(target, aside))
      throw new java.io.IOException(s"could not move $target aside to $aside")
    try {
      if (!fs.rename(fresh, target))
        throw new java.io.IOException(s"rename $fresh to $target returned false")
    } catch {
      case e: Throwable =>
        if (hadTarget) {
          if (fs.exists(target)) fs.delete(target, true)
          fs.rename(aside, target)
        }
        throw e
    }
    if (hadTarget) fs.delete(aside, true)
  }
}
