package graft.delete

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.sink.Upsert
import graft.view.Patterns

/** Delete flow: flag synthesis + anti-join removal
  * (reference: flows/arc_db_delete_flow.py:27-61,
  * typescript/queries/deletes.sparql:27-79).
  *
  * Flags come from two UNION branches over the source graph, both gated
  * on a *bound* `since` (deletes run only incrementally,
  * deletes.sparql:48,55):
  *  (a) fragment modified since cutoff that carries `schema:dateDeleted`
  *      — the entity IRI is *synthesized* as `iri(concat(prefix, pid))`
  *      from the MediaHaven PID (deletes.sparql:40-49);
  *  (b) fragment modified since cutoff whose derived entity has NO
  *      license from the allow-list — `FILTER NOT EXISTS` → left anti
  *      (deletes.sparql:50-77).
  * Application deletes flagged entities and their fragments in one job
  * (arc_db_delete_flow.py:34-43), write-ordered for the transactionality
  * the reference gets from SQL transactions.
  */
object DeleteFlow {

  object V {
    val Modified = "https://schema.org/dateModified"
    val DateDeleted = "https://schema.org/dateDeleted"
    val License = "https://schema.org/license"
    val Pid = "https://data.hetarchief.be/ns/mh/fragmentPid"
    val DerivedFrom = "http://www.w3.org/ns/prov#wasDerivedFrom"
  }

  /** Licenses that keep an entity alive (deletes.sparql:65-75 — the
    * 9-license allow-list). The delete flag rule and the entity views'
    * base match both read this one list. */
  val DefaultAllowedLicenses: Seq[String] = Seq(
    "VIAA-PUBLIEK-METADATA-LTD", "VIAA-PUBLIEK-METADATA-ALL",
    "VIAA-PUBLIEK-CONTENT", "VIAA-INTRA_CP-METADATA-ALL",
    "VIAA-INTRA_CP-CONTENT", "BEZOEKERTOOL-CONTENT",
    "BEZOEKERTOOL-METADATA-ALL", "VIAA-ONDERWIJS", "Publiek-Domein")

  /** Synthesize delete flags. Returns (intellectual_entity_id,
    * mh_fragment_identifier, is_deleted=true) rows — empty when `since`
    * is unbound, mirroring `FILTER(bound(?since) && …)`.
    *
    * A bound `since` returns the flags staged (`Upsert.stage`, an eager
    * `localCheckpoint`), the way the reference writes them once
    * into `mh_fragment_identifier` before its DELETEs: every later read
    * — the dead-id collect, each table rewrite, the documents'
    * anti-join — scans the staged rows instead of re-running the flag
    * plan. The stage runs under AQE, so the rows land in data-sized
    * partitions; a persist of the unstaged plan would keep every
    * initial shuffle partition of its `distinct`. The caller frees the
    * staged flags with `Checkpoints.free` once nothing reads them. An
    * input that this call had to persist is unpersisted before it
    * returns. */
  def flagDeletes(quadsIn: DataFrame, since: Option[String],
                  prefixIdBase: String): DataFrame =
    since match {
      case None => // bound-guard: deletes are incremental-only
        val spark = quadsIn.sparkSession
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
          StructField("intellectual_entity_id", StringType),
          StructField("mh_fragment_identifier", StringType),
          StructField("is_deleted", BooleanType, nullable = false))))
      case Some(cutoff) =>
        // 5 pattern slices read this input; persist once (Patterns scaladoc).
        val ownsPersist = quadsIn.storageLevel == StorageLevel.NONE
        val quads = Patterns.ensurePersisted(quadsIn)
        try {
          val modified = Patterns.po(quads, V.Modified, "modified")
            .filter(col("modified") >= lit(cutoff))
            .select(col("s"))
          val pid = Patterns.po(quads, V.Pid, "pid")

          // (a) tombstoned fragments: entity key rebuilt from the PID.
          val tombstoned = Patterns.po(quads, V.DateDeleted, "deleted_at")
            .select(col("s"))
            .join(modified, Seq("s"), "left_semi")
            .join(pid, Seq("s"))
            .select(concat(lit(prefixIdBase), col("pid")).as("intellectual_entity_id"),
              col("s").as("mh_fragment_identifier"))

          // (b) fragments whose derived entity lacks every allowed license.
          val derived = Patterns.po(quads, V.DerivedFrom, "ie")
          val licensed = Patterns.po(quads, V.License, "license")
            .filter(col("license").isin(DefaultAllowedLicenses: _*))
            .select(col("s").as("ie")).distinct()
          val unlicensed = derived
            .join(modified, Seq("s"), "left_semi")
            .join(licensed, Seq("ie"), "left_anti") // FILTER NOT EXISTS
            .select(col("ie").as("intellectual_entity_id"),
              col("s").as("mh_fragment_identifier"))

          Upsert.stage(tombstoned.unionByName(unlicensed)
            .distinct()
            .withColumn("is_deleted", lit(true)))
        } finally if (ownsPersist) quads.unpersist(blocking = false)
    }

  /** Apply flags: drop flagged entities and every fragment row of a
    * flagged entity (arc_db_delete_flow.py:34-43 — two DELETEs, one
    * transaction). Returns (entities', fragments'). */
  def applyDeletes(entities: DataFrame, fragments: DataFrame,
                   flags: DataFrame): (DataFrame, DataFrame) = {
    // a left-anti join ignores duplicate keys, so no distinct here
    val deadEntities = flags.filter(col("is_deleted"))
      .select(col("intellectual_entity_id").as("id"))
    val keptEntities = entities.join(deadEntities, Seq("id"), "left_anti")
    val keptFragments = fragments.join(
      deadEntities.select(col("id").as("intellectual_entity_id")),
      Seq("intellectual_entity_id"), "left_anti")
    (keptEntities, keptFragments)
  }
}
