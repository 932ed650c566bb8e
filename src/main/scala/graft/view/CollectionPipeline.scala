package graft.view

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Ns
import graft.pivot.SubjectPivot
import graft.model.ColType

/** Collection construct pipeline
  * (reference: typescript/queries/newspaper-collection.sparql:16-42,
  * av-audio.sparql:109-119,355-364).
  *
  * Carries the one SPARQL idiom that must be translated by *intent*,
  * not literally: `COALESCE(IF(?type = …, "episode", 1/0), …)` uses a
  * deliberate division error to make COALESCE skip non-matching
  * branches (error-as-unbound). The Spark form is a plain when-chain
  * with the same mapping (SURVEY.md §2.8 #59):
  * Episode→episode, ArchiveComponent→archive, CreativeWorkSeries→series,
  * CreativeWorkSeason→season, BroadcastEvent→program, else collection.
  */
object CollectionPipeline {

  object V {
    val SchemaNs = "https://schema.org/"
    val IsPartOf = SchemaNs + "isPartOf"
    val Name = SchemaNs + "name"
    val SeasonNumber = SchemaNs + "seasonNumber"
    val InLanguage = SchemaNs + "inLanguage"
    val AlternateName = SchemaNs + "alternateName"
  }
  import Patterns._
  import V._

  /** The error-trick mapping as a when-chain (av-audio.sparql:355-364). */
  def collectionType(typeIri: Column): Column = {
    val local = graft.functions.Functions.iriLocalName(typeIri)
    when(local === "Episode", "episode")
      .when(local === "ArchiveComponent", "archive")
      .when(local === "CreativeWorkSeries", "series")
      .when(local === "CreativeWorkSeason", "season")
      .when(local === "BroadcastEvent", "program")
      .when(local === "Newspaper", "newspaper")
      .otherwise("collection")
  }

  def apply(quadsIn: DataFrame, params: ViewParams = ViewParams()): Map[String, DataFrame] = {
    // ~6 pattern slices read this input; persist once (Patterns scaladoc).
    val quads = ensurePersisted(quadsIn)
    // Collections = objects of isPartOf; their rdf:type drives the
    // type-name mapping.
    val partOf = po(quads, IsPartOf, "collection_id")
    val collIds = partOf.select(col("collection_id").as("s")).distinct()

    val typeOf = po(quads, Ns.RdfType, "type_iri")
      .groupBy(col("s"))
      .agg(min(col("type_iri")).as("type_iri"))

    val collections = collIds
      .join(typeOf, Seq("s"), "left")
      .join(optionalSingles(quads, Seq(
        (Name, "schema_name", None),
        (SeasonNumber, "season_raw", None))), Seq("s"), "left")
      .select(col("s").as("id"),
        collectionType(col("type_iri")).as("collection_type"),
        col("schema_name"),
        SubjectPivot.coerce(col("season_raw"), ColType.IntT).as("schema_season_number"))

    val isPartOfRows = partOf
      .join(collections.select(col("id").as("collection_id"),
        col("collection_type").as("type")), Seq("collection_id"))
      .select(col("s").as("intellectual_entity_id"), col("type"), col("collection_id"))

    // Newspaper extras (newspaper-collection.sparql:31-37).
    val collLang = po(quads, InLanguage, "schema_in_language")
      .join(collIds, Seq("s"), "left_semi")
      .select(col("s").as("collection_id"), col("schema_in_language"))
    val collAlt = po(quads, AlternateName, "schema_alternate_name")
      .join(collIds, Seq("s"), "left_semi")
      .select(col("s").as("collection_id"), col("schema_alternate_name"))

    Map(
      "graph.collection" -> collections,
      "graph.schema_is_part_of" -> isPartOfRows,
      "graph.newspaper_schema_in_language" -> collLang,
      "graph.newspaper_schema_alternate_name" -> collAlt)
  }
}
