package graft.view

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Functions => F}

/** Person/mentions construct pipeline
  * (reference: typescript/queries/person.sparql).
  *
  * Distinctive shapes: the inverse property path `?person ^schema:mentions
  * ?ie` (person.sparql:77) — entities are reached *from* the mentioned
  * person; the typed confidence default
  * `COALESCE(?confidence, "0.0"^^xsd:decimal)` (person.sparql:113); and
  * the mention→highlight link tables (person.sparql:25-34).
  */
object PersonPipeline {

  object V {
    val Mentions = "https://schema.org/mentions"
    val Name = "https://schema.org/name"
    val BirthDate = "https://schema.org/birthDate"
    val DeathDate = "https://schema.org/deathDate"
    val Confidence =
      "http://www.ebu.ch/metadata/ontologies/ebucore/ebucore#annotationConfidence"
    val Highlight = "https://data.hetarchief.be/ns/mention/highlight"
    val X = "https://data.hetarchief.be/ns/mention/x"
    val Y = "https://data.hetarchief.be/ns/mention/y"
  }
  import Patterns._
  import V._

  def apply(quadsIn: DataFrame, params: ViewParams = ViewParams()): Map[String, DataFrame] = {
    // ~8 pattern slices read this input; persist once (Patterns scaladoc).
    val quads = ensurePersisted(quadsIn)
    // ?ie schema:mentions ?mention — traversed inversely: start from the
    // mention side (person.sparql:77 `^schema:mentions`).
    val mentionOf = invPath(quads, Mentions, "ie")
      .select(col("s").as("mention"), col("ie"))

    val confidence = optionalSingles(quads, Seq((Confidence, "confidence_raw", None)))
      .select(col("s").as("mention"), col("confidence_raw"))

    val mentions = mentionOf
      .join(confidence, Seq("mention"), "left")
      .select(
        F.synthKey(col("ie"), "schema_mentions", col("mention")).as("id"),
        col("ie").as("intellectual_entity_id"),
        // typed default 0.0 (person.sparql:113)
        coalesce(
          when(col("confidence_raw").rlike("^-?\\d+(\\.\\d+)?$"),
            col("confidence_raw").cast("decimal(5,4)")),
          lit(new java.math.BigDecimal("0.0"))).as("confidence"),
        col("mention").as("thing_id"))

    val things = mentionOf.select(col("mention").as("s")).distinct()
      .join(optionalSingles(quads, Seq(
        (Name, "schema_name", None),
        (BirthDate, "birth_raw", None),
        (DeathDate, "death_raw", None))), Seq("s"), "left")
      .select(col("s").as("id"), col("schema_name"),
        F.clampYear(F.dateOrNull(col("birth_raw"))).as("schema_birth_date"),
        F.clampYear(F.dateOrNull(col("death_raw"))).as("schema_death_date"))

    val highlightOf = po(quads, Highlight, "highlight_id")
      .join(mentionOf.select(col("mention").as("s")), Seq("s"), "left_semi")
    val mentionHighlight = highlightOf
      .select(col("s").as("schema_mentions_id"), col("highlight_id"))
    val highlights = highlightOf.select(col("highlight_id").as("s")).distinct()
      .join(optionalSingles(quads, Seq(
        (X, "x_raw", None), (Y, "y_raw", None))), Seq("s"), "left")
      .select(col("s").as("id"),
        graft.pivot.SubjectPivot.coerce(col("x_raw"), graft.model.ColType.DoubleT).as("x"),
        graft.pivot.SubjectPivot.coerce(col("y_raw"), graft.model.ColType.DoubleT).as("y"))

    Map(
      "graph.schema_mentions" -> mentions,
      "graph.thing" -> things,
      "graph.schema_mentions_highlight" -> mentionHighlight,
      "graph.highlight" -> highlights)
  }
}
