package graft.model

/** RDF quad — the engine's raw input record.
  *
  * Mirrors the term shape the reference consumes from its Turtle stream
  * (reference: typescript/src/stream.ts:64-75 destructures subject /
  * predicate / object / language / datatype). `lang` and `datatype` are
  * null for IRIs and plain literals; `graph` carries the named graph IRI
  * (reference queries scope matches with `GRAPH ?ORGraph { ... }`, e.g.
  * typescript/queries/av-audio.sparql:185-190).
  *
  * At rest we keep quads columnar (Parquet), ideally partitioned by
  * `graph` (per-organization metadata graphs) so org-scoped runs prune
  * partitions instead of scanning 100 TB.
  */
final case class Quad(
    subject: String,
    predicate: String,
    obj: String,
    lang: String,
    datatype: String,
    graph: String
)

object Ns {
  /** Column-routing namespace of the "view" triples
    * (reference: typescript/src/configuration.ts:5-7). */
  val KgToPostgres = "urn:kg-to-postgres:"
  /** Predicate that names the target table for a record-subject. */
  val TableName: String = KgToPostgres + "tableName"
  val XsdBoolean = "http://www.w3.org/2001/XMLSchema#boolean"
  val Rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val RdfType: String = Rdf + "type"
}
