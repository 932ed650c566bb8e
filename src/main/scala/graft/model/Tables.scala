package graft.model

/** Column types crossing the reference pipeline (FIXTURES.md §B;
  * reference: typescript/src/stream.ts:29-42 literal→primitive conversion,
  * typescript/src/database.ts:127-135 insert-time coercion). */
sealed trait ColType
object ColType {
  /** Plain string / IRI (the default — reference records are stringly
    * typed maps, Postgres does final coercion). */
  case object Str extends ColType
  /** Boolean; absent → false (database.ts:132-135). */
  case object Bool extends ColType
  /** Date; year < 1 clamped to 1 (stream.ts:35-39), invalid → null
    * (database.ts:127-131). */
  case object DateT extends ColType
  case object TimestampT extends ColType
  case object IntT extends ColType
  case object DoubleT extends ColType
  /** xsd:duration literal parsed to seconds (stream.ts:30-31). */
  case object DurationSeconds extends ColType
  /** Confidence decimal, default 0.0 (person.sparql:113). */
  case object DecimalT extends ColType
}

/** One target table: declared columns (replacing the reference's runtime
  * Postgres introspection, typescript/queries/sql/get_table_columns.sql),
  * primary key (get_table_primary_keys.sql), FK dependencies driving
  * merge topo-order (get_dependent_tables.sql, 2_database_load.ts:188-194),
  * and the entity key used for incremental key-clear merges
  * (database.ts:186-212 — child rows are replaced per touched entity).
  */
final case class TableSpec(
    name: String,
    cols: Seq[(String, ColType)],
    pk: Seq[String] = Seq("id"),
    entityKey: Option[String] = None,
    deps: Seq[String] = Nil
) {
  def colNames: Seq[String] = cols.map(_._1)
}

/** Static schema registry — the Spark-side replacement for
  * information_schema introspection (SURVEY.md §1.2, FIXTURES.md §B).
  * Subset covering the organization family, the core entity family, and
  * every table the delete flow / doc builder touches.
  */
object Tables {
  import ColType._

  val organization = TableSpec(
    "graph.organization",
    Seq("id" -> Str, "dcterms_description" -> Str, "foaf_homepage" -> Str,
      "ha_org_sector" -> Str, "org_classification" -> Str,
      "org_identifier" -> Str, "skos_pref_label" -> Str))

  val organizationHasPreference = TableSpec(
    "graph.organization_has_preference",
    Seq("organization_id" -> Str, "ha_pref" -> Str),
    pk = Nil, entityKey = Some("organization_id"), deps = Seq("graph.organization"))

  val schemaContactPoint = TableSpec(
    "graph.schema_contact_point",
    Seq("id" -> Str, "organization_id" -> Str, "schema_contact_type" -> Str,
      "schema_email" -> Str, "schema_telephone" -> Str),
    entityKey = Some("organization_id"), deps = Seq("graph.organization"))

  val schemaPostalAddress = TableSpec(
    "graph.schema_postal_address",
    Seq("id" -> Str, "organization_id" -> Str, "schema_street_address" -> Str,
      "schema_address_locality" -> Str, "schema_postal_code" -> Str,
      "schema_address_country" -> Str),
    entityKey = Some("organization_id"), deps = Seq("graph.organization"))

  val organizationHasPostalAddress = TableSpec(
    "graph.organization_has_postal_address",
    Seq("organization_id" -> Str, "postal_address_id" -> Str),
    pk = Nil, entityKey = Some("organization_id"),
    deps = Seq("graph.organization", "graph.schema_postal_address"))

  val intellectualEntity = TableSpec(
    "graph.intellectual_entity",
    Seq("id" -> Str, "schema_identifier" -> Str, "schema_name" -> Str,
      "schema_description" -> Str, "schema_abstract" -> Str,
      "schema_date_created" -> DateT, "schema_date_published" -> DateT,
      "dcterms_available" -> TimestampT, "schema_position" -> IntT,
      "schema_maintainer" -> Str, "relation_is_part_of" -> Str,
      "schema_copyright_notice" -> Str),
    deps = Seq("graph.organization"))

  val dctermsFormat = TableSpec(
    "graph.dcterms_format",
    Seq("intellectual_entity_id" -> Str, "dcterms_format" -> Str),
    pk = Nil, entityKey = Some("intellectual_entity_id"),
    deps = Seq("graph.intellectual_entity"))

  val mhFragmentIdentifier = TableSpec(
    "graph.mh_fragment_identifier",
    Seq("intellectual_entity_id" -> Str, "mh_fragment_identifier" -> Str,
      "is_deleted" -> Bool),
    pk = Nil, entityKey = Some("intellectual_entity_id"),
    deps = Seq("graph.intellectual_entity"))

  val schemaLicense = TableSpec(
    "graph.schema_license",
    Seq("intellectual_entity_id" -> Str, "schema_license" -> Str),
    pk = Nil, entityKey = Some("intellectual_entity_id"),
    deps = Seq("graph.intellectual_entity"))

  val thing = TableSpec(
    "graph.thing",
    Seq("id" -> Str, "schema_name" -> Str, "schema_birth_date" -> DateT,
      "schema_death_date" -> DateT))

  val schemaRole = TableSpec(
    "graph.schema_role",
    Seq("id" -> Str, "type" -> Str, "intellectual_entity_id" -> Str,
      "schema_role_name" -> Str, "thing_id" -> Str),
    entityKey = Some("intellectual_entity_id"),
    deps = Seq("graph.intellectual_entity", "graph.thing"))

  val file = TableSpec(
    "graph.file",
    Seq("id" -> Str, "ebucore_has_mime_type" -> Str, "premis_original_name" -> Str,
      "schema_duration" -> DurationSeconds, "schema_name" -> Str,
      "schema_thumbnail_url" -> Str))

  val representation = TableSpec(
    "graph.representation",
    Seq("id" -> Str, "premis_represents" -> Str, "schema_name" -> Str,
      "schema_transcript" -> Str, "is_media_fragment_of" -> Str,
      "schema_start_time" -> DoubleT, "schema_end_time" -> DoubleT),
    entityKey = Some("premis_represents"),
    deps = Seq("graph.intellectual_entity", "graph.file"))

  val includes = TableSpec(
    "graph.includes",
    Seq("representation_id" -> Str, "file_id" -> Str),
    pk = Nil, entityKey = Some("representation_id"),
    deps = Seq("graph.representation", "graph.file"))

  /** The denormalized search-document table, upserted keyed (id,index)
    * (SURVEY.md §2.9 #80 — reference:
    * flows/queries/update_partition.sql:362-366 `ON CONFLICT (id, index)
    * DO UPDATE`): same entity under two org indexes is two rows, so the
    * PK is composite and entityKey stays None (PK merge, not key-clear). */
  val indexDocuments = TableSpec(
    "graph.index_documents",
    Seq("id" -> Str, "index" -> Str, "document" -> Str,
      "n_children" -> IntT, "any_flag" -> Bool, "duration_sec" -> DoubleT),
    pk = Seq("id", "index"))

  val all: Seq[TableSpec] = Seq(
    organization, organizationHasPreference, schemaContactPoint,
    schemaPostalAddress, organizationHasPostalAddress, intellectualEntity,
    dctermsFormat, mhFragmentIdentifier, schemaLicense, thing, schemaRole,
    file, representation, includes, indexDocuments)

  /** FK-dependency topological order for merge application (reference:
    * typescript/src/2_database_load.ts:188-207 builds the same order with
    * a dependency-graph lib). Kahn's algorithm; deterministic (name-sorted
    * among ready nodes); throws on cycles. Driver-side over the static
    * registry — write *ordering* is the only thing Spark doesn't schedule.
    */
  def topoOrder(specs: Seq[TableSpec] = all): Seq[TableSpec] = {
    val known = specs.map(_.name).toSet
    var remaining = specs.sortBy(_.name)
    val out = Seq.newBuilder[TableSpec]
    var done = Set.empty[String]
    while (remaining.nonEmpty) {
      val (ready, blocked) =
        remaining.partition(t => t.deps.filter(known).forall(done))
      require(ready.nonEmpty,
        s"FK dependency cycle among: ${blocked.map(_.name).mkString(", ")}")
      out ++= ready
      done ++= ready.map(_.name)
      remaining = blocked
    }
    out.result()
  }
}
