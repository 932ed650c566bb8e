package graft.view

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Functions => F}

/** Parameterized entity construct pipeline — the shared skeleton of the
  * reference's av-audio / av-video / av-complex / newspaper queries
  * (typescript/queries/av-audio.sparql, 521 LoC; the four differ only in
  * entity-type VALUES, MIME VALUES, and peak-file handling — verified by
  * diff, SURVEY.md §2.2).
  *
  * The ~25 UNION branches per query (av-audio.sparql:231-520) are
  * data-driven here: each optional attribute family is a `BranchSpec`,
  * and branches targeting the same table union; the leading empty `{}`
  * branch of the SPARQL (the cross-product identity keeping the base
  * match alive) is the base entity row itself. This is what keeps 4
  * queries × 25 branches from becoming 5k lines of copy-paste
  * (SURVEY.md §7.4).
  *
  * == Branch audit: av-audio.sparql:231-520 → implementation ==
  * | sparql | branch | here |
  * | :231 alternateName (nl) | branch table | BranchSpec schema_alternate_name |
  * | :239 inLanguage | branch table | BranchSpec schema_in_language |
  * | :244 keywords | branch table | BranchSpec schema_keywords |
  * | :249 genre | branch table | BranchSpec schema_genre |
  * | :253 spatial/name | `/`-path | BranchSpec schema_spatial (via) |
  * | :257 temporal | branch table | BranchSpec schema_temporal |
  * | :262 dateCreated + haDes min/max | ie scalars | ieScalars rows 6-8 |
  * | :270 datePublished + haDes min/max | ie scalars | ieScalars rows 9-11 |
  * | :278 description (nl) | ie scalar | ieScalars (nl filter) |
  * | :283 abstract (nl) | ie scalar | ieScalars (nl filter) |
  * | :287 premis:identifier typed | child table | premisRows |
  * | :303 rel:isp | ie scalar | ieScalars relation_is_part_of |
  * | :304 dct:available | ie scalar | ieScalars dcterms_available |
  * | :305 ebucore:hasObjectType | ie scalar | ieScalars |
  * | :306 ebucore:hasCastMember | ie scalar | ieScalars |
  * | :307 schema:copyrightYear | ie scalar | ieScalars |
  * | :308 schema:copyrightNotice | ie scalar | ieScalars |
  * | :309 dct:rights | ie scalar | ieScalars dcterms_rights |
  * | :310 schema:creditText | ie scalar | ieScalars |
  * | :311 ebucore:synopsis | ie scalar | ieScalars ebucore_synopsis |
  * | :313 copyrightHolder prefLabel\|name | `\|`-alt | 2 BranchSpecs, one table |
  * | :328 roles: ie→role node (a Role, roleName) →creator\|contributor\|publisher→ thing (a Thing, name) | child tables | roleCore/roleRows + thingRows |
  * | :346 isPartOf + collection VALUES-type + name + season/parent | child tables | collLinks + collectionRows |
  * | :368 rel:isr ?crep (a CarrierRepresentation) storedAt ?pc (a PhysicalCarrier): nl name + thesauri nl medium MANDATORY | child table | crepLink/carrierRows |
  * | :392 captioning EXISTS | bool bind | existsFlag in carrierRows |
  * | :398 bf:productionMethod (crep, thesauri) | carrier col | crepMethod |
  * | :405 pc schema:identifier | carrier col | carrierRows |
  * | :409 ^eror:sou digitization date | `^`-path | digitizedAt |
  * | :416 height value+unit | quantity node | quantity(HeightProp) |
  * | :423 width value+unit | quantity node | quantity(WidthProp) |
  * | :430 materialExtent / :433 material | carrier cols | carrierRows (fused pcScalars pass) |
  * | :437 reel VALUES type + nl rdfs:label → car_type | carrier col | carType |
  * | :446 coloringType (thesauri, OPTIONAL inside reel arm) | side table | coloringRows (reel-gated) |
  * | :459 digital/fragment rep + nl name | child table | rep (premis_represents) |
  * | :465 fragment start/end/isMediaFragmentOf | rep cols | repScalars |
  * | :476 rep inLanguage/hsr/hss/nextInSeq/caption/transcript | rep cols | repScalars |
  * | :484 file name/originalName/storedAt/value/mime VALUES | child table | files |
  * | :497 peak files (json + contains "peak") | cfg rule | includePeaks filter |
  * | :513 file nextInSeq/thumbnailUrl/duration | file cols | fileScalars + fileDur |
  * | :519 includes keys | link table | includesRows |
  * Newspaper-only scalars (issueNumber, position, bibframe edition)
  * are ieScalars rows too — unbound in av-* families, exactly like the
  * SPARQL leaves them unbound.
  */
object EntityPipeline {

  object Vocab {
    val SchemaNs = "https://schema.org/"
    val Identifier = SchemaNs + "identifier"
    val Name = SchemaNs + "name"
    val Description = SchemaNs + "description"
    val Maintainer = SchemaNs + "maintainer"
    val Modified = SchemaNs + "dateModified"
    val License = SchemaNs + "license"
    val Keywords = SchemaNs + "keywords"
    val Genre = SchemaNs + "genre"
    val InLanguage = SchemaNs + "inLanguage"
    val Abstract = SchemaNs + "abstract"
    val AlternateName = SchemaNs + "alternateName"
    val DateCreated = SchemaNs + "dateCreated"
    val DatePublished = SchemaNs + "datePublished"
    val Spatial = SchemaNs + "spatial"
    val Temporal = SchemaNs + "temporal"
    val CopyrightNotice = SchemaNs + "copyrightNotice"
    val CopyrightHolder = SchemaNs + "copyrightHolder"
    val PrefLabel = "http://www.w3.org/2004/02/skos/core#prefLabel"
    val Available = "http://purl.org/dc/terms/available"
    val IsPartOfRel = "https://data.hetarchief.be/ns/object/isPartOf"
    val HasCaptioning = "http://www.ebu.ch/metadata/ontologies/ebucore/ebucore#hasCaptioning"
    val OpenCaptions = "http://www.ebu.ch/metadata/ontologies/ebucore/ebucore#OpenCaptions"
    val Duration = SchemaNs + "duration"
    val Creator = SchemaNs + "creator"
    val Contributor = SchemaNs + "contributor"
    val Publisher = SchemaNs + "publisher"
    // role/thing node types (av-audio.sparql:336-339: ?role a
    // schema:Role, ?thing a schema:Thing — both mandatory)
    val SchemaRole = SchemaNs + "Role"
    val SchemaThing = SchemaNs + "Thing"
    // IE scalar families added by the av-audio.sparql:231-520 audit
    val HaDesNs = "https://data.hetarchief.be/ns/description/"
    val MinDateCreated = HaDesNs + "minDateCreated"
    val MaxDateCreated = HaDesNs + "maxDateCreated"
    val MinDatePublished = HaDesNs + "minDatePublished"
    val MaxDatePublished = HaDesNs + "maxDatePublished"
    val EbucoreNs = "http://www.ebu.ch/metadata/ontologies/ebucore/ebucore#"
    val HasObjectType = EbucoreNs + "hasObjectType"
    val HasCastMember = EbucoreNs + "hasCastMember"
    val Synopsis = EbucoreNs + "synopsis"
    val CopyrightYear = SchemaNs + "copyrightYear"
    val CreditText = SchemaNs + "creditText"
    val DctRights = "http://purl.org/dc/terms/rights"
    // newspaper-family scalars (newspaper.sparql; unbound in av-*)
    val IssueNumber = SchemaNs + "issueNumber"
    val Position = SchemaNs + "position"
    val BfEdition = "http://id.loc.gov/ontologies/bibframe/edition"
    // collection family (av-audio.sparql:341-362)
    val IsPartOf = SchemaNs + "isPartOf"
    val SeasonNumber = SchemaNs + "seasonNumber"
    val CollectionTypes: Seq[String] = Seq("Episode", "ArchiveComponent",
      "CreativeWorkSeries", "CreativeWorkSeason", "BroadcastEvent").map(SchemaNs + _)
    // carrier family (av-audio.sparql:364-453)
    val RelNs = "http://id.loc.gov/vocabulary/preservation/relationshipSubType/"
    val Isr = RelNs + "isr"
    // required node types (av-audio.sparql:379-384: ?crep a
    // haObj:CarrierRepresentation, ?pc a haObj:PhysicalCarrier)
    val HaObjNs = "https://data.hetarchief.be/ns/object/"
    val CarrierRepresentation = HaObjNs + "CarrierRepresentation"
    val PhysicalCarrier = HaObjNs + "PhysicalCarrier"
    // reel-type VALUES arm (av-audio.sparql:437-453): the carrier's
    // car_type is the nl rdfs:label of its ImageReel/AudioReel type row
    val ImageReel = HaDesNs + "ImageReel"
    val AudioReel = HaDesNs + "AudioReel"
    val RdfsLabel = "http://www.w3.org/2000/01/rdf-schema#label"
    val StoredAt = "http://www.loc.gov/premis/rdf/v3/storedAt"
    val Medium = "http://www.loc.gov/premis/rdf/v3/medium"
    val ProductionMethod = "http://id.loc.gov/ontologies/bibframe/productionMethod"
    val HeightProp = SchemaNs + "height"
    val WidthProp = SchemaNs + "width"
    val ValueProp = SchemaNs + "value"
    val UnitText = SchemaNs + "unitText"
    val Material = SchemaNs + "material"
    val MaterialExtent = SchemaNs + "materialExtent"
    val ColoringType = HaDesNs + "coloringType"
    val ErorSou = "http://id.loc.gov/vocabulary/preservation/eventRelatedObjectRole/sou"
    val StartedAtTime = "http://www.w3.org/ns/prov#startedAtTime"
    val DigitizationType = "https://data.hetarchief.be/id/event-type/digitization"
    // representation extras (av-audio.sparql:457-482) + file extras (:483-520)
    val RoleName = SchemaNs + "roleName"
    val StartTime = SchemaNs + "startTime"
    val EndTime = SchemaNs + "endTime"
    val IsMediaFragmentOf = EbucoreNs + "isMediaFragmentOf"
    val Caption = SchemaNs + "caption"
    val Transcript = SchemaNs + "transcript"
    val Hsr = RelNs + "hsr"
    val Hss = RelNs + "hss"
    val NextInSequence = "http://www.europeana.eu/schemas/edm/isNextInSequence"
    val ThumbnailUrl = SchemaNs + "thumbnailUrl"
    val RdfValue = "http://www.w3.org/1999/02/22-rdf-syntax-ns#value"
    val DctFormat = "http://purl.org/dc/terms/format"
    val PremisId = "http://www.loc.gov/premis/rdf/v3/identifier"
    val FragmentPid = "https://data.hetarchief.be/ns/mh/fragmentPid"
    val DerivedFrom = "http://www.w3.org/ns/prov#wasDerivedFrom"
    val Represents = "http://www.loc.gov/premis/rdf/v3/represents"
    val Includes = "http://www.ebu.ch/metadata/ontologies/ebucore/ebucore#includes"
    val MimeType = "http://www.ebu.ch/metadata/ontologies/ebucore/ebucore#hasMimeType"
    val OriginalName = "http://www.loc.gov/premis/rdf/v3/originalName"
  }
  import Vocab._

  /** One UNION branch: an attribute family feeding one child table
    * column (av-audio.sparql:53-91 CONSTRUCT blocks). `langFilter`
    * models the nl-only literal branches (av-audio.sparql:235,277-283);
    * `via` models a `/`-sequence path through a mid node
    * (av-audio.sparql:253 `schema:spatial/schema:name`,
    * :311-324 copyright holder → prefLabel|name — the `|` alternative is
    * two BranchSpec rows targeting the same table, which the per-table
    * union machinery merges exactly like the SPARQL `{} UNION`). */
  final case class BranchSpec(table: String, pred: String, valueCol: String,
                              langFilter: Option[String] = None,
                              via: Option[String] = None)

  /** The four reference queries as configs (entity-type VALUES
    * av-audio.sparql:193, MIME VALUES :491, peaks :504,
    * license NULL rule :222-227 vs newspaper.sparql:212). */
  final case class Config(
      entityTypes: Seq[String],
      mimeTypes: Seq[String],
      includePeaks: Boolean,
      nullLicenses: Seq[String]) // licenses BIND'd to NULL for this family

  val avAudio = Config(
    Seq(SchemaNs + "AudioObject"),
    Seq("audio/mpeg", "audio/wav", "application/json"), // peaks are json
    includePeaks = true,
    nullLicenses = Seq("VIAA-PUBLIEK-CONTENT", "Publiek-Domein"))
  val avVideo = avAudio.copy(
    entityTypes = Seq(SchemaNs + "VideoObject", SchemaNs + "MediaObject"),
    mimeTypes = Seq("video/mp4"), includePeaks = false)
  val avComplex = avAudio.copy(
    entityTypes = Seq(SchemaNs + "MediaObject", SchemaNs + "CreativeWork"),
    mimeTypes = Seq("video/mp4", "audio/mpeg", "application/json"),
    includePeaks = true)
  val newspaper = Config(
    Seq(SchemaNs + "Newspaper"),
    Seq("image/jpeg", "application/xml"),
    includePeaks = false,
    nullLicenses = Nil) // newspapers keep the public licenses

  /** The child-table branches — the reference's UNION attribute
    * families (av-audio.sparql:231-324), data-driven: plain literals,
    * nl-filtered literals, `/`-paths through mid nodes, and the
    * copyright-holder prefLabel|name alternative as two rows on one
    * table. */
  private val branches: Seq[BranchSpec] = Seq(
    BranchSpec("graph.schema_keywords", Keywords, "schema_keywords"),
    BranchSpec("graph.schema_genre", Genre, "schema_genre"),
    BranchSpec("graph.schema_in_language", InLanguage, "schema_in_language"),
    BranchSpec("graph.dcterms_format", DctFormat, "dcterms_format"),
    // nl-only literal branches (av-audio.sparql:233-236,277-283)
    BranchSpec("graph.schema_alternate_name", AlternateName,
      "schema_alternate_name", langFilter = Some("nl")),
    // sequence-path branch (av-audio.sparql:253 spatial/name)
    BranchSpec("graph.schema_spatial", SchemaNs + "name", "schema_spatial",
      via = Some(Spatial)),
    BranchSpec("graph.schema_temporal", Temporal, "schema_temporal"),
    // copyright holder: prefLabel | name through the holder node
    // (av-audio.sparql:311-324) — two rows, one table, unioned
    BranchSpec("graph.schema_copyright_holder", PrefLabel,
      "schema_copyright_holder", via = Some(CopyrightHolder)),
    BranchSpec("graph.schema_copyright_holder", SchemaNs + "name",
      "schema_copyright_holder", via = Some(CopyrightHolder)))

  import Patterns._

  def apply(quadsIn: DataFrame, cfg: Config,
            params: ViewParams = ViewParams()): Map[String, DataFrame] = {
    // ~12 derived frames slice this input; persist once, not recompute 12×.
    val quads = Patterns.ensurePersisted(quadsIn)

    // Base match: typed entity + allowed license + incremental cutoff
    // (av-audio.sparql:193-220) — ONE aggregation pass: all three
    // conditions are bool_or flags over one predicate-pruned scan +
    // one groupBy(subject) shuffle, instead of two distincts plus two
    // semi-joins (4 shuffle stages) of the unfused form.
    val isTyped = col("predicate") === graft.model.Ns.RdfType &&
      col("obj").isin(cfg.entityTypes: _*)
    val isLicensed = col("predicate") === License &&
      col("obj").isin(graft.delete.DeleteFlow.DefaultAllowedLicenses: _*)
    val sinceHit = params.since match {
      case None         => lit(true)
      case Some(cutoff) => col("predicate") === Modified && col("obj") >= lit(cutoff)
    }
    val scanFilter =
      if (params.since.isDefined)
        isTyped || isLicensed || (col("predicate") === Modified)
      else isTyped || isLicensed
    // NOT materialized, although ~12 consumers semi-join against it:
    // measured at sf0.1, an eager localCheckpoint here ADDS a blocking
    // job per invocation (median 3.5 s → 5.1 s) — the recomputed base
    // aggregations all run inside one job and overlap, while a
    // checkpoint serializes them behind a barrier. The quad input
    // checkpoint above already bounds the recompute cost.
    // The explicit isNotNull matters: semi-join consumers push
    // IsNotNull(subject) into THEIR copy of this subtree while the
    // left-outer consumer does not, and the differing filters break
    // canonical-plan matching — so ReuseExchange cannot share the base
    // aggregation and every consumer re-runs it. With the filter stated
    // here, all consumers see the identical subtree and the shuffle is
    // computed once (subjects are never null, so semantics are
    // unchanged).
    val base = quads
      .filter(scanFilter && col("subject").isNotNull)
      .groupBy(col("subject"))
      .agg(bool_or(isTyped).as("__t"), bool_or(isLicensed).as("__l"),
        bool_or(sinceHit).as("__m"))
      .filter(col("__t") && col("__l") && col("__m"))
      .select(col("subject").as("s"))

    // Entity-row scalar OPTIONALs (av-audio.sparql:221-300 + the
    // single-scalar UNION arms :303-311): plain single-value binds,
    // nl-filtered literals (description/abstract, :277-283), dates and
    // their haDes min/max companions (:263-274), availability,
    // copyright year/notice, credit text, rights, cast member, object
    // type, synopsis, is-part-of, and the newspaper-family scalars
    // (issue number, position, edition — unbound in av-*) — each an
    // aggregate-to-one left join, so the base row never fans out.
    val ieScalars: Seq[(String, String, Option[String])] = Seq(
      (Identifier, "schema_identifier", None),
      (Name, "schema_name", None),
      (Description, "schema_description", Some("nl")),
      (Maintainer, "schema_maintainer", None),
      (Abstract, "schema_abstract", Some("nl")),
      (DateCreated, "schema_date_created", None),
      (MinDateCreated, "ha_des_min_date_created", None),
      (MaxDateCreated, "ha_des_max_date_created", None),
      (DatePublished, "schema_date_published", None),
      (MinDatePublished, "ha_des_min_date_published", None),
      (MaxDatePublished, "ha_des_max_date_published", None),
      (Available, "dcterms_available", None),
      (DctRights, "dcterms_rights", None),
      (HasObjectType, "ebucore_has_object_type", None),
      (HasCastMember, "ebucore_has_cast_member", None),
      (Synopsis, "ebucore_synopsis", None),
      (CopyrightYear, "schema_copyright_year", None),
      (CopyrightNotice, "schema_copyright_notice", None),
      (CreditText, "schema_credit_text", None),
      (IssueNumber, "schema_issue_number", None),
      (Position, "schema_position", None),
      (BfEdition, "bibframe_edition", None),
      (IsPartOfRel, "relation_is_part_of", None))
    // ONE conditional-agg pass for all scalar OPTIONALs (10 predicates
    // → 1 shuffle + 1 join, not 10 of each — see Patterns.optionalSingles).
    // The EXISTS captioning bind (av-audio.sparql:392-394
    // `BIND(EXISTS { ?pc ebucore:hasCaptioning/rdf:type
    // ebucore:OpenCaptions } AS …)`).
    val ie = base.join(optionalSingles(quads, ieScalars), Seq("s"), "left")
      .join(existsFlag(quads, HasCaptioning, graft.model.Ns.RdfType, OpenCaptions,
        "has_open_captions"), Seq("s"), "left")
      .select((col("s").as("id") +: ieScalars.map { case (_, c, _) => col(c) }) :+
        coalesce(col("has_open_captions"), lit(false)).as("has_open_captions"): _*)

    // License child rows with the family's NULL rule: excluded licenses
    // produce a row with a NULL value (BIND(?unbound) — :222-227), they
    // do not drop the row.
    val licenseRows = po(quads, License, "schema_license")
      .join(base, Seq("s"), "left_semi")
      .select(col("s").as("intellectual_entity_id"),
        when(col("schema_license").isin(cfg.nullLicenses: _*), lit(null))
          .otherwise(col("schema_license")).as("schema_license"))

    // premis identifiers with type classification (nested IF,
    // av-audio.sparql:286-297): primary ↔ the MediaHaven PID predicate.
    val premisRows = po(quads, PremisId, "value")
      .join(base, Seq("s"), "left_semi")
      .select(col("s").as("intellectual_entity_id"),
        F.iriLocalName(col("value")).as("type_raw"), col("value"))
      .select(col("intellectual_entity_id"),
        when(col("value").startsWith("urn:primary:"), "primary")
          .otherwise(col("type_raw")).as("type"),
        col("value"))
    val fragmentRows = po(quads, FragmentPid, "mh_fragment_identifier")
      .join(base, Seq("s"), "left_semi")
      .select(col("s").as("intellectual_entity_id"),
        col("mh_fragment_identifier"), lit(false).as("is_deleted"))

    // Roles & things (av-audio.sparql:328-343) — the TWO-node structure:
    // `?ie ?role_pred ?role . ?role a schema:Role ; schema:roleName ?n ;
    // schema:creator|contributor|publisher ?thing . ?thing a
    // schema:Thing ; schema:name ?tn` — every pattern MANDATORY, the row
    // id is the role NODE itself (CONSTRUCT `:id ?role`, :93-98), the
    // roleName lives on the role node, and the thing hangs one hop
    // further. role_type classifies the ie→role predicate with the
    // reference's "unknown" fallback (nested IF, :330-334).
    // Multi-valued roleName/thing-name aggregate to a deterministic
    // single value (lexicographic min) so one link stays one row.
    val rolePreds = Seq(Creator, Contributor, Publisher)
    // typedWithSingles fuses the type flag (set-semantics dedup of a
    // melted feed's repeated type rows — these feed INNER joins, so a
    // duplicate would multiply downstream rows) with the name pick: one
    // shuffle instead of distinct + aggregate + join. The isNotNull
    // filter is the unfused form's inner join: the name/roleName are
    // MANDATORY patterns (:337,:339).
    val thingNamed = typedWithSingles(quads, SchemaThing,
      Seq((SchemaNs + "name", "schema_name", None)))
      .filter(col("schema_name").isNotNull)
    // One row per well-formed role node: typed, named, linked to a
    // typed+named thing. This side is tiny relative to the quad corpus
    // (only role nodes survive the type semi-join), so the any-predicate
    // join below broadcasts it rather than shuffling the big slice.
    val roleCore = typedWithSingles(quads, SchemaRole,
      Seq((RoleName, "schema_role_name", None)))
      .filter(col("schema_role_name").isNotNull)
      .join(quads.filter(col("predicate").isin(rolePreds: _*))
        .select(col("subject").as("s"), col("obj").as("thing_id")).distinct(),
        Seq("s")) // role → thing via creator|contributor|publisher (:338)
      .join(thingNamed.select(col("s").as("thing_id")), Seq("thing_id"),
        "left_semi") // thing must be typed schema:Thing with a name
      .select(col("s").as("role"), col("schema_role_name"), col("thing_id"))
    // The `?ie ?role_pred ?role` pattern has an UNBOUND predicate — the
    // only slice of the pipeline that cannot predicate-prune, so joined
    // unhinted it shuffles the ENTIRE quad input on obj (measured 118 MB
    // at sf0.1, the single biggest exchange in the plan). The broadcast
    // hint makes it a map-side filter: role nodes are a metadata sliver
    // of any real corpus (each carries its mandatory type+roleName rows,
    // already aggregated to one row here), the same boundedness argument
    // as the thesauri label sides. The base semi-join then runs on the
    // surviving links only.
    val roleRows = quads
      .select(col("subject").as("s"), col("predicate").as("role_pred"),
        col("obj").as("role"))
      .join(broadcast(roleCore), Seq("role"))
      .join(base, Seq("s"), "left_semi")
      .select(col("role").as("id"),
        when(col("role_pred") === Creator, "schema_creator")
          .when(col("role_pred") === Contributor, "schema_contributor")
          .when(col("role_pred") === Publisher, "schema_publisher")
          .otherwise("unknown").as("type"),
        col("s").as("intellectual_entity_id"),
        col("schema_role_name"), col("thing_id"))

    // Things referenced by roles: one row per distinct role target
    // (CONSTRUCT `?thing :id ?thing; :schema_name ?thing_schema_name`).
    val thingRows = roleRows.select(col("thing_id").as("s")).distinct()
      .join(thingNamed, Seq("s"))
      .select(col("s").as("id"), col("schema_name"))

    // Collection family (av-audio.sparql:341-362): ?ie schema:isPartOf
    // ?collection with the VALUES-typed classification (episode /
    // archive / series / season / program), the collection's name and
    // optional season number / parent — emitted as graph.collection
    // (one row per collection) + graph.schema_is_part_of (the ie ↔
    // collection link carrying the type name).
    val collLinks = po(quads, IsPartOf, "collection_id")
      .join(base, Seq("s"), "left_semi")
      // distinct: RDF quads are a SET, but a melted feed may repeat the
      // same type statement (one per source row naming the collection) —
      // without dedup the link join would multiply rows per repeat
      .join(quads.filter(col("predicate") === graft.model.Ns.RdfType)
        .select(col("subject").as("collection_id"), col("obj").as("coll_type"))
        .distinct(),
        Seq("collection_id"))
      .filter(col("coll_type").isin(CollectionTypes: _*))
      .select(col("s").as("intellectual_entity_id"),
        CollectionPipeline.collectionType(col("coll_type")).as("type"),
        col("collection_id"))
    // the three collection scalars share ONE conditional-agg pass
    // (the ieScalars fusion): 1 shuffle + 1 join instead of 3 of each
    val collectionRows = collLinks.select(col("collection_id").as("s"),
        col("type")).distinct()
      .join(optionalSingles(quads, Seq(
        (SchemaNs + "name", "schema_name", None),
        (SeasonNumber, "schema_season_number", None),
        (IsPartOf, "schema_is_part_of", None))), Seq("s"), "left")
      .select(col("s").as("id"), col("type").as("collection_type"),
        col("schema_name"), col("schema_season_number"),
        col("schema_is_part_of"))

    // Carrier family (av-audio.sparql:364-453): ?ie rel:isr ?crep
    // premis:storedAt ?pc — the physical carrier with nl name, medium
    // via the thesauri prefLabel hop, the captioning EXISTS flag, and
    // the optional attribute arms (production method via the crep node,
    // identifier, material, material extent, height/width value+unit
    // concat, digitization date via the inverse eror:sou event hop).
    // The reel-type + coloring arm (:438-453) feeds the side table.
    // two-hop scalar keyed by the START node, aggregated to one row:
    // ?x <p1> ?mid . ?mid <p2> ?v  (nl-preferred pick). The second hop
    // is aggregated BEFORE the join: thesauri-style mid nodes (media,
    // production methods, coloring types) are shared by MANY subjects
    // and a melted feed repeats their label quad per referring row, so
    // joining the raw slices fans out |links per mid| × |labels per
    // mid| — measured as a 3-partition billion-row spilling sort at
    // sf0.1. Aggregated first, the label side is one row per mid and
    // the join is linear in the links.
    def hop2(p1: String, p2: String, as: String): DataFrame = {
      val labels = po(quads, p2, as).groupBy(col("s"))
        .agg(F.langPreferredFirst(col(as), col(s"${as}_lang")).as(as))
        .select(col("s").as("mid"), col(as))
      po(quads, p1, "mid").select(col("s"), col("mid"))
        .join(labels, Seq("mid"))
        .groupBy(col("s")).agg(min(col(as)).as(as))
    }
    // The three thesauri hops (medium, production method, coloring
    // type) resolve their mid nodes through the SAME label pattern —
    // nl-filtered skos:prefLabel aggregated per node. One shared frame
    // keeps the three label-aggregation subtrees canonical-identical
    // (single column, so per-consumer pruning cannot specialize them
    // apart), letting exchange reuse compute the aggregation once.
    // NOTE a wider cross-consumer fusion of the scalar OPTIONALs was
    // tried and measured AGAINST here: with per-consumer column sets,
    // Catalyst's pruning splits a shared multi-consumer aggregate back
    // into per-consumer copies — each then filtering the UNION
    // predicate slice (strictly more input than its own slice), and
    // forcing it with a persist barrier serializes the DAG (families
    // 20→23 s). Per-consumer fused passes + this single-column shared
    // frame are the right grain.
    val nlPrefLabels = po(quads, PrefLabel, "label")
      .filter(col("label_lang").startsWith("nl"))
      .groupBy(col("s"))
      .agg(F.langPreferredFirst(col("label"), col("label_lang")).as("label"))
      .select(col("s").as("mid"), col("label"))
    def thesauriHop(p1: String, as: String): DataFrame =
      po(quads, p1, "mid").select(col("s"), col("mid"))
        .join(nlPrefLabels, Seq("mid"))
        .groupBy(col("s")).agg(min(col("label")).as(as))
    // quantity nodes: ?x <prop> ?q . ?q schema:value ?v ; schema:unitText
    // ?u → concat(v, ' ', u) (av-audio.sparql:416-427) — BOTH props
    // (height, width) in one pass: one multi-predicate slice, one
    // mid-node join pair, one conditional-agg shuffle instead of two of
    // each (the same fusion optionalSingles does for plain scalars).
    def quantities(props: Seq[(String, String)]): DataFrame = {
      val node = quads.filter(col("predicate").isin(props.map(_._1): _*))
        .select(col("subject").as("s"), col("predicate").as("prop"),
          col("obj").as("node"))
      val v = po(quads, ValueProp, "v").select(col("s").as("node"), col("v"))
      val u = po(quads, UnitText, "u").select(col("s").as("node"), col("u"))
      val aggs = props.map { case (prop, as) =>
        min(when(col("prop") === prop, concat(col("v"), lit(" "), col("u"))))
          .as(as)
      }
      node.join(v, Seq("node")).join(u, Seq("node"))
        .groupBy(col("s")).agg(aggs.head, aggs.tail: _*)
    }
    def byPc(df: DataFrame): DataFrame = df.withColumnRenamed("s", "pc")

    // ?ie rel:isr ?crep (a haObj:CarrierRepresentation) premis:storedAt
    // ?pc (a haObj:PhysicalCarrier) — both type rows REQUIRED
    // (av-audio.sparql:379-384); kept as (ie, crep, pc) so the
    // production-method arm reuses the typed link instead of re-deriving
    // it.
    val crepLink = po(quads, Isr, "crep").select(col("s"), col("crep"))
      .join(base, Seq("s"), "left_semi")
      .join(typed(quads, CarrierRepresentation).select(col("s").as("crep")),
        Seq("crep"), "left_semi")
      .join(po(quads, StoredAt, "pc").select(col("s").as("crep"), col("pc")),
        Seq("crep"))
      .join(typed(quads, PhysicalCarrier).select(col("s").as("pc")),
        Seq("pc"), "left_semi")
    val carrierLink = crepLink
      .select(col("s").as("intellectual_entity_id"), col("pc"))
    // production method hangs off the carrier REPRESENTATION node, not
    // the physical carrier (av-audio.sparql:398-403)
    val crepMethod = crepLink.select(col("crep"), col("pc"))
      .join(thesauriHop(ProductionMethod, "bibframe_production_method")
        .select(col("s").as("crep"), col("bibframe_production_method")),
        Seq("crep"))
      .groupBy(col("pc"))
      .agg(min(col("bibframe_production_method")).as("bibframe_production_method"))
    // ?pc ^eror:sou ?event . ?event a digitization ; prov:startedAtTime
    val digitizedAt = invPath(quads, ErorSou, "event")
      .join(typed(quads, DigitizationType).select(col("s").as("event")), Seq("event"))
      .join(po(quads, StartedAtTime, "digitization_date")
        .select(col("s").as("event"), col("digitization_date")), Seq("event"))
      .groupBy(col("s")).agg(min(col("digitization_date")).as("digitization_date"))
    // reel-type VALUES arm (av-audio.sparql:437-453): ?pc a ?type_res
    // VALUES { ImageReel AudioReel }, car_type = the type row's nl
    // rdfs:label — an optional carrier column, and the gate the coloring
    // side table sits behind.
    val reelTyped = quads.filter(col("predicate") === graft.model.Ns.RdfType &&
        col("obj").isin(ImageReel, AudioReel))
      .select(col("subject").as("pc"), col("obj").as("type_res")).distinct()
    val reelLabels = po(quads, RdfsLabel, "car_type")
      .filter(col("car_type_lang").startsWith("nl"))
      .groupBy(col("s")).agg(min(col("car_type")).as("car_type"))
      .select(col("s").as("type_res"), col("car_type"))
    val carType = reelTyped.join(reelLabels, Seq("type_res"))
      .groupBy(col("pc")).agg(min(col("car_type")).as("car_type"))
    // The four single-predicate scalars share ONE conditional-agg pass
    // (the ieScalars fusion): 1 shuffle + 1 join instead of 4 of each.
    // The join is INNER and nl name is then required — `?pc schema:name
    // ?n ; premis:medium ?m` with the nl lang filter are mandatory
    // patterns (:383-390): a carrier without both produces NO row.
    val pcScalars: Seq[(String, String, Option[String])] = Seq(
      (SchemaNs + "name", "schema_name", Some("nl")),
      (Identifier, "schema_identifier", None),
      (Material, "schema_material", None),
      (MaterialExtent, "schema_material_extent", None))
    val carrierRows = carrierLink
      .join(byPc(optionalSingles(quads, pcScalars)), Seq("pc"))
      .filter(col("schema_name").isNotNull)
      .join(byPc(thesauriHop(Medium, "premis_medium")),
        Seq("pc")) // inner: medium mandatory
      .join(byPc(existsFlag(quads, HasCaptioning, graft.model.Ns.RdfType,
        OpenCaptions, "ebucore_has_captioning")), Seq("pc"), "left")
      .join(crepMethod, Seq("pc"), "left")
      .join(byPc(quantities(Seq(HeightProp -> "schema_height",
        WidthProp -> "schema_width"))), Seq("pc"), "left")
      .join(byPc(digitizedAt), Seq("pc"), "left")
      .join(carType, Seq("pc"), "left")
      .select(col("pc").as("id"), col("intellectual_entity_id"),
        col("schema_name"), col("premis_medium"),
        coalesce(col("ebucore_has_captioning"), lit(false))
          .as("ebucore_has_captioning"),
        col("bibframe_production_method"), col("schema_identifier"),
        col("schema_material"), col("schema_material_extent"),
        col("schema_height"), col("schema_width"),
        col("digitization_date"), col("car_type"))
    // coloring rows exist only inside the matched reel arm: the pc must
    // carry a LABELED reel type (the OPTIONAL coloring block is nested
    // in that UNION arm, :446-453).
    val coloringRows = carrierLink.select(col("pc")).distinct()
      .join(carType.select(col("pc")), Seq("pc"), "left_semi")
      .join(byPc(thesauriHop(ColoringType, "ha_des_coloring_type")), Seq("pc"))
      .select(col("pc").as("carrier_id"), col("ha_des_coloring_type"))

    // Representation → file navigation (object→subject joins,
    // av-audio.sparql:194-204,483-492) with the MIME VALUES and the
    // family's peak-file rule (:491,504). The rep node's optional
    // scalars (:457-482: nl name, language, root/source relations,
    // sequence link, caption, transcript, and the fragment-rep
    // start/end/is-media-fragment-of triple) ride along from ONE
    // conditional-agg pass, same as the ie scalars.
    val repScalars: Seq[(String, String, Option[String])] = Seq(
      (SchemaNs + "name", "schema_name", Some("nl")),
      (InLanguage, "schema_in_language", None),
      (Hsr, "relation_has_root", None),
      (Hss, "relation_has_source", None),
      (NextInSequence, "edm_is_next_in_sequence", None),
      (Caption, "schema_caption", None),
      (Transcript, "schema_transcript", None),
      (IsMediaFragmentOf, "is_media_fragment_of", None),
      (StartTime, "schema_start_time", None),
      (EndTime, "schema_end_time", None))
    val rep = po(quads, Represents, "ie")
      .join(base.select(col("s").as("ie")), Seq("ie"), "left_semi")
      .join(optionalSingles(quads, repScalars), Seq("s"), "left")
      .select((col("s").as("id") +: col("ie").as("premis_represents") +:
        repScalars.map { case (_, c, _) => col(c) }): _*)
    val fileMime = po(quads, MimeType, "ebucore_has_mime_type")
      .filter(col("ebucore_has_mime_type").isin(cfg.mimeTypes: _*))
    // file extras (av-audio.sparql:483-520): original name, duration,
    // nl display name, thumbnail url, sequence link — ALL the file's
    // single-predicate scalars in one conditional-agg pass (the
    // storedAt → rdf:value two-hop stays separate: it joins through a
    // mid node).
    val fileScalars: Seq[(String, String, Option[String])] = Seq(
      (OriginalName, "premis_original_name", None),
      (Duration, "dur_raw", None),
      (SchemaNs + "name", "schema_name", Some("nl")),
      (ThumbnailUrl, "schema_thumbnail_url", None),
      (NextInSequence, "edm_is_next_in_sequence", None))
    val files = fileMime
      .join(optionalSingles(quads, fileScalars), Seq("s"), "left")
      .join(hop2(StoredAt, RdfValue, "premis_stored_at"), Seq("s"), "left")
      .filter(
        if (cfg.includePeaks) lit(true)
        else !coalesce(col("premis_original_name"), lit("")).contains("peak"))
      .select(col("s").as("id"), col("ebucore_has_mime_type"),
        col("premis_original_name"),
        graft.functions.IsoDurationSecondsExpr(col("dur_raw")).as("schema_duration"),
        col("schema_name"), col("schema_thumbnail_url"),
        col("edm_is_next_in_sequence"), col("premis_stored_at"))
    val includesRows = po(quads, Includes, "file_id")
      .join(rep.select(col("id").as("s")), Seq("s"), "left_semi")
      .join(files.select(col("id").as("file_id")), Seq("file_id"), "left_semi")
      .select(col("s").as("representation_id"), col("file_id"))

    // Plan-shape note (round-12 A/B, BENCH_NOTES): fusing these specs
    // into one shared multi-predicate slice + semi-join behind persist
    // barriers (the optionalSingles pattern applied to branch TABLES)
    // narrowed the q_entity_pipeline plan 226→88 nodes but REGRESSED
    // the 90× default-harness run 30.4→47.9 s: the fused frames'
    // materialization jobs serialize the DAG and defeat ReuseExchange
    // on the shared base side, while the per-branch arms below run
    // concurrently inside ONE plan (local[32] saturates; on a cluster
    // the inter-branch parallelism is the desired shape). Keep the
    // per-branch form; fuse only single-valued scalar families
    // (optionalSingles), where one groupBy genuinely replaces N.
    // Generic UNION branches, grouped per target table: plain predicate
    // slices, `/`-paths (via), and lang-filtered literals. Branches
    // sharing a table union — exactly the SPARQL's `{} UNION` arms.
    val branchTables: Map[String, DataFrame] = branches.groupBy(_.table).map {
      case (table, specs) =>
        table -> specs.map { b =>
          val rows = b.via match {
            case Some(mid) => seqPath(quads, mid, b.pred, b.valueCol)
            case None      => po(quads, b.pred, b.valueCol)
          }
          val filtered = b.langFilter match {
            case Some(lang) => rows.filter(col(s"${b.valueCol}_lang").startsWith(lang))
            case None       => rows
          }
          filtered.join(base, Seq("s"), "left_semi")
            .select(col("s").as("intellectual_entity_id"), col(b.valueCol))
        }.reduce(_ unionByName _)
    }

    Map(
      "graph.intellectual_entity" -> ie,
      "graph.schema_license" -> licenseRows,
      "graph.premis_identifier" -> premisRows,
      "graph.mh_fragment_identifier" -> fragmentRows,
      "graph.schema_role" -> roleRows,
      "graph.thing" -> thingRows,
      "graph.collection" -> collectionRows,
      "graph.schema_is_part_of" -> collLinks,
      "graph.carrier" -> carrierRows,
      "graph.ha_des_coloring_type" -> coloringRows,
      "graph.representation" -> rep,
      "graph.file" -> files,
      "graph.includes" -> includesRows
    ) ++ branchTables
  }
}
