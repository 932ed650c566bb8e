package graft.view

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Functions => F}

/** Construct-pipeline parameters threaded through every view query
  * (reference: typescript/src/1_kg_view_construct.ts:33,47-64 —
  * `since` and `or_ids` saved-query variables; incremental cutoff
  * av-audio.sparql:220). The reference's `prefix_id_base` is only read
  * by the delete flow, which takes it directly
  * ([[graft.delete.DeleteFlow.flagDeletes]]). */
final case class ViewParams(
    since: Option[String] = None,
    orIds: Seq[String] = Nil)

/** The organization construct pipeline — M0's vertical slice
  * (reference: typescript/queries/organization.sparql:59-127).
  *
  * Graph pattern (SPARQL → Spark):
  *   ?org a org:Organization ;                       (typed)
  *        skos:prefLabel ?label (langMatches "nl")   (po + lang filter)
  *        mh:identifier ?id FILTER strStarts "OR-"   (po + startsWith)
  *   OPTIONAL { description / homepage / sector / classification }
  *   OPTIONAL { ?org org:hasSite/org:siteAddress ?addr . ?addr … }
  *                                                   (seqPath, :106)
  *   OPTIONAL { ?org schema:contactPoint ?cp . ?cp … }
  *   BIND(REPLACE(str(?classification), last-path-segment regex, "$1"))
  *                                                   (:75,84 → iriLocalName)
  *
  * One CONSTRUCT query → N per-table DataFrames: the CONSTRUCT template
  * blocks (organization.sparql:13-52) become the select-lists of the
  * returned map. Vocabulary IRIs are the public W3C/FOAF/schema.org
  * namespaces the reference queries use.
  */
object OrganizationPipeline {

  object V {
    val OrgNs = "http://www.w3.org/ns/org#"
    val Organization = OrgNs + "Organization"
    val HasSite = OrgNs + "hasSite"
    val SiteAddress = OrgNs + "siteAddress"
    val Classification = OrgNs + "classification"
    val PrefLabel = "http://www.w3.org/2004/02/skos/core#prefLabel"
    val Description = "http://purl.org/dc/terms/description"
    val Homepage = "http://xmlns.com/foaf/0.1/homepage"
    val Identifier = "http://www.w3.org/ns/adms#identifier"
    val Sector = "https://data.hetarchief.be/ns/organization/sector"
    val ContactPoint = "https://schema.org/contactPoint"
    val Email = "https://schema.org/email"
    val Telephone = "https://schema.org/telephone"
    val ContactType = "https://schema.org/contactType"
    val StreetAddress = "https://schema.org/streetAddress"
    val AddressLocality = "https://schema.org/addressLocality"
    val PostalCode = "https://schema.org/postalCode"
    val AddressCountry = "https://schema.org/addressCountry"
  }

  import Patterns._

  /** Run the pipeline: source-KG quads → per-table DataFrames
    * (keys are the `graph.*` table names of FIXTURES.md §B). */
  def apply(quadsIn: DataFrame, params: ViewParams = ViewParams()): Map[String, DataFrame] = {
    // ~15 pattern slices read this input; persist once (Patterns scaladoc).
    val quads = ensurePersisted(quadsIn)
    // Base match: typed + required label (nl) + required OR- identifier.
    val orgs = typed(quads, V.Organization)

    val label = po(quads, V.PrefLabel, "skos_pref_label")
      // langMatches(lang(?l), "nl") — startsWith covers nl-BE etc.
      .filter(col("skos_pref_label_lang").startsWith("nl"))
      .groupBy(col("s"))
      .agg(F.langPreferredFirst(col("skos_pref_label"), col("skos_pref_label_lang"))
        .as("skos_pref_label"))

    val ident = po(quads, V.Identifier, "org_identifier")
      .filter(col("org_identifier").startsWith("OR-"))  // organization.sparql:66
      .groupBy(col("s")).agg(min(col("org_identifier")).as("org_identifier"))

    // or_ids scoping (SURVEY §2.10 #90): a filter, not a query fan-out.
    val scoped =
      if (params.orIds.isEmpty) ident
      else ident.filter(col("org_identifier").isin(params.orIds: _*))

    val base = orgs
      .join(label, "s")
      .join(scoped, "s")

    // OPTIONAL single-valued attributes — one conditional-agg pass
    // (1 shuffle + 1 join for all four, Patterns.optionalSingles).
    val withOptionals = base.join(
      optionalSingles(quads, Seq(
        (V.Description, "dcterms_description", None),
        (V.Homepage, "foaf_homepage", None),
        (V.Sector, "ha_org_sector", None),
        (V.Classification, "org_classification_iri", None))),
      Seq("s"), "left")

    val organization = withOptionals.select(
      col("s").as("id"),
      col("dcterms_description"),
      col("foaf_homepage"),
      col("ha_org_sector"),
      // BIND(REPLACE(str(?class), "^.*/([^/]*)$", "$1")) — organization.sparql:75,84
      F.iriLocalName(col("org_classification_iri")).as("org_classification"),
      col("org_identifier"),
      col("skos_pref_label"))

    // Postal address via path `/`: org:hasSite/org:siteAddress (:106).
    val addrOf = seqPath(quads, V.HasSite, V.SiteAddress, "addr")
      .join(orgs, "s")
      .select(col("s").as("organization_id"), col("addr").as("id"))
    val postalAddress = addrOf
      .join(optionalSingles(quads, Seq(
        (V.StreetAddress, "schema_street_address", None),
        (V.AddressLocality, "schema_address_locality", None),
        (V.PostalCode, "schema_postal_code", None),
        (V.AddressCountry, "schema_address_country", None)))
        .withColumnRenamed("s", "id"), Seq("id"), "left")
      .select(col("id"), col("organization_id"), col("schema_street_address"),
        col("schema_address_locality"), col("schema_postal_code"),
        col("schema_address_country"))

    val hasPostalAddress = addrOf
      .select(col("organization_id"), col("id").as("postal_address_id"))

    // Contact points (organization.sparql:31-36).
    val cpOf = po(quads, V.ContactPoint, "cp")
      .join(orgs, "s")
      .select(col("s").as("organization_id"), col("cp").as("id"))
    val contactPoint = cpOf
      .join(optionalSingles(quads, Seq(
        (V.ContactType, "schema_contact_type", None),
        (V.Email, "schema_email", None),
        (V.Telephone, "schema_telephone", None)))
        .withColumnRenamed("s", "id"), Seq("id"), "left")
      .select(col("id"), col("organization_id"), col("schema_contact_type"),
        col("schema_email"), col("schema_telephone"))

    Map(
      "graph.organization" -> organization,
      "graph.schema_postal_address" -> postalAddress,
      "graph.organization_has_postal_address" -> hasPostalAddress,
      "graph.schema_contact_point" -> contactPoint)
  }
}
