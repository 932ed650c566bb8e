package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{ColType, Ns, TableSpec}
import graft.pivot.SubjectPivot
import graft.view.Patterns

/** Quad-path operator family: subject pivot, triple-pattern match, and
  * property paths `/` `|` `^` (SURVEY.md §2.2 #10, §2.3 #21-23,
  * §2.4 #32) — exercised under the DuckDB oracle gate.
  *
  * The driver testdata has no quad tables, so each query first *melts*
  * relational rows into view-shaped quads (`urn:kg-to-postgres:` routing
  * + one quad per column, FIXTURES.md §A) with `Quads.frame` — a
  * codegen'd `explode(array(struct…))`, a narrow transformation, no
  * shuffle — and then runs the real engine operators on the quads. The oracle
  * states the expected result directly over the relational tables, so
  * the melt→match→pivot round-trip is what's being checked.
  */
object QuadBattery {

  import Quads.quad

  private val ns = Ns.KgToPostgres
  private val nl = Some("nl")

  private def ttlEscape(c: Column): Column =
    graft.functions.Functions.ntEscapeLiteral(c)

  /** Customer/orders/nation rows → one unified quad DataFrame.
    * Customer carries deliberate multi-value cases: an `nl`-tagged
    * uppercase name (must override, stream.ts:97-103) and a second
    * `zz_`-prefixed segment value (deterministic min must drop it). */
  def melt(s: SparkSession, dir: String): DataFrame = {
    val c = concat(lit("urn:c/"), col("c_custkey"))
    val o = concat(lit("urn:o/"), col("o_orderkey"))
    Quads.frame(Td(s, dir, "customer"),
      quad(c, Ns.TableName, lit("graph.customer_view")),
      quad(c, ns + "c_name", col("c_name")),
      quad(c, ns + "c_name", upper(col("c_name")), nl),
      quad(c, ns + "c_mktsegment", col("c_mktsegment")),
      quad(c, ns + "c_mktsegment", concat(lit("zz_"), col("c_mktsegment"))),
      quad(c, ns + "c_nationkey", col("c_nationkey")),
      quad(c, "urn:p/nk", concat(lit("urn:n/"), col("c_nationkey"))))
      .unionByName(Quads.frame(Td(s, dir, "orders"),
        quad(o, "urn:p/cust", concat(lit("urn:c/"), col("o_custkey"))),
        quad(o, "urn:p/status", col("o_orderstatus")),
        quad(o, "urn:p/priority",
          when(col("o_orderpriority") === "1-URGENT", col("o_orderpriority")))))
      .unionByName(Quads.frame(Td(s, dir, "nation"),
        quad(concat(lit("urn:n/"), col("n_nationkey")), "urn:p/n_name", col("n_name"))))
  }

  /** Subject pivot round-trip: melt → `SubjectPivot.pivotTable` →
    * wide rows. Checks `:tableName` routing, nl-override, deterministic
    * first-value, and int coercion against a closed-form oracle
    * (reference: typescript/src/stream.ts:77-107). */
  val quadPivot = Q(
    "q_quad_pivot",
    Some(
      "SELECT 'urn:c/' || CAST(c_custkey AS VARCHAR) AS id, upper(c_name) AS c_name, " +
        "c_mktsegment, c_nationkey FROM customer ORDER BY 1"),
    (s, dir) => {
      val spec = TableSpec("graph.customer_view", Seq(
        "c_name" -> ColType.Str, "c_mktsegment" -> ColType.Str,
        "c_nationkey" -> ColType.IntT))
      SubjectPivot.pivotTable(melt(s, dir), spec)
        .select(col("subject").as("id"), col("c_name"), col("c_mktsegment"),
          col("c_nationkey"))
        .orderBy(col("id"))
    }
  )

  /** Triple-pattern match with a shared variable: `?o :cust ?c . ?c
    * :c_mktsegment ?seg` — object→subject navigation join over quads
    * (reference: typescript/queries/av-audio.sparql:194-204). */
  val quadPattern = Q(
    "q_quad_pattern",
    Some(
      "SELECT c_mktsegment AS seg, count(*) AS cnt FROM orders " +
        "JOIN customer ON o_custkey = c_custkey GROUP BY 1 ORDER BY 1"),
    (s, dir) => {
      val quads = melt(s, dir)
      val cust = Patterns.po(quads, "urn:p/cust", "c")
      val seg = Patterns.po(quads, ns + "c_mktsegment", "seg")
        .filter(!col("seg").startsWith("zz_"))
      cust.join(seg, cust("c") === seg("s"))
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("seg"))
    }
  )

  /** Property path `/` (sequence) through two mid-nodes:
    * `?o :cust/:nk ?n . ?n :n_name ?nm`
    * (reference: organization.sparql:106, av-audio.sparql:253). */
  val pathSeq = Q(
    "q_path_seq",
    Some(
      "SELECT n_name, count(*) AS cnt FROM orders " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY 1 ORDER BY 1"),
    (s, dir) => {
      val quads = melt(s, dir)
      val toNation = Patterns.seqPath(quads, "urn:p/cust", "urn:p/nk", "n")
      val name = Patterns.po(quads, "urn:p/n_name", "n_name")
      toNation.join(name, toNation("n") === name("s"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("n_name"))
    }
  )

  /** Property path `|` (alternative): `?o :priority|:status ?v` — the
    * union-of-branches semantics (reference: person.sparql:55,
    * newspaper.sparql:188). Urgent orders contribute both branches. */
  val pathAlt = Q(
    "q_path_alt",
    Some(
      "SELECT v, count(*) AS cnt FROM (" +
        "SELECT o_orderpriority AS v FROM orders WHERE o_orderpriority = '1-URGENT' " +
        "UNION ALL SELECT o_orderstatus AS v FROM orders) GROUP BY 1 ORDER BY 1"),
    (s, dir) =>
      Patterns.altPath(melt(s, dir), "urn:p/priority", "urn:p/status", "v")
        .groupBy(col("v"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("v"))
  )

  /** Property path `^` (inverse): `?c ^:cust ?o` — orders reaching each
    * customer through the inverted role (reference: person.sparql:77,
    * iiif.sparql:96). */
  val pathInv = Q(
    "q_path_inv",
    Some(
      "SELECT 'urn:c/' || CAST(o_custkey AS VARCHAR) AS c, count(*) AS cnt " +
        "FROM orders GROUP BY 1 ORDER BY 1"),
    (s, dir) =>
      Patterns.invPath(melt(s, dir), "urn:p/cust", "o")
        .groupBy(col("s"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("s").as("c"), col("cnt"))
        .orderBy(col("c"))
  )

  /** A full construct pipeline under the oracle gate: customers melted
    * into organization-vocabulary source quads (rdf:type + nl-tagged
    * label + OR- identifier + optional attributes), run through
    * `OrganizationPipeline`, compared against the closed-form relational
    * answer. This checks the *composed* pipeline — base-match semi-joins,
    * OPTIONAL left joins, lang filter, regex bind — not just its
    * primitives. */
  val orgPipeline = Q(
    "q_org_pipeline",
    Some(
      "SELECT 'urn:c/' || CAST(c_custkey AS VARCHAR) AS id, " +
        "c_mktsegment AS dcterms_description, CAST(NULL AS VARCHAR) AS foaf_homepage, " +
        "CAST(NULL AS VARCHAR) AS ha_org_sector, c_mktsegment AS org_classification, " +
        "'OR-' || CAST(c_custkey AS VARCHAR) AS org_identifier, " +
        "c_name AS skos_pref_label FROM customer ORDER BY 1"),
    (s, dir) => {
      import graft.view.OrganizationPipeline.{V => OV}
      val c = concat(lit("urn:c/"), col("c_custkey"))
      val orgQuads = Quads.frame(Td(s, dir, "customer"),
        quad(c, Ns.RdfType, lit(OV.Organization)),
        quad(c, OV.PrefLabel, col("c_name"), nl),
        quad(c, OV.Identifier, concat(lit("OR-"), col("c_custkey"))),
        quad(c, OV.Description, col("c_mktsegment")),
        quad(c, OV.Classification,
          concat(lit("https://example.org/klass/"), col("c_mktsegment"))))
      graft.view.OrganizationPipeline(orgQuads)("graph.organization")
        .orderBy(col("id"))
    }
  )

  /** The person/mentions pipeline under the oracle gate: orders melt
    * into mention-vocabulary quads (entity —mentions→ mention node with
    * confidence + name); the oracle restates the inverse-path join, the
    * synthesized md5 row key, and the decimal confidence default in
    * closed form. Odd orderkeys carry no confidence → typed 0.0. */
  val personPipeline = Q(
    "q_person_pipeline",
    Some(
      "SELECT 'urn:o/' || CAST(o_orderkey AS VARCHAR) || '/schema_mentions/' || " +
        "md5('urn:m/' || CAST(o_orderkey AS VARCHAR)) AS id, " +
        "'urn:o/' || CAST(o_orderkey AS VARCHAR) AS intellectual_entity_id, " +
        // DOUBLE (not DECIMAL) through the gate: DuckDB DECIMAL reaches the
        // driver's pandas compare as float while Spark's decimal parquet
        // stays "0.0700" — same class as the HUGEINT sum gotcha. The
        // pipeline itself keeps DECIMAL(5,4) semantics; only the gate
        // serialization widens.
        "CASE WHEN o_orderkey % 2 = 0 " +
        "THEN CAST(CAST('0.' || lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0') AS DECIMAL(5,4)) AS DOUBLE) " +
        "ELSE CAST(CAST('0.0' AS DECIMAL(5,4)) AS DOUBLE) END AS confidence, " +
        "'urn:m/' || CAST(o_orderkey AS VARCHAR) AS thing_id " +
        "FROM orders ORDER BY 2"),
    (s, dir) => {
      import graft.view.PersonPipeline.{V => PV}
      val m = concat(lit("urn:m/"), col("o_orderkey"))
      val quads = Quads.frame(Td(s, dir, "orders"),
        quad(concat(lit("urn:o/"), col("o_orderkey")), PV.Mentions, m),
        quad(m, PV.Confidence,
          when(col("o_orderkey") % 2 === 0,
            concat(lit("0."), lpad(col("o_orderkey") % 100, 2, "0")))
            .otherwise(lit(null))))
      graft.view.PersonPipeline(quads)("graph.schema_mentions")
        .withColumn("confidence", col("confidence").cast("double"))
        .orderBy(col("intellectual_entity_id"))
    }
  )

  /** Delete-flag synthesis under the oracle gate: orders melt into
    * fragment quads (modified date, tombstone for status F, the PID, the
    * derived entity) and customers provide the license set (positive
    * balance ⇒ licensed). The oracle is the UNION of the two branches:
    * tombstoned-since and no-allowed-license-since
    * (deletes.sparql:40-77). */
  val deleteFlags = Q(
    "q_delete_flags",
    Some(
      "SELECT DISTINCT * FROM (" +
        "SELECT 'urn:ie/' || CAST(o_orderkey AS VARCHAR) AS intellectual_entity_id, " +
        "'urn:f/' || CAST(o_orderkey AS VARCHAR) AS mh_fragment_identifier, TRUE AS is_deleted " +
        "FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderstatus = 'F' " +
        "UNION ALL " +
        "SELECT 'urn:c/' || CAST(o_custkey AS VARCHAR), 'urn:f/' || CAST(o_orderkey AS VARCHAR), TRUE " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND c_acctbal <= 0) ORDER BY 1, 2"),
    (s, dir) => {
      import graft.delete.DeleteFlow.{V => DV}
      val f = concat(lit("urn:f/"), col("o_orderkey"))
      val mod = date_format(col("o_orderdate"), "yyyy-MM-dd")
      val quads = Quads.frame(Td(s, dir, "orders"),
        quad(f, DV.Modified, mod),
        quad(f, DV.DateDeleted, when(col("o_orderstatus") === "F", mod)),
        quad(f, DV.Pid, col("o_orderkey")),
        quad(f, DV.DerivedFrom, concat(lit("urn:c/"), col("o_custkey"))))
        .unionByName(Quads.frame(Td(s, dir, "customer"),
          quad(concat(lit("urn:c/"), col("c_custkey")), DV.License,
            when(col("c_acctbal") > 0, lit("VIAA-PUBLIEK-METADATA-ALL")))))
      graft.delete.DeleteFlow
        .flagDeletes(quads, since = Some("1997-01-01"), prefixIdBase = "urn:ie/")
        .orderBy(col("intellectual_entity_id"), col("mh_fragment_identifier"))
    }
  )

  /** N-Triples through the Turtle parser under the oracle gate:
    * customers are serialized to NT statement lines (plain, lang-tagged
    * and typed literals), each line parsed back as its own Turtle
    * document through `QuadSource.fromTurtleDocs` (what
    * `QuadSource.ntriples` does with a file's lines), and pivoted — the
    * closed-form oracle checks the whole serialize→parse→pivot
    * round-trip. */
  val ntRoundtrip = Q(
    "q_nt_roundtrip",
    Some(
      "SELECT 'urn:c/' || CAST(c_custkey AS VARCHAR) AS id, c_name, " +
        "upper(c_mktsegment) AS seg_nl, c_nationkey FROM customer ORDER BY 1"),
    (s, dir) => {
      // The sf corpus is ONE parquet split, which would serialize the
      // whole serialize→parse→pivot chain onto a single task (the r14
      // profile: 1.0 of the query's 1.3 stage-seconds on one task). A
      // real NT workload is split-parallel on both sides — thousands
      // of line-range splits to read, thousands of tasks writing — so
      // spread the source the way a real scan would arrive.
      val cust = Td(s, dir, "customer").repartition(s.sparkContext.defaultParallelism)
      def stmt(parts: Column*): Column = concat(parts :+ lit(" ."): _*)
      val subj = concat(lit("<urn:c/"), col("c_custkey"), lit(">"))
      val lines = cust.select(explode(array(
        stmt(subj, lit(s" <${Ns.TableName}> "), lit("\"graph.customer_nt\"")),
        stmt(subj, lit(s" <${ns}c_name> \""), ttlEscape(col("c_name")), lit("\"")),
        stmt(subj, lit(s" <${ns}seg_nl> \""), ttlEscape(col("c_mktsegment")), lit("\"")),
        stmt(subj, lit(s" <${ns}seg_nl> \""), ttlEscape(upper(col("c_mktsegment"))), lit("\"@nl")),
        stmt(subj, lit(s" <${ns}c_nationkey> \""), col("c_nationkey"),
          lit("\"^^<http://www.w3.org/2001/XMLSchema#integer>"))
      )).as("value"))
      val spec = TableSpec("graph.customer_nt", Seq(
        "c_name" -> ColType.Str, "seg_nl" -> ColType.Str,
        "c_nationkey" -> ColType.IntT))
      import s.implicits._
      SubjectPivot.pivotTable(
        graft.source.QuadSource.fromTurtleDocs(lines.as[String]), spec)
        .select(col("subject").as("id"), col("c_name"), col("seg_nl"),
          col("c_nationkey"))
        .orderBy(col("id"))
    }
  )

  /** The Turtle parser under the oracle gate: customers are serialized
    * into one Turtle document PER SEGMENT (prefixed names, `;`
    * predicate lists, `,` object lists, a lang-tagged literal, a bare
    * integer literal), parsed back through `QuadSource.fromTurtleDocs`
    * (per-document distribution — 5 docs across the cluster), and
    * pivoted. The oracle restates the round-trip in closed form; the
    * nl-tagged uppercase segment must win the pivot's nl-override. */
  val ttlRoundtrip = Q(
    "q_ttl_roundtrip",
    Some(
      "SELECT 'urn:c/' || CAST(c_custkey AS VARCHAR) AS id, c_name, " +
        "upper(c_mktsegment) AS seg_nl, c_nationkey FROM customer ORDER BY 1"),
    (s, dir) => {
      val cust = Td(s, dir, "customer")
      val stmts = cust.select(
        col("c_mktsegment").as("seg"),
        concat(
          lit("cust:"), col("c_custkey"),
          lit(" k:tableName \"graph.customer_ttl\" ;\n  k:c_name \""),
          ttlEscape(col("c_name")),
          lit("\" ;\n  k:seg_nl \""), ttlEscape(col("c_mktsegment")),
          lit("\" , \""), ttlEscape(upper(col("c_mktsegment"))),
          lit("\"@nl ;\n  k:c_nationkey "), col("c_nationkey"),
          lit(" .")).as("stmt"))
      val docs = stmts.groupBy(col("seg"))
        .agg(concat_ws("\n",
          lit("@prefix cust: <urn:c/> ."),
          lit(s"@prefix k: <$ns> ."),
          sort_array(collect_list(col("stmt")))).as("doc"))
        .select(col("doc"))
      import s.implicits._
      val spec = TableSpec("graph.customer_ttl", Seq(
        "c_name" -> ColType.Str, "seg_nl" -> ColType.Str,
        "c_nationkey" -> ColType.IntT))
      SubjectPivot.pivotTable(
        graft.source.QuadSource.fromTurtleDocs(docs.as[String]), spec)
        .select(col("subject").as("id"), col("c_name"), col("seg_nl"),
          col("c_nationkey"))
        .orderBy(col("id"))
    }
  )

  /** The parameterized entity pipeline under the oracle gate: orders
    * melt into entity-vocabulary quads covering the reference's UNION
    * families (av-audio.sparql:231-394) — typed subject, identifier,
    * name, license, modified date, nl/en abstract (the nl filter must
    * drop the en literal), dateCreated, is-part-of, a spatial `/`-path
    * through a mid node, a temporal literal, the copyright-holder
    * prefLabel|name alternative (even orderkeys bind prefLabel, odd bind
    * name — both arms live), and an EXISTS-captioning two-hop flag for
    * open-status orders. Fulfilled orders carry no allowed license and
    * must be excluded by the license semi-join, stale orders by the
    * since cutoff. The oracle restates everything in closed form. */
  val entityPipeline = Q(
    "q_entity_pipeline",
    Some(
      "SELECT 'urn:e/' || CAST(o_orderkey AS VARCHAR) AS id, " +
        "CAST(o_orderkey AS VARCHAR) AS schema_identifier, " +
        "o_orderpriority AS schema_name, " +
        "CAST(NULL AS VARCHAR) AS schema_description, " +
        "CAST(NULL AS VARCHAR) AS schema_maintainer, " +
        "'samenvatting ' || o_orderpriority AS schema_abstract, " +
        "strftime(o_orderdate, '%Y-%m-%d') AS schema_date_created, " +
        "strftime(o_orderdate, '%Y') || '-01-01' AS ha_des_min_date_created, " +
        "strftime(o_orderdate, '%Y') || '-12-31' AS ha_des_max_date_created, " +
        "CAST(NULL AS VARCHAR) AS schema_date_published, " +
        "CAST(NULL AS VARCHAR) AS ha_des_min_date_published, " +
        "CAST(NULL AS VARCHAR) AS ha_des_max_date_published, " +
        "CAST(NULL AS VARCHAR) AS dcterms_available, " +
        "'rights-' || o_orderstatus AS dcterms_rights, " +
        "o_orderpriority AS ebucore_has_object_type, " +
        "'cast-' || CAST(o_custkey AS VARCHAR) AS ebucore_has_cast_member, " +
        "'syn ' || o_orderpriority AS ebucore_synopsis, " +
        "strftime(o_orderdate, '%Y') AS schema_copyright_year, " +
        "CAST(NULL AS VARCHAR) AS schema_copyright_notice, " +
        "'credit ' || o_orderstatus AS schema_credit_text, " +
        "CAST(NULL AS VARCHAR) AS schema_issue_number, " +
        "CAST(NULL AS VARCHAR) AS schema_position, " +
        "CAST(NULL AS VARCHAR) AS bibframe_edition, " +
        "'urn:col/' || CAST(o_custkey AS VARCHAR) AS relation_is_part_of, " +
        "(o_orderstatus = 'O') AS has_open_captions, " +
        "o_orderpriority AS schema_spatial, " +
        "o_orderstatus AS schema_temporal, " +
        "'CH-' || CAST(o_custkey AS VARCHAR) AS schema_copyright_holder " +
        // o_orderkey % 8 <= 1 subsample (round-10 advice): the gate
        // proves per-entity pipeline semantics — every branch, decoy,
        // and parity case stays live at a quarter of the melt width
        "FROM orders WHERE o_orderstatus <> 'F' " +
        "AND o_orderdate >= TIMESTAMP '1996-01-01' " +
        "AND o_orderkey % 8 <= 1 ORDER BY 1"),
    (s, dir) => {
      import graft.view.EntityPipeline
      import EntityPipeline.{Vocab => EV}
      // Spread the RAW pre-explode rows when the scan is narrow (one
      // row group = one task): the ~30-quad melt and the persisted
      // cache build then parallelize, and every pipeline branch reads
      // a multi-partition cache instead of a serial one. Shuffling the
      // pre-explode rows costs ~the input's parquet bytes — the
      // post-explode repartition alternative measured 1.35× WORSE at
      // 30× because it shuffles the exploded melt (BENCH_NOTES r19).
      val orders = graft.view.Patterns.spreadNarrow(
        Td(s, dir, "orders").filter(col("o_orderkey") % 8 <= 1),
        graft.view.Patterns.CacheInflation)
      val e = concat(lit("urn:e/"), col("o_orderkey"))
      val sp = concat(lit("urn:sp/"), col("o_orderkey"))
      val ch = concat(lit("urn:ch/"), col("o_orderkey"))
      val cap = concat(lit("urn:cap/"), col("o_orderkey"))
      val quads = Quads.frame(orders,
        quad(e, Ns.RdfType, lit(EV.SchemaNs + "AudioObject")),
        quad(e, EV.Identifier, col("o_orderkey")),
        quad(e, EV.Name, col("o_orderpriority")),
        quad(e, EV.Modified, date_format(col("o_orderdate"), "yyyy-MM-dd")),
        quad(e, EV.License,
          when(col("o_orderstatus") =!= "F", lit("VIAA-PUBLIEK-METADATA-ALL"))
            .otherwise(lit("NOT-ALLOWED"))),
        // nl abstract + en decoy: the lang filter must keep only nl
        quad(e, EV.Abstract, concat(lit("samenvatting "), col("o_orderpriority")), nl),
        quad(e, EV.Abstract, concat(lit("EN "), col("o_orderpriority")), Some("en")),
        // en-only description: the nl filter must leave the column NULL
        quad(e, EV.Description,
          concat(lit("EN desc "), col("o_orderpriority")), Some("en")),
        // audit-added scalar families (av-audio.sparql:262-274,303-311)
        quad(e, EV.DctRights, concat(lit("rights-"), col("o_orderstatus"))),
        quad(e, EV.HasObjectType, col("o_orderpriority")),
        quad(e, EV.HasCastMember, concat(lit("cast-"), col("o_custkey"))),
        quad(e, EV.Synopsis, concat(lit("syn "), col("o_orderpriority"))),
        quad(e, EV.CopyrightYear, date_format(col("o_orderdate"), "yyyy")),
        quad(e, EV.CreditText, concat(lit("credit "), col("o_orderstatus"))),
        quad(e, EV.MinDateCreated,
          concat(date_format(col("o_orderdate"), "yyyy"), lit("-01-01"))),
        quad(e, EV.MaxDateCreated,
          concat(date_format(col("o_orderdate"), "yyyy"), lit("-12-31"))),
        quad(e, EV.DateCreated, date_format(col("o_orderdate"), "yyyy-MM-dd")),
        quad(e, EV.IsPartOfRel, concat(lit("urn:col/"), col("o_custkey"))),
        // spatial /-path: e --spatial--> sp --name--> clerk
        quad(e, EV.Spatial, sp),
        quad(sp, EV.SchemaNs + "name", col("o_orderpriority")),
        quad(e, EV.Temporal, col("o_orderstatus")),
        // copyright holder: prefLabel|name alternative through a mid node
        quad(e, EV.CopyrightHolder, ch),
        quad(ch, EV.PrefLabel,
          when(col("o_orderkey") % 2 === 0, concat(lit("CH-"), col("o_custkey")))
            .otherwise(lit(null))),
        quad(ch, EV.SchemaNs + "name",
          when(col("o_orderkey") % 2 === 1, concat(lit("CH-"), col("o_custkey")))
            .otherwise(lit(null))),
        // EXISTS flag: e --hasCaptioning--> cap --rdf:type--> OpenCaptions
        quad(e, EV.HasCaptioning,
          when(col("o_orderstatus") === "O", cap).otherwise(lit(null))),
        quad(cap, Ns.RdfType,
          when(col("o_orderstatus") === "O", lit(EV.OpenCaptions))
            .otherwise(lit(null))))
      val cfg = EntityPipeline.Config(Seq(EV.SchemaNs + "AudioObject"),
        mimeTypes = Nil, includePeaks = true, nullLicenses = Nil)
      val tables = EntityPipeline(quads, cfg,
        graft.view.ViewParams(since = Some("1996-01-01")))
      def one(table: String, as: String) = tables(table)
        .select(col("intellectual_entity_id").as("id"), col(as))
      tables("graph.intellectual_entity")
        .join(one("graph.schema_spatial", "schema_spatial"), Seq("id"), "left")
        .join(one("graph.schema_temporal", "schema_temporal"), Seq("id"), "left")
        .join(one("graph.schema_copyright_holder", "schema_copyright_holder"),
          Seq("id"), "left")
        .orderBy(col("id"))
    }
  )

  /** The audit-added UNION families end to end (av-audio.sparql
    * :328-453 roles/things, collection, carrier, coloring; :457-520 rep
    * + file extras): orders melt into one quad feed exercising every
    * family — VALUES-typed collections with season numbers, the
    * carrier's thesauri-hopped medium and production method, the
    * height quantity node, the EXISTS captioning flag, the inverse
    * digitization-event hop, rep fragment scalars, file storedAt/value
    * and thumbnails, role names and thing rows — and the final frame
    * joins one row per entity across all family tables. DuckDB
    * restates every column in closed form from orders, so a wrong hop
    * direction, a lost lang filter, or a duplicated link row flips the
    * hash. */
  val entityFamilies = Q(
    "q_entity_families",
    Some(
      "SELECT 'urn:e/' || CAST(o_orderkey AS VARCHAR) AS id, " +
        "'urn:col/' || CAST(o_custkey AS VARCHAR) AS collection_id, " +
        "CASE WHEN o_custkey % 2 = 0 THEN 'episode' ELSE 'archive' END AS collection_type, " +
        "'Collection ' || CAST(o_custkey AS VARCHAR) AS collection_name, " +
        "CASE WHEN o_custkey % 2 = 0 THEN CAST(o_custkey % 12 AS VARCHAR) END AS schema_season_number, " +
        "'urn:super/' || CAST(o_custkey % 5 AS VARCHAR) AS collection_parent, " +
        "'urn:pc/' || CAST(o_orderkey AS VARCHAR) AS carrier_id, " +
        "'Carrier ' || CAST(o_orderkey AS VARCHAR) AS carrier_name, " +
        "'medium-' || o_orderstatus AS premis_medium, " +
        "(o_orderstatus = 'O') AS ebucore_has_captioning, " +
        "'pm-' || o_orderpriority AS bibframe_production_method, " +
        "CAST(o_orderkey AS VARCHAR) AS carrier_identifier, " +
        "CASE WHEN o_orderkey % 2 = 1 THEN 'mat-' || o_orderstatus END AS schema_material, " +
        "CASE WHEN o_orderkey % 2 = 0 THEN 'ext-' || o_orderstatus END AS schema_material_extent, " +
        "CAST(o_orderkey % 50 AS VARCHAR) || ' cm' AS schema_height, " +
        "CASE WHEN o_orderstatus = 'O' THEN strftime(o_orderdate, '%Y-%m-%d') END AS digitization_date, " +
        "CASE WHEN o_orderkey % 2 = 0 THEN 'beeldspoel' END AS car_type, " +
        "CASE WHEN o_orderkey % 2 = 0 THEN 'color-' || o_orderpriority END AS ha_des_coloring_type, " +
        "'urn:rep/' || CAST(o_orderkey AS VARCHAR) AS rep_id, " +
        "'Rep ' || CAST(o_orderkey AS VARCHAR) AS rep_name, " +
        "'cap-' || CAST(o_orderkey AS VARCHAR) AS schema_caption, " +
        "'tr-' || CAST(o_orderkey AS VARCHAR) AS schema_transcript, " +
        "CASE WHEN o_orderkey % 2 = 1 THEN '0' END AS schema_start_time, " +
        "CASE WHEN o_orderkey % 2 = 1 THEN CAST(o_orderkey % 100 AS VARCHAR) END AS schema_end_time, " +
        "CASE WHEN o_orderkey % 2 = 1 THEN 'urn:parent/' || CAST(o_orderkey AS VARCHAR) END AS is_media_fragment_of, " +
        "'urn:root/' || CAST(o_orderkey AS VARCHAR) AS relation_has_root, " +
        "CASE WHEN o_orderkey % 2 = 0 THEN 'urn:prev/' || CAST(o_orderkey AS VARCHAR) END AS edm_is_next_in_sequence, " +
        "'urn:f/' || CAST(o_orderkey AS VARCHAR) AS file_id, " +
        "'f' || CAST(o_orderkey AS VARCHAR) || '.mp3' AS premis_original_name, " +
        "CAST(120.0 AS DOUBLE) AS schema_duration, " +
        "'File ' || CAST(o_orderkey AS VARCHAR) AS file_name, " +
        "'http://t/' || CAST(o_orderkey AS VARCHAR) AS schema_thumbnail_url, " +
        "'s3://b/' || CAST(o_orderkey AS VARCHAR) AS premis_stored_at, " +
        "'schema_creator' AS role_type, " +
        "'maker' AS schema_role_name, " +
        "'Thing ' || CAST(o_custkey AS VARCHAR) AS thing_name " +
        // o_orderkey % 8 <= 1 subsample — see q_entity_pipeline
        "FROM orders WHERE o_orderstatus <> 'F' " +
        "AND o_orderkey % 8 <= 1 ORDER BY 1"),
    (s, dir) => {
      import graft.view.EntityPipeline
      import EntityPipeline.{Vocab => EV}
      // Spread the RAW pre-explode rows when the scan is narrow (one
      // row group = one task): the ~30-quad melt and the persisted
      // cache build then parallelize, and every pipeline branch reads
      // a multi-partition cache instead of a serial one. Shuffling the
      // pre-explode rows costs ~the input's parquet bytes — the
      // post-explode repartition alternative measured 1.35× WORSE at
      // 30× because it shuffles the exploded melt (BENCH_NOTES r19).
      val orders = graft.view.Patterns.spreadNarrow(
        Td(s, dir, "orders").filter(col("o_orderkey") % 8 <= 1),
        graft.view.Patterns.CacheInflation)
      val ok = col("o_orderkey"); val ck = col("o_custkey")
      val e = concat(lit("urn:e/"), ok)
      val coll = concat(lit("urn:col/"), ck)
      val crep = concat(lit("urn:crep/"), ok)
      val pc = concat(lit("urn:pc/"), ok)
      val med = concat(lit("urn:med/"), col("o_orderstatus"))
      val pm = concat(lit("urn:pm/"), col("o_orderpriority"))
      val ct = concat(lit("urn:ct/"), col("o_orderpriority"))
      val h = concat(lit("urn:h/"), ok)
      val ev = concat(lit("urn:ev/"), ok)
      val cc = concat(lit("urn:cc/"), ok)
      val rep = concat(lit("urn:rep/"), ok)
      val file = concat(lit("urn:f/"), ok)
      val loc = concat(lit("urn:loc/"), ok)
      val roleNode = concat(lit("urn:role/"), ok)
      val th = concat(lit("urn:th/"), ck)
      val even = ok % 2 === 0
      val open = col("o_orderstatus") === "O"
      def onlyIf(cond: Column, v: Column): Column = when(cond, v).otherwise(lit(null))
      val quads = Quads.frame(orders,
        // base match
        quad(e, Ns.RdfType, lit(EV.SchemaNs + "AudioObject")),
        quad(e, EV.License,
          when(col("o_orderstatus") =!= "F", lit("VIAA-PUBLIEK-METADATA-ALL"))
            .otherwise(lit("NOT-ALLOWED"))),
        // collection family
        quad(e, EV.IsPartOf, coll),
        quad(coll, Ns.RdfType,
          when(ck % 2 === 0, lit(EV.SchemaNs + "Episode"))
            .otherwise(lit(EV.SchemaNs + "ArchiveComponent"))),
        quad(coll, EV.SchemaNs + "name", concat(lit("Collection "), ck)),
        quad(coll, EV.SeasonNumber, onlyIf(ck % 2 === 0, ck % 12)),
        quad(coll, EV.IsPartOf, concat(lit("urn:super/"), ck % 5)),
        // carrier family — crep/pc carry their REQUIRED type rows
        // (av-audio.sparql:379-384)
        quad(e, EV.Isr, crep),
        quad(crep, Ns.RdfType, lit(EV.CarrierRepresentation)),
        quad(crep, EV.StoredAt, pc),
        quad(pc, Ns.RdfType, lit(EV.PhysicalCarrier)),
        // reel arm (:437-453): even carriers are ImageReels; the
        // ontology labels the type nl (plus an en decoy the lang filter
        // must drop) — car_type binds and the coloring arm unlocks
        quad(pc, Ns.RdfType, onlyIf(even, lit(EV.ImageReel))),
        quad(lit(EV.ImageReel), EV.RdfsLabel, lit("beeldspoel"), nl),
        quad(lit(EV.ImageReel), EV.RdfsLabel, lit("image reel"), Some("en")),
        quad(pc, EV.SchemaNs + "name", concat(lit("Carrier "), ok), nl),
        quad(pc, EV.SchemaNs + "name", lit("EN Carrier"), Some("en")),
        quad(pc, EV.Medium, med),
        quad(med, EV.PrefLabel, concat(lit("medium-"), col("o_orderstatus")), nl),
        quad(crep, EV.ProductionMethod, pm),
        quad(pm, EV.PrefLabel, concat(lit("pm-"), col("o_orderpriority")), nl),
        quad(pc, EV.Identifier, ok),
        quad(pc, EV.Material,
          onlyIf(ok % 2 === 1, concat(lit("mat-"), col("o_orderstatus")))),
        quad(pc, EV.MaterialExtent,
          onlyIf(even, concat(lit("ext-"), col("o_orderstatus")))),
        quad(pc, EV.HeightProp, h),
        quad(h, EV.ValueProp, ok % 50),
        quad(h, EV.UnitText, lit("cm")),
        quad(pc, EV.HasCaptioning, onlyIf(open, cc)),
        quad(cc, Ns.RdfType, onlyIf(open, lit(EV.OpenCaptions))),
        quad(ev, EV.ErorSou, onlyIf(open, pc)),
        quad(ev, Ns.RdfType, onlyIf(open, lit(EV.DigitizationType))),
        quad(ev, EV.StartedAtTime,
          onlyIf(open, date_format(col("o_orderdate"), "yyyy-MM-dd"))),
        quad(pc, EV.ColoringType, onlyIf(even, ct)),
        quad(ct, EV.PrefLabel, concat(lit("color-"), col("o_orderpriority")), nl),
        // representation + file
        quad(rep, EV.Represents, e),
        quad(rep, EV.SchemaNs + "name", concat(lit("Rep "), ok), nl),
        quad(rep, EV.Caption, concat(lit("cap-"), ok)),
        quad(rep, EV.Transcript, concat(lit("tr-"), ok)),
        quad(rep, EV.StartTime, onlyIf(ok % 2 === 1, lit("0"))),
        quad(rep, EV.EndTime, onlyIf(ok % 2 === 1, ok % 100)),
        quad(rep, EV.IsMediaFragmentOf,
          onlyIf(ok % 2 === 1, concat(lit("urn:parent/"), ok))),
        quad(rep, EV.Hsr, concat(lit("urn:root/"), ok)),
        quad(rep, EV.NextInSequence, onlyIf(even, concat(lit("urn:prev/"), ok))),
        quad(file, EV.MimeType, lit("audio/mpeg")),
        quad(file, EV.OriginalName, concat(lit("f"), ok, lit(".mp3"))),
        quad(file, EV.Duration, lit("PT2M")),
        quad(file, EV.SchemaNs + "name", concat(lit("File "), ok), nl),
        quad(file, EV.ThumbnailUrl, concat(lit("http://t/"), ok)),
        quad(file, EV.StoredAt, loc),
        quad(loc, EV.RdfValue, concat(lit("s3://b/"), ok)),
        quad(rep, EV.Includes, file),
        // roles + things — the TWO-node structure (av-audio.sparql
        // :328-343): e →creator→ role (a Role, roleName) →creator→
        // thing (a Thing, name). The direct e →contributor→ thing decoy
        // is the OLD flattened shape and must produce NO role row (the
        // thing is not a typed Role node).
        quad(e, EV.Creator, roleNode),
        quad(roleNode, Ns.RdfType, lit(EV.SchemaRole)),
        quad(roleNode, EV.RoleName, lit("maker")),
        quad(roleNode, EV.Creator, th),
        quad(e, EV.Contributor, th),
        quad(th, Ns.RdfType, lit(EV.SchemaThing)),
        quad(th, EV.SchemaNs + "name", concat(lit("Thing "), ck)))
      val cfg = EntityPipeline.Config(Seq(EV.SchemaNs + "AudioObject"),
        mimeTypes = Seq("audio/mpeg"), includePeaks = true, nullLicenses = Nil)
      val tables = EntityPipeline(quads, cfg)
      val isp = tables("graph.schema_is_part_of")
        .select(col("intellectual_entity_id").as("id"), col("collection_id"))
      val collT = tables("graph.collection").select(
        col("id").as("collection_id"), col("collection_type"),
        col("schema_name").as("collection_name"), col("schema_season_number"),
        col("schema_is_part_of").as("collection_parent"))
      val car = tables("graph.carrier").select(
        col("intellectual_entity_id").as("id"), col("id").as("carrier_id"),
        col("schema_name").as("carrier_name"), col("premis_medium"),
        col("ebucore_has_captioning"), col("bibframe_production_method"),
        col("schema_identifier").as("carrier_identifier"),
        col("schema_material"), col("schema_material_extent"),
        col("schema_height"), col("digitization_date"), col("car_type"))
      val colr = tables("graph.ha_des_coloring_type")
        .select(col("carrier_id"), col("ha_des_coloring_type"))
      val repT = tables("graph.representation").select(
        col("premis_represents").as("id"), col("id").as("rep_id"),
        col("schema_name").as("rep_name"), col("schema_caption"),
        col("schema_transcript"), col("schema_start_time"),
        col("schema_end_time"), col("is_media_fragment_of"),
        col("relation_has_root"), col("edm_is_next_in_sequence"))
      val inc = tables("graph.includes")
        .select(col("representation_id").as("rep_id"), col("file_id"))
      val fil = tables("graph.file").select(
        col("id").as("file_id"), col("premis_original_name"),
        col("schema_duration"), col("schema_name").as("file_name"),
        col("schema_thumbnail_url"), col("premis_stored_at"))
      val role = tables("graph.schema_role").select(
        col("intellectual_entity_id").as("id"), col("type").as("role_type"),
        col("schema_role_name"), col("thing_id"))
      val thing = tables("graph.thing")
        .select(col("id").as("thing_id"), col("schema_name").as("thing_name"))
      isp
        .join(collT, Seq("collection_id"))
        .join(car, Seq("id"))
        .join(colr, Seq("carrier_id"), "left")
        .join(repT, Seq("id"))
        .join(inc, Seq("rep_id"))
        .join(fil, Seq("file_id"))
        .join(role, Seq("id"))
        .join(thing, Seq("thing_id"))
        .select(col("id"), col("collection_id"), col("collection_type"),
          col("collection_name"), col("schema_season_number"),
          col("collection_parent"), col("carrier_id"), col("carrier_name"),
          col("premis_medium"), col("ebucore_has_captioning"),
          col("bibframe_production_method"), col("carrier_identifier"),
          col("schema_material"), col("schema_material_extent"),
          col("schema_height"), col("digitization_date"), col("car_type"),
          col("ha_des_coloring_type"), col("rep_id"), col("rep_name"),
          col("schema_caption"), col("schema_transcript"),
          col("schema_start_time"), col("schema_end_time"),
          col("is_media_fragment_of"), col("relation_has_root"),
          col("edm_is_next_in_sequence"), col("file_id"),
          col("premis_original_name"), col("schema_duration"),
          col("file_name"), col("schema_thumbnail_url"),
          col("premis_stored_at"), col("role_type"), col("schema_role_name"),
          col("thing_name"))
        .orderBy(col("id"))
    }
  )

  /** The IIIF copy pipeline under the oracle gate (reference:
    * typescript/queries/iiif.sparql): the inverse `^hasIIIFCopy`
    * traversal, the `storedAt/rdf:value` sequence path (with a missing
    * branch — odd orderkeys carry no stored URL, exercising the left
    * join's null side), and the MIME slice, composed and restated in
    * closed form. */
  val iiifPipeline = Q(
    "q_iiif_pipeline",
    Some(
      "SELECT 'urn:e/' || CAST(o_orderkey AS VARCHAR) AS intellectual_entity_id, " +
        "'urn:img/' || CAST(o_orderkey AS VARCHAR) AS iiif_id, " +
        "CASE WHEN o_orderkey % 2 = 0 THEN 'http://u/' || CAST(o_orderkey AS VARCHAR) END AS url, " +
        "'image/jpeg' AS mime FROM orders WHERE o_orderstatus = 'O' ORDER BY 1"),
    (s, dir) => {
      import graft.view.IiifPipeline.{V => IV}
      val orders = Td(s, dir, "orders").filter(col("o_orderstatus") === "O")
      val e = concat(lit("urn:e/"), col("o_orderkey"))
      val img = concat(lit("urn:img/"), col("o_orderkey"))
      val st = concat(lit("urn:st/"), col("o_orderkey"))
      val quads = Quads.frame(orders,
        quad(e, IV.HasIIIFCopy, img),
        quad(img, IV.StoredAt, st),
        quad(st, IV.RdfValue,
          when(col("o_orderkey") % 2 === 0, concat(lit("http://u/"), col("o_orderkey")))
            .otherwise(lit(null))),
        quad(img, IV.MimeType, lit("image/jpeg")))
      graft.view.IiifPipeline(quads).orderBy(col("intellectual_entity_id"))
    }
  )

  /** The collection pipeline under the oracle gate (reference:
    * typescript/queries/newspaper-collection.sparql:16-42 +
    * av-audio.sparql:355-364): customers play collections — their type
    * IRI cycles through all six branches of the error-trick type
    * mapping (translated by intent as a when-chain), season numbers
    * exercise the int coercion, every-third collection carries a
    * language, and orders are the isPartOf members whose count checks
    * the membership rows. */
  val collectionPipeline = Q(
    "q_collection_pipeline",
    Some(
      "SELECT 'urn:col/' || CAST(c_custkey AS VARCHAR) AS id, " +
        "CASE c_custkey % 6 WHEN 0 THEN 'episode' WHEN 1 THEN 'archive' " +
        "WHEN 2 THEN 'series' WHEN 3 THEN 'season' WHEN 4 THEN 'program' " +
        "ELSE 'collection' END AS collection_type, " +
        "c_name AS schema_name, c_custkey % 10 AS schema_season_number, " +
        "n_members, " +
        "CASE WHEN c_custkey % 3 = 0 THEN 'nl' END AS schema_in_language " +
        "FROM customer JOIN (SELECT o_custkey, count(*) AS n_members " +
        "FROM orders GROUP BY 1) m ON m.o_custkey = c_custkey ORDER BY 1"),
    (s, dir) => {
      import graft.view.CollectionPipeline.{V => CV}
      val colSubj = concat(lit("urn:col/"), col("c_custkey"))
      val typeLocal = element_at(
        array(lit("Episode"), lit("ArchiveComponent"), lit("CreativeWorkSeries"),
          lit("CreativeWorkSeason"), lit("BroadcastEvent"), lit("Thing")),
        (col("c_custkey") % 6 + 1).cast("int"))
      val quads = Quads.frame(Td(s, dir, "customer"),
        quad(colSubj, Ns.RdfType, concat(lit(CV.SchemaNs), typeLocal)),
        quad(colSubj, CV.Name, col("c_name")),
        quad(colSubj, CV.SeasonNumber, col("c_custkey") % 10),
        quad(colSubj, CV.InLanguage,
          when(col("c_custkey") % 3 === 0, lit("nl")).otherwise(lit(null))))
        .unionByName(Quads.frame(Td(s, dir, "orders"),
          quad(concat(lit("urn:e/"), col("o_orderkey")), CV.IsPartOf,
            concat(lit("urn:col/"), col("o_custkey")))))
      val tables = graft.view.CollectionPipeline(quads)
      val members = tables("graph.schema_is_part_of")
        .groupBy(col("collection_id"))
        .agg(count(lit(1)).as("n_members"))
        .withColumnRenamed("collection_id", "id")
      val lang = tables("graph.newspaper_schema_in_language")
        .withColumnRenamed("collection_id", "id")
      tables("graph.collection")
        .join(members, Seq("id"))
        .join(lang, Seq("id"), "left")
        .select(col("id"), col("collection_type"), col("schema_name"),
          col("schema_season_number"), col("n_members"), col("schema_in_language"))
        .orderBy(col("id"))
    }
  )

  val all: Seq[Q] = Seq(quadPivot, quadPattern, pathSeq, pathAlt, pathInv,
    orgPipeline, personPipeline, deleteFlags, ntRoundtrip, ttlRoundtrip,
    entityPipeline, entityFamilies, iiifPipeline, collectionPipeline)
}
