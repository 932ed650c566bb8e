package graft.ops

import org.apache.spark.sql.functions._

import graft.model.{ColType, Tables, TableSpec}
import graft.sink.Upsert

/** The merge/upsert family under the DuckDB oracle gate (SURVEY.md §2.9
  * #74-77, #80 — reference: typescript/src/database.ts:168-254).
  *
  * Each query stages a since-filtered slice of a testdata table as "the
  * incremental batch", merges it into the full table through the real
  * `Upsert.merge` on the spec's merge key, and the oracle states the
  * expected post-merge table in closed form (anti-join ∪ staged). The
  * child spec keys on its entity key, the PK specs on their PK. Rows
  * carry a `src` marker so a wrong merge (old row surviving where
  * staged must win, or a sibling child row surviving a key-clear) flips
  * the hash, not just the row count.
  */
object MergeBattery {

  /** Gate spec: lineitem as an entity-keyed child table — incremental
    * merges must replace ALL rows of touched orders (database.ts:186-212). */
  private val lineitemChild = TableSpec("gate.lineitem_child",
    Seq("l_orderkey" -> ColType.IntT, "l_linenumber" -> ColType.IntT,
      "src" -> ColType.Str),
    pk = Nil, entityKey = Some("l_orderkey"))

  /** Gate spec: orders as a PK table — MERGE INTO semantics
    * (database.ts:214-223). */
  private val ordersPk = TableSpec("gate.orders_pk",
    Seq("id" -> ColType.IntT, "status" -> ColType.Str, "src" -> ColType.Str))

  /** Key-clear merge: the staged batch is "every lineitem shipped since
    * the cutoff"; the orders it touches lose their pre-cutoff lineitems
    * too — that is the per-entity replacement contract. The oracle's
    * NOT IN is exactly the anti-join. */
  val upsertKeyClear = Q(
    "q_upsert_keyclear",
    Some(
      "SELECT l_orderkey, l_linenumber, 'old' AS src FROM lineitem " +
        "WHERE l_orderkey NOT IN (SELECT DISTINCT l_orderkey FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1997-06-01') " +
        "UNION ALL " +
        "SELECT l_orderkey, l_linenumber, 'staged' FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1997-06-01' ORDER BY 1, 2"),
    (s, dir) => {
      val li = Td(s, dir, "lineitem")
      val target = li.select(
        col("l_orderkey"), col("l_linenumber"), lit("old").as("src"))
      val staged = li
        .filter(col("l_shipdate") >= lit("1997-06-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), lit("staged").as("src"))
      Upsert.merge(target, staged, lineitemChild, fullSync = false)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }
  )

  /** PK merge: staged rows win on key collision (their status is
    * rewritten to 'X'), untouched target rows survive as 'old'. */
  val upsertPk = Q(
    "q_upsert_pk",
    Some(
      "SELECT o_orderkey AS id, o_orderstatus AS status, 'old' AS src FROM orders " +
        "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1997-06-01') " +
        "UNION ALL " +
        "SELECT o_orderkey, 'X', 'staged' FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1997-06-01' ORDER BY 1"),
    (s, dir) => {
      val o = Td(s, dir, "orders")
      val target = o.select(
        col("o_orderkey").as("id"), col("o_orderstatus").as("status"),
        lit("old").as("src"))
      val staged = o
        .filter(col("o_orderdate") >= lit("1997-06-01").cast("timestamp"))
        .select(col("o_orderkey").as("id"), lit("X").as("status"),
          lit("staged").as("src"))
      Upsert.merge(target, staged, ordersPk, fullSync = false)
        .orderBy(col("id"))
    }
  )

  /** Full sync: TRUNCATE + INSERT — the merged table IS the staged batch,
    * regardless of what the target held (database.ts:178-184). The target
    * here deliberately contains rows the staged batch lacks; surviving
    * 'old' rows would flip rows *and* hash. */
  val upsertFullSync = Q(
    "q_upsert_fullsync",
    Some(
      "SELECT o_orderkey AS id, o_orderstatus AS status, 'staged' AS src " +
        "FROM orders WHERE o_orderdate >= TIMESTAMP '1997-06-01' ORDER BY 1"),
    (s, dir) => {
      val o = Td(s, dir, "orders")
      val target = o.select(
        col("o_orderkey").as("id"), col("o_orderstatus").as("status"),
        lit("old").as("src"))
      val staged = o
        .filter(col("o_orderdate") >= lit("1997-06-01").cast("timestamp"))
        .select(col("o_orderkey").as("id"), col("o_orderstatus").as("status"),
          lit("staged").as("src"))
      Upsert.merge(target, staged, ordersPk, fullSync = true)
        .orderBy(col("id"))
    }
  )

  /** Doc-table upsert keyed (id,index) (SURVEY.md §2.9 #80 — reference:
    * flows/queries/update_partition.sql:362-366 `ON CONFLICT (id, index)
    * DO UPDATE`): composite-PK merge through the registered
    * `graph.index_documents` spec. Staged docs rewrite their document
    * body; the composite key means the same id under a *different* index
    * would NOT collide — the oracle's tuple NOT IN states exactly that. */
  val docUpsert = Q(
    "q_doc_upsert",
    Some(
      "SELECT c_custkey AS id, lower(c_mktsegment) AS \"index\", " +
        "c_name AS document, 'old' AS src FROM customer WHERE c_custkey % 10 <> 0 " +
        "UNION ALL " +
        "SELECT c_custkey, lower(c_mktsegment), upper(c_name), 'staged' " +
        "FROM customer WHERE c_custkey % 10 = 0 ORDER BY 1, 2"),
    (s, dir) => {
      val c = Td(s, dir, "customer")
      val target = c.select(
        col("c_custkey").as("id"), lower(col("c_mktsegment")).as("index"),
        col("c_name").as("document"), lit("old").as("src"))
      val staged = c.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey").as("id"), lower(col("c_mktsegment")).as("index"),
          upper(col("c_name")).as("document"), lit("staged").as("src"))
      Upsert.merge(target, staged, Tables.indexDocuments, fullSync = false)
        .orderBy(col("id"), col("index"))
    }
  )

  /** The reference's central semantic axis — incremental sync — in its
    * STREAMING form, end-to-end: a full snapshot seeds a
    * bucket-partitioned parquet target, three disjoint date slices of
    * orders replay as three micro-batches (file source,
    * `maxFilesPerTrigger = 1`) through `StreamingSync.syncTable` →
    * `foreachBatch` → `Upsert.mergeAndWrite`, and the final on-disk
    * table is returned. Per-key last-writer-wins makes N sequential
    * merges ≡ one merge of the union (slices are disjoint, so batch
    * ORDER cannot matter either) — which is the closed form the oracle
    * states. Everything is freshly-created temp dirs per invocation, so
    * the query is idempotent under bench repetition. */
  val streamSync = Q(
    "q_stream_sync",
    Some(
      // o_orderkey % 3 subsample: the gate proves per-key last-writer-
      // wins across ordered micro-batch merges — key-count invariant
      "SELECT o_orderkey AS id, o_orderstatus AS status, 'old' AS src FROM orders " +
        "WHERE o_orderdate < TIMESTAMP '1997-01-01' AND o_orderkey % 3 = 0 " +
        "UNION ALL " +
        "SELECT o_orderkey, 'X', 'staged' FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderkey % 3 = 0 " +
        "ORDER BY 1"),
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_sync")
        .toString
      val target = s"$base/orders_pk"
      val o = Td(s, dir, "orders").filter(col("o_orderkey") % 3 === 0)
      def staged(lo: String, hi: String) = o
        .filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
          col("o_orderdate") < lit(hi).cast("timestamp"))
        .select(col("o_orderkey").as("id"), lit("X").as("status"),
          lit("staged").as("src"))
      // seed: the (subsampled) table as the pre-sync snapshot
      Upsert.mergeAndWrite(s, target,
        o.select(col("o_orderkey").as("id"), col("o_orderstatus").as("status"),
          lit("old").as("src")),
        ordersPk, fullSync = true, numBuckets = 16)
      // the feed: one parquet file per slice → one micro-batch each
      // testdata orderdates span 1995..2001 — the last slice's upper
      // bound must cover the tail or those orders silently stay 'old'.
      // Immutable given dir, so built once per JVM (FeedCache).
      val feed = FeedCache(
        s"stream_sync:$dir:slices=9701-9709,9709-9901,9901-0201") { feedDir =>
        Seq("1997-01-01" -> "1997-09-01", "1997-09-01" -> "1999-01-01",
          "1999-01-01" -> "2002-01-01").zipWithIndex.foreach { case ((lo, hi), i) =>
          Replay.writeSlice(staged(lo, hi), feedDir, i)
        }
      }
      // Feed-derived shuffle width (see Replay.replayPartitions:
      // per-partition machinery, not the operator, dominates a tiny
      // replay at the battery's full width).
      Replay.withShufflePartitions(s, Replay.replayPartitions(s, feed)) {
        val q = graft.streaming.StreamingSync.syncTable(
          Replay.source(s, feed, staged("1997-01-01", "1997-05-01").schema),
          target, s"$base/ckpt", ordersPk, numBuckets = 16)
        q.awaitTermination()
        s.read.parquet(target).drop(Upsert.BucketCol).orderBy(col("id"))
      }
    }
  )

  /** Orphan cleanup ([[Upsert.dropOrphans]], SURVEY.md §2.3 #30 —
    * reference database.ts:300-355: DELETE representations whose IE is
    * gone; DELETE includes rows whose rep or file is gone). Modeled as
    * the kept-set chain: surviving IEs = non-'F' orders; reps =
    * lineitem rows kept per IE; includes = (rep→file) pairs kept only
    * when BOTH the rep survived the first cleanup AND the file survived
    * its own filter — two semi-joins, zero extra shuffles beyond them. */
  val orphanCleanup = Q(
    "q_orphan_cleanup",
    Some(
      "SELECT l_orderkey AS rep_id, l_partkey AS file_id FROM lineitem " +
        "WHERE l_orderkey IN (SELECT o_orderkey FROM orders " +
        "WHERE o_orderstatus <> 'F') " +
        "AND l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 25) " +
        "ORDER BY 1, 2"),
    (s, dir) => {
      val surviving = Td(s, dir, "orders").filter(col("o_orderstatus") =!= "F")
      val reps = Upsert.dropOrphans(
        Td(s, dir, "lineitem"), surviving, "l_orderkey", "o_orderkey")
      val files = Td(s, dir, "part").filter(col("p_size") > 25)
      val includes = reps
        .select(col("l_orderkey").as("rep_id"), col("l_partkey").as("file_id"))
      Upsert.dropOrphans(includes, files, "file_id", "p_partkey")
        .orderBy(col("rep_id"), col("file_id"))
    }
  )

  /** Org-rename detection ([[graft.run.Runner.renamedOrgs]], SURVEY.md
    * §2.9 #82 — reference arc_db_load_index_tables_flow.py:156-227):
    * the organization dimension's current label is compared against the
    * maintainer name stored INSIDE each partition's documents; a
    * mismatch marks that whole partition for truncate+rebuild. Nations
    * play the orgs; even nation keys carry a stale stored name. The
    * driver-side collect is bounded by the org count (25 here; ~300 in
    * the reference's catalog), which is the reference's own shape — the
    * rebuild list feeds orchestration, not a data path. */
  val orgRename = Q(
    "q_org_rename",
    Some(
      "SELECT lower(n_name) AS org_index FROM nation " +
        "WHERE n_nationkey % 2 = 0 ORDER BY 1"),
    (s, dir) => {
      val nation = Td(s, dir, "nation")
      val orgDim = nation.select(
        col("n_name").as("org_identifier"),
        concat(lit("Org "), col("n_name")).as("skos_pref_label"))
      // two docs per org: one with the stored maintainer name (stale
      // for even keys), one without the field (first(ignoreNulls) must
      // skip it — the reference reads the name off whichever stored doc
      // has one)
      val named = nation.select(
        lower(col("n_name")).as("index"),
        concat(lit("{\"schema_maintainer\":{\"schema_name\":\"Org"),
          when(col("n_nationkey") % 2 === 0, lit(" OLD ")).otherwise(lit(" ")),
          col("n_name"), lit("\"}}")).as("document"))
      val unnamed = nation.select(
        lower(col("n_name")).as("index"), lit("{}").as("document"))
      val renamed = graft.run.Runner.renamedOrgs(
        orgDim, unnamed.unionByName(named))
      import s.implicits._
      renamed.sorted.toDF("org_index")
    }
  )

  /** Intersecting-schema static sources ([[graft.run.Runner.sync]] via
    * `withStaticSources`, SURVEY.md §2.1 #8 — reference
    * database.ts:35-45, 2_database_load.ts:196-202): tables present in
    * both the static seed set and the graph targets are appended to the
    * staged batch and merged, never truncated. Staged (1998+) and
    * static (every 7th pre-1998 order) key sets are disjoint, so the
    * merged end state has the closed form below; a wrong implementation
    * that truncates on static input or drops the static rows flips the
    * hash. */
  val staticSources = Q(
    "q_static_sources",
    Some(
      "SELECT o_orderkey AS id, " +
        "CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01' THEN 'X' " +
        "WHEN o_orderkey % 7 = 0 THEN 'S' ELSE o_orderstatus END AS status, " +
        "CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01' THEN 'staged' " +
        "WHEN o_orderkey % 7 = 0 THEN 'static' ELSE 'old' END AS src " +
        "FROM orders ORDER BY 1"),
    (s, dir) => {
      val o = Td(s, dir, "orders")
      val cut = col("o_orderdate") >= lit("1998-01-01").cast("timestamp")
      val target = o.select(col("o_orderkey").as("id"),
        col("o_orderstatus").as("status"), lit("old").as("src"))
      val staged = o.filter(cut).select(col("o_orderkey").as("id"),
        lit("X").as("status"), lit("staged").as("src"))
      val static = o.filter(!cut && col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("id"),
          lit("S").as("status"), lit("static").as("src"))
      val out = graft.run.Runner.sync(
        current = Map(ordersPk.name -> target),
        staged = Map(ordersPk.name -> staged),
        static = Map(ordersPk.name -> static),
        specs = Seq(ordersPk),
        params = graft.run.Runner.RunParams())
      out.head._2.orderBy(col("id"))
    }
  )

  /** Quirk #91 ([[graft.run.Runner.RunParams.effectiveFullSync]],
    * reference arc_db_load_flow.py:72-74): `full_sync` WITH `or_ids`
    * demotes to merge-everything — a truncate would drop other
    * organizations' rows. The staged batch covers only post-cutoff
    * orders; under a true full sync the pre-cutoff lineitems would
    * vanish, so the oracle's untouched-'old'-rows-survive closed form
    * (the key-clear merge) is exactly the demotion contract. */
  val fullSyncOrIds = Q(
    "q_fullsync_orids",
    Some(
      "SELECT l_orderkey, l_linenumber, 'old' AS src FROM lineitem " +
        "WHERE l_orderkey NOT IN (SELECT DISTINCT l_orderkey FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1998-01-01') " +
        "UNION ALL " +
        "SELECT l_orderkey, l_linenumber, 'staged' FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1998-01-01' ORDER BY 1, 2"),
    (s, dir) => {
      val li = Td(s, dir, "lineitem")
      val target = li.select(
        col("l_orderkey"), col("l_linenumber"), lit("old").as("src"))
      val staged = li
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), lit("staged").as("src"))
      val out = graft.run.Runner.sync(
        current = Map(lineitemChild.name -> target),
        staged = Map(lineitemChild.name -> staged),
        static = Map.empty,
        specs = Seq(lineitemChild),
        params = graft.run.Runner.RunParams(fullSync = true,
          orIds = Seq("OR-test-org")))
      out.head._2.orderBy(col("l_orderkey"), col("l_linenumber"))
    }
  )

  /** The FK-topo multi-table batch application end to end
    * ([[Upsert.applyAll]], SURVEY.md §2.3 #31 / §2.9 #77 — reference:
    * typescript/src/2_database_load.ts:188-223 walks the dependency
    * graph and merges each staged temp table into its target in
    * topological order). Four REGISTERED tables exercise every
    * applyAll branch in one batch:
    *  - `graph.intellectual_entity` (PK merge): staged 1998+ entities
    *    overwrite their names, the rest survive;
    *  - `graph.schema_license` (entity-key key-clear): staged {C}
    *    replaces the full {A,B} set of touched entities only;
    *  - `graph.mh_fragment_identifier`: NOT staged — passes through;
    *  - `graph.thing`: staged with NO current target — created.
    * The result is the long-form union of the merged states tagged
    * with each table's topo position, so the oracle checks BOTH the
    * merged rows and the deterministic topo order (positions are the
    * registry's Kahn order restated as constants). */
  val syncTopo = Q(
    "q_sync_topo",
    Some(
      "WITH o AS (SELECT CAST(o_orderkey AS VARCHAR) AS id, o_orderdate >= " +
        "TIMESTAMP '1998-01-01' AS is_new FROM orders WHERE o_orderkey % 3 = 0) " +
        "SELECT * FROM (" +
        "SELECT 'graph.intellectual_entity' AS tbl, 0 AS topo_pos, id, " +
        "(CASE WHEN is_new THEN 'New-' ELSE 'Cur-' END) || id AS val FROM o " +
        "UNION ALL " +
        "SELECT 'graph.thing', 1, CAST(c_custkey AS VARCHAR), " +
        "'T-' || CAST(c_custkey AS VARCHAR) FROM customer WHERE c_custkey % 10 = 0 " +
        "UNION ALL " +
        "SELECT 'graph.mh_fragment_identifier', 2, id, 'F-' || id FROM o " +
        "UNION ALL " +
        "SELECT 'graph.schema_license', 3, id, l FROM o, " +
        "(VALUES ('A'), ('B')) t(l) WHERE NOT is_new " +
        "UNION ALL " +
        "SELECT 'graph.schema_license', 3, id, 'C' FROM o WHERE is_new) " +
        "ORDER BY topo_pos, id, val"),
    (s, dir) => {
      val o = Td(s, dir, "orders").filter(col("o_orderkey") % 3 === 0)
      val okS = col("o_orderkey").cast("string")
      val isNew = col("o_orderdate") >= lit("1998-01-01").cast("timestamp")
      val specs = Seq(Tables.intellectualEntity, Tables.schemaLicense,
        Tables.mhFragmentIdentifier, Tables.thing)
      val current = Map(
        Tables.intellectualEntity.name -> o.select(
          okS.as("id"), concat(lit("Cur-"), okS).as("schema_name")),
        Tables.schemaLicense.name -> o.select(
          okS.as("intellectual_entity_id"),
          explode(array(lit("A"), lit("B"))).as("schema_license")),
        Tables.mhFragmentIdentifier.name -> o.select(
          okS.as("intellectual_entity_id"),
          concat(lit("F-"), okS).as("mh_fragment_identifier")))
      val staged = Map(
        Tables.intellectualEntity.name -> o.filter(isNew).select(
          okS.as("id"), concat(lit("New-"), okS).as("schema_name")),
        Tables.schemaLicense.name -> o.filter(isNew).select(
          okS.as("intellectual_entity_id"), lit("C").as("schema_license")),
        Tables.thing.name -> Td(s, dir, "customer")
          .filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey").cast("string").as("id"),
            concat(lit("T-"), col("c_custkey")).as("schema_name")))
      val keyValOf = Map(
        Tables.intellectualEntity.name -> ("id", "schema_name"),
        Tables.schemaLicense.name -> ("intellectual_entity_id", "schema_license"),
        Tables.mhFragmentIdentifier.name ->
          ("intellectual_entity_id", "mh_fragment_identifier"),
        Tables.thing.name -> ("id", "schema_name"))
      Upsert.applyAll(current, staged, specs, fullSync = false)
        .zipWithIndex
        .map { case ((name, df), i) =>
          val (idc, vc) = keyValOf(name)
          df.select(lit(name).as("tbl"), lit(i).as("topo_pos"),
            col(idc).as("id"), col(vc).as("val"))
        }
        .reduce(_.unionByName(_))
        .orderBy(col("topo_pos"), col("id"), col("val"))
    }
  )

  /** §2.1 #5 + §2.9 #77 under the oracle gate (round-11 advice): the
    * REAL JDBC write path — `JdbcSink.append` (Spark's jdbc format,
    * multi-row batches, database.ts:257-297) into embedded Derby for
    * both the seed and the staged batch, then the generated
    * `upsertSql(MergeInto)` (database.ts:214-223) executed BY the
    * database, then read back through `spark.read.jdbc`. The final
    * table content is closed-form (staged wins on PK ∪ untouched
    * seed), so DuckDB can state it over the same parquet — promoting
    * what was an sbt-only live-DB check to the driver's hash gate.
    *
    * The read-back is eagerly materialized (localCheckpoint) so the
    * per-invocation in-memory database can be dropped before the
    * frame is consumed — a long-lived JVM (bench warm-up + 3 timed
    * runs) must not accumulate Derby heaps. On a real cluster the URL
    * points at a networked database and the same plan distributes:
    * one connection per partition, `batchsize` rows per round trip.
    */
  val jdbcSink = Q(
    "q_jdbc_sink",
    Some(
      "WITH seed AS (SELECT c_custkey AS id, 'seed-' || c_name AS name, " +
        "0.0 AS acctbal FROM customer WHERE c_custkey % 3 = 0), " +
        "staged AS (SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal " +
        "FROM customer WHERE c_custkey % 2 = 0) " +
        "SELECT id, name, acctbal FROM staged " +
        "UNION ALL SELECT id, name, acctbal FROM seed " +
        "WHERE id NOT IN (SELECT id FROM staged) ORDER BY id"),
    (s, dir) => {
      import java.sql.DriverManager
      val cust = Td(s, dir, "customer")
      val seed = cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("id"),
          concat(lit("seed-"), col("c_name")).as("name"),
          lit(0.0).as("acctbal"))
      val staged = cust.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_acctbal").as("acctbal"))
      val spec = TableSpec("customer_sink",
        Seq("id" -> ColType.IntT, "name" -> ColType.Str,
          "acctbal" -> ColType.DoubleT))
      val db = s"gate_jdbc_${System.nanoTime()}"
      // territory pinned explicitly: Derby derives the db locale from
      // the JVM default, and Bench pins that to Locale.ROOT (empty
      // language) for JSON formatting — which Derby rejects (XBM0X).
      val url = s"jdbc:derby:memory:$db;create=true;territory=en_US"
      val conn = DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        st.execute("CREATE TABLE customer_sink (id BIGINT PRIMARY KEY, " +
          "name VARCHAR(64), acctbal DOUBLE)")
        st.execute("CREATE TABLE tmp_customer (id BIGINT, " +
          "name VARCHAR(64), acctbal DOUBLE)")
        graft.sink.JdbcSink.append(seed, url, "customer_sink")
        graft.sink.JdbcSink.append(staged, url, "tmp_customer")
        st.execute(graft.sink.JdbcSink.upsertSql(
          spec, "tmp_customer", graft.sink.JdbcSink.MergeInto))
        // Derby folds unquoted identifiers to upper case — re-alias to
        // the oracle's lower-case names (driver compares sorted names).
        s.read.format("jdbc").option("url", url)
          .option("dbtable", "customer_sink").load()
          .select(col("ID").as("id"), col("NAME").as("name"),
            col("ACCTBAL").as("acctbal"))
          .orderBy(col("id"))
          .localCheckpoint(true)
      } finally {
        conn.close()
        try { DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true"); () }
        catch { case _: java.sql.SQLException => () } // 08006 = dropped
      }
    }
  )

  val all: Seq[Q] = Seq(upsertKeyClear, upsertPk, upsertFullSync, docUpsert,
    streamSync, syncTopo, orphanCleanup, orgRename, staticSources,
    fullSyncOrIds, jdbcSink)
}
