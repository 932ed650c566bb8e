package graft.ops

import org.apache.spark.sql.execution.joins.CartesianProductExec

import graft.SparkSuite

/** Plan-shape audit (design-for-100×): assertions that the *plans* of
  * registered queries keep the properties the scale story depends on —
  * predicate pushdown reaching the parquet scan, no accidental cartesian
  * products, no force-broadcast of fact-proportional tables.
  */
class PlanAuditSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String) =
    Registry.byName(name).run(spark, dir).queryExecution

  test("quad pivot pushes the predicate isin filter into the scan") {
    // The pruned-predicate filter must sit below the aggregate, not
    // above it: the whole point is scanning only declared predicates.
    val optimized = planOf("q_quad_pivot").optimizedPlan.toString
    assert(optimized.contains("urn:kg-to-postgres:tableName"),
      "routing predicate filter missing from optimized plan")
  }

  test("no registered query plans a CartesianProduct (brute-force ANN excepted)") {
    val allowed = Set("q_ann_cosine") // deliberate broadcast NLJ baseline
    Registry.all.filterNot(q => allowed(q.name)).foreach { q =>
      val plan = q.run(spark, dir).queryExecution.executedPlan
      val cart = plan.collect { case c: CartesianProductExec => c }
      assert(cart.isEmpty, s"${q.name} plans a CartesianProduct")
    }
  }

  test("parquet scans prune columns (ReadSchema subset) for scalar queries") {
    // q_scalar_bind projects 3 supplier columns; the scan must not read
    // the whole table schema.
    val scan = planOf("q_scalar_bind").executedPlan.toString
    val readSchema = "ReadSchema: struct<s_suppkey:bigint,s_name:string,s_acctbal:double"
    assert(scan.contains(readSchema), s"column pruning lost:\n$scan")
  }

  test("since filter reaches the parquet scan as a pushed filter") {
    val scan = planOf("q_since_filter").executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"since filter not pushed:\n$scan")
  }

  test("decontamination joins the test-set shingles as a broadcast, " +
    "never shuffling the corpus side for the semi-join") {
    val plan = planOf("q_decontaminate").executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftSemi"),
      s"test-set semi-join is not broadcast:\n$plan")
  }

  test("shard packing is one window shuffle over the bucket key") {
    val plan = planOf("q_pack_shards").executedPlan
    val exchanges = plan.toString.split("\n")
      .count(_.contains("Exchange hashpartitioning"))
    // one hash exchange for the window partition key; the final
    // orderBy adds a range exchange, nothing else shuffles
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$plan")
  }

  test("temporal joins never fall back to nested-loop plans") {
    // asOfJoin is a window pass and rangeJoin a bucketed equi-join by
    // construction; if a refactor reintroduced the naive inequality
    // join Spark would plan BroadcastNestedLoopJoin — quadratic, dead
    // at scale.
    for (q <- Seq("q_asof_join", "q_range_join")) {
      val plan = planOf(q).executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested-loop join:\n$plan")
    }
  }

  test("PII redaction rides the scan: no exchange before the ordering, " +
    "no UDF anywhere") {
    // The scrub stage must stay a narrow codegen projection — at
    // 100 TB it is bandwidth-bound or it is wrong. The gate's final
    // orderBy adds one range exchange for deterministic compare; the
    // redaction itself must contribute zero shuffles and zero
    // non-codegen expressions.
    val plan = planOf("q_pii_redact").executedPlan.toString
    val exchanges = plan.split("\n").count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected only the sort's exchange:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"redaction fell out of codegen:\n$plan")
  }

  test("rank<=k window filters compile to WindowGroupLimit pruning") {
    // Spark's InferWindowGroupLimit turns row_number<=k filters into a
    // partial (pre-shuffle) + final group-limit pair, so top-k-per-key
    // never sorts or shuffles more than k rows per key per partition —
    // the reason a custom bounded-heap operator is NOT needed. Guard
    // the queries that depend on it: a refactor that hides the rank
    // filter from the optimizer (e.g. an intervening project the rule
    // can't see through) would silently fall back to full window sorts.
    for (q <- Seq("q_tfidf", "q_window_rn", "q_window_priority")) {
      val plan = planOf(q).executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"$q lost the WindowGroupLimit rewrite:\n$plan")
    }
  }

  test("q_entity_families is one fused plan: no checkpointed family leaf") {
    // The nine family frames join inside ONE Catalyst plan; a
    // localCheckpoint per family would surface as LogicalRDD leaves.
    val leaves = planOf("q_entity_families").analyzed.collectLeaves()
    val checkpointed = leaves.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }
    assert(checkpointed.isEmpty,
      s"${checkpointed.size} checkpointed leaves in the families plan")
  }
}
