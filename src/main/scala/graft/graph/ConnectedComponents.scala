package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.run.Checkpoints

/** Distributed connected components — the clustering step a dedup
  * pipeline needs between "near-duplicate PAIRS" and "keep one doc per
  * duplicate CLUSTER" (absent in the reference, which has no graph
  * analytics; the near-dup operators in [[graft.dedup.Dedup]] emit
  * pairs, and transitive duplicates A~B~C must collapse to one
  * component before a keeper can be chosen).
  *
  * Algorithm: min-label propagation with pointer doubling (the
  * shortcutting idea of the alternating small-star/large-star
  * algorithm, Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14). Every node starts labeled with its own id; each
  * round takes the min label over itself and its neighbors, then
  * shortcuts by adopting its current label's own label (labels only
  * decrease and `label <= id` is invariant, so the parent's label is
  * always <= ours). Pointer doubling makes convergence O(log diameter)
  * rounds instead of O(diameter) — a 100-link duplicate chain settles
  * in ~7 rounds, not 100.
  *
  * Scale shape: each round is two equi-joins + one aggregation —
  * shuffle ∝ edges, never quadratic; labels are `localCheckpoint`ed
  * per round so lineage stays flat across iterations (the standard
  * iterative-DataFrame discipline). The driver loop iterates over
  * ROUND COUNTS (bounded by log diameter), never over data — the only
  * driver-side value is the convergence flag.
  */
object ConnectedComponents {

  /** Components of the undirected graph: one row per node in `nodes`,
    * labeled with the smallest node id reachable from it (isolated
    * nodes keep their own id). Edge endpoints must appear in `nodes`.
    *
    * @param nodes  one column `idCol`, unique node ids (long)
    * @param edges  two columns `srcCol`, `dstCol` (long) — undirected,
    *               duplicates/self-loops tolerated
    * @return       (idCol, "component") — component = min reachable id
    */
  def run(nodes: DataFrame, edges: DataFrame,
          idCol: String = "id", srcCol: String = "src", dstCol: String = "dst",
          maxRounds: Int = 25): DataFrame = {
    val und = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .unionByName(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint() // reused every round — compute the flip once
    var lbl = nodes.select(col(idCol).as("id"), col(idCol).as("lbl"))
      .localCheckpoint()
    var round = 0
    var converged = false
    // try/finally: on ANY exit — success, non-convergence, or a failed
    // round — the edge frame's blocks are freed, and on the failure
    // paths the last round's label blocks are freed too (they used to
    // leak for the application lifetime when the require below threw).
    try {
      while (!converged && round < maxRounds) {
      // (1) neighbor-min: min label over self and all neighbors
      val viaNbr = und.join(lbl.select(col("id").as("b"), col("lbl")), Seq("b"))
        .select(col("a").as("id"), col("lbl"))
      val m1 = viaNbr.unionByName(lbl.select(col("id"), col("lbl")))
        .groupBy(col("id"))
        .agg(min(col("lbl")).as("lbl"))
      // (2) pointer doubling: adopt the label of my label (parent's
      // label <= parent's id = my label, by the label <= id invariant).
      // The per-node `changed` flag rides along in the SAME frame, and
      // convergence is read from an `observe` metric (CollectMetrics
      // accumulator): the checkpoint action that materializes the
      // round ALSO aggregates max(changed) on the way through, so the
      // round is ONE job, not checkpoint + a second max-scan job (r20,
      // guide §2.4 — the r19 join-fold attempt regressed because it
      // widened the round's shuffles; the observe accumulator adds no
      // shuffle and no plan change beyond a pass-through metrics node).
      val flagged = m1.join(
        m1.select(col("id").as("lbl"), col("lbl").as("plbl")), Seq("lbl"))
        .select(col("id"), col("plbl").as("lbl"))
        .join(lbl.select(col("id"), col("lbl").as("prev")), Seq("id"))
        .select(col("id"), col("lbl"), (col("lbl") =!= col("prev")).as("changed"))
      val observed = flagged.observe(s"cc_round_$round",
        coalesce(max(col("changed")), lit(false)).as("any_changed"))
      val next = observed.localCheckpoint()
      // Missing metric must FAIL, not read as converged: a silent
      // miss would return half-propagated labels as final.
      val metric = observed.queryExecution.observedMetrics
        .getOrElse(s"cc_round_$round", throw new IllegalStateException(
          "CC convergence observe metric missing from the round's " +
            "checkpoint action"))
      converged = !metric.getBoolean(0)
      // `next` is materialized (checkpoint is eager), so the previous
      // round's blocks are unreachable from here on — free them, or
      // every round's checkpoint stays in block-manager memory for the
      // application lifetime.
      Checkpoints.free(lbl)
      lbl = next
        round += 1
      }
      require(converged, s"did not converge in $maxRounds rounds — " +
        "component diameter exceeds 2^maxRounds or the graph is malformed")
    } catch {
      case e: Throwable => Checkpoints.free(lbl); throw e
    } finally Checkpoints.free(und)
    // The result still reads the final round's checkpointed label
    // blocks — callers that materialize the result (write/collect)
    // should then hand it to `Checkpoints.free` to drop them.
    lbl.select(col("id").as(idCol), col("lbl").as("component"))
  }

  /** Keeper per component: the smallest id — composes [[run]] into the
    * dedup contract (`keep = doc whose id == its component label`). */
  def keepers(components: DataFrame, idCol: String = "id"): DataFrame =
    components.filter(col(idCol) === col("component")).select(col(idCol))

  /** One keeper per component chosen by QUALITY, not id: the member
    * with the highest score survives (ties broken by min id, so the
    * choice is deterministic). This is what a real pretraining dedup
    * wants — "keep the best version of each duplicate cluster" (the
    * longest, highest-quality-scored, least-boilerplate copy) — where
    * [[keepers]]'s min-id rule keeps an arbitrary one.
    *
    * Scale shape: one equi-join of the component labels with the score
    * frame + one window pick per component — shuffle ∝ nodes, and the
    * window partitions by component so no global sort. Returns
    * (idCol, "component", scoreCol) for the surviving rows.
    *
    * `scores` need not cover every node: the join is a LEFT join and
    * unscored members rank LOWEST (Spark's `desc` orders NULLs last),
    * so partial score coverage can never make a document — or a whole
    * component — vanish from the output. A component none of whose
    * members is scored still keeps exactly one (its min id), with a
    * NULL `scoreCol`. This is load-bearing for the packaged
    * [[graft.dedup.Dedup.textDedup]]/`semanticDedup` contract
    * ("singleton docs keep themselves") when the caller's score frame
    * has gaps. */
  def keepersBy(components: DataFrame, scores: DataFrame,
                idCol: String = "id", scoreCol: String = "score"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col(scoreCol).desc, col(idCol))
    components.join(scores, Seq(idCol), "left")
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("component"), col(scoreCol))
  }
}
