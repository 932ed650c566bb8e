package graft.graph

import graft.SparkSuite

class ConnectedComponentsSpec extends SparkSuite {
  import spark.implicits._

  private def cc(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.run(
      nodes.toDF("id"), edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  /** Reference union-find for cross-checking. */
  private def brute(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // normalize every root to the min id in its set
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val m = members.min; members.map(_ -> m)
    }
  }

  test("chains, stars, cycles, isolated nodes") {
    val nodes = (0L to 12L)
    // chain 0-1-2-3, star 4<-{5,6,7}, triangle 8-9-10-8, isolated 11,12
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (5L, 4L), (6L, 4L), (7L, 4L),
      (8L, 9L), (9L, 10L), (10L, 8L))
    val got = cc(nodes, edges)
    assert(got === Map(
      0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 4L,
      8L -> 8L, 9L -> 8L, 10L -> 8L, 11L -> 11L, 12L -> 12L))
  }

  test("long chain converges in logarithmic rounds (pointer doubling)") {
    // a 200-link chain: plain min propagation would need 200 rounds,
    // the maxRounds=25 default only suffices with shortcutting
    val nodes = (0L until 200L)
    val edges = (0L until 199L).map(i => (i, i + 1))
    val got = cc(nodes, edges)
    assert(got.values.toSet === Set(0L))
  }

  test("rounds read convergence from the observe metric: no head/collect " +
    "action from ConnectedComponents") {
    // Every Dataset action opens one SQL execution described by its
    // call site ("localCheckpoint at ConnectedComponents.scala:NN").
    val seen = sqlExecutions {
      val got = cc(0L until 200L, (0L until 199L).map(i => (i, i + 1)))
      assert(got.values.toSet === Set(0L))
    }.filter(_.contains("ConnectedComponents.scala"))
    assert(seen.exists(_.startsWith("localCheckpoint")),
      s"no round checkpoint action observed: $seen")
    val actions = seen.filter(n =>
      Seq("head", "collect", "first", "take").exists(a => n.startsWith(a + " ")))
    assert(actions.isEmpty, s"separate convergence actions ran: $actions")
  }

  test("matches union-find on random graphs") {
    val r = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val n = 60
      val nodes = (0L until n.toLong)
      val edges = Seq.fill(40)((r.nextInt(n).toLong, r.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(cc(nodes, edges) === brute(nodes, edges), s"trial $trial")
    }
  }

  test("self-loops and duplicate edges are tolerated; keepers = component minima") {
    val nodes = Seq(1L, 2L, 3L)
    val edges = Seq((1L, 1L), (2L, 3L), (3L, 2L), (2L, 3L))
    val comps = ConnectedComponents.run(nodes.toDF("id"), edges.toDF("src", "dst"))
    assert(comps.as[(Long, Long)].collect().toMap ===
      Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
    assert(ConnectedComponents.keepers(comps).as[Long].collect().toSet ===
      Set(1L, 2L))
  }

  test("keepersBy keeps the max-score member per component, min-id on ties") {
    // {1} isolated; {2,3} joined; {4,5,6} a chain. Scores make the
    // NON-minimum id the best in both multi-node clusters, and 5/6 tie.
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L)
    val edges = Seq((2L, 3L), (4L, 5L), (5L, 6L))
    val scores = Seq(1L -> 10L, 2L -> 1L, 3L -> 7L,
      4L -> 2L, 5L -> 9L, 6L -> 9L)
    val comps = ConnectedComponents.run(nodes.toDF("id"), edges.toDF("src", "dst"))
    val kept = ConnectedComponents.keepersBy(comps, scores.toDF("id", "score"))
      .as[(Long, Long, Long)].collect()
      .map { case (id, comp, sc) => comp -> ((id, sc)) }.toMap
    assert(kept === Map(
      1L -> ((1L, 10L)),  // isolated keeps itself
      2L -> ((3L, 7L)),   // 3 outscores the component minimum 2
      4L -> ((5L, 9L))))  // 5 and 6 tie at 9 → min id 5
  }

  test("keepersBy tolerates score gaps: unscored members rank lowest, " +
    "an all-unscored component still keeps its min id") {
    // {1} isolated and UNSCORED; {2,3} joined with only 3 scored;
    // {4,5} joined, neither scored. With the old inner join, 1 and
    // the whole {4,5} cluster silently vanished from the output.
    val nodes = Seq(1L, 2L, 3L, 4L, 5L)
    val edges = Seq((2L, 3L), (4L, 5L))
    val scores = Seq(3L -> 1L)
    val comps = ConnectedComponents.run(nodes.toDF("id"), edges.toDF("src", "dst"))
    val kept = ConnectedComponents.keepersBy(comps, scores.toDF("id", "score"))
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    assert(kept === Map(
      1L -> ((1L, None)),       // unscored singleton keeps itself
      2L -> ((3L, Some(1L))),   // the one scored member beats unscored 2
      4L -> ((4L, None))))      // all-unscored cluster keeps min id
  }
}
