package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.SparkEntry
import graft.run.{LocalSession, StatsListener}

/** Inspect registered queries on the Bench session (same cores, same
  * data-derived widths), so what it shows is what Bench times:
  *
  *   - `rows`    — the query's first rows and its row count: "what does
  *                 this gate actually return on this corpus";
  *   - `plan`    — the formatted physical plan plus its node / shuffle /
  *                 broadcast / scan / join counts as a markdown row;
  *                 with `all`, only the rows (PLANS.md);
  *   - `profile` — one cold and one warm run under a [[StatsListener]],
  *                 the warm run's stages largest first.
  *
  * Usage: `runMain graft.tools.Inspect <rows|plan|profile> <query|all>
  * [sfDir] [maxRows]`, cores from SPARK_GRAFT_CPUS (default 32) and
  * sfDir from SPARK_GRAFT_SF_DIR like Bench.
  */
object Inspect {

  /** Gates whose BUILDER executes work: the streaming replays run their
    * whole query inside `run` (the plan of the memory-sink read-back is
    * not the operator's plan), and q_jdbc_sink executes a Derby round
    * trip. `plan all` lists them without planning them. */
  private val executingGates =
    Set("q_stream_sync", "q_stream_multisync", "q_stream_sessionize",
      "q_stream_dedup", "q_stream_join", "q_stream_join_outer",
      "q_stream_decontaminate", "q_stream_ingest_dedup",
      "q_stream_ingest_rebuild", "q_stream_ingest_ann", "q_jdbc_sink")

  final case class Plan(text: String, nodes: Int, shuffles: Int,
                        broadcasts: Int, scans: Int, joins: Int) {
    def row(query: String): String =
      s"| $query | $nodes | $shuffles | $broadcasts | $scans | $joins |"
  }

  def plan(spark: SparkSession, sfDir: String, query: String): Plan = {
    val text = SparkEntry.queries(query)(spark, sfDir)
      .queryExecution.explainString(FormattedMode)
    // Count from the formatted text, not the SparkPlan tree:
    // `sparkPlan` predates EnsureRequirements (no Exchange nodes yet)
    // and `executedPlan` is an AdaptiveSparkPlanExec that hides its
    // inner plan from `children` — the formatted string is the one
    // view that includes the prepared plan AND cached-relation
    // (ensurePersisted) subtrees. Node detail lines look like
    // "(123) NodeName [codegen id : n]".
    val nodeLines = text.linesIterator
      .map(_.trim).filter(_.matches("""\(\d+\) .*""")).toSeq
      .map(_.replaceFirst("""\(\d+\) """, ""))
    def n(frag: String): Int = nodeLines.count(_.contains(frag))
    Plan(text, nodeLines.size, n("Exchange") - n("BroadcastExchange"),
      n("BroadcastExchange"), n("Scan"), n("Join"))
  }

  def rows(spark: SparkSession, sfDir: String, query: String,
           maxRows: Int): String = {
    val df = SparkEntry.queries(query)(spark, sfDir)
    (Seq(s"[rows] $query", df.columns.mkString("| ", " | ", " |")) ++
      df.take(maxRows).map(_.toSeq.mkString("| ", " | ", " |")) :+
      s"rows: ${df.count()}").mkString("\n")
  }

  def profile(spark: SparkSession, sfDir: String, query: String): String = {
    val fn = SparkEntry.queries(query)
    val listener = new StatsListener()
    spark.sparkContext.addSparkListener(listener)
    try {
      val cold = LocalSession.force(fn(spark, sfDir))
      val coldStages = listener.stages.size
      val warm = LocalSession.force(fn(spark, sfDir))
      val warmStages = listener.stages.drop(coldStages)
      val wallSum = warmStages.map(_.wallMs).sum / 1e3
      (Seq(
        f"[profile] $query cold=$cold%.2fs ($coldStages stages) warm=$warm%.2fs (${warmStages.size} stages)",
        f"${"stage"}%6s ${"wall_s"}%8s ${"task_s"}%8s ${"records"}%12s ${"shRd_MB"}%9s ${"shWr_MB"}%9s  name") ++
        warmStages.sortBy(-_.wallMs).take(30).map { s =>
          f"${s.id}%6d ${s.wallMs / 1e3}%8.2f ${s.taskMs / 1e3}%8.2f ${s.recordsRead}%12d ${s.shuffleReadBytes / 1e6}%9.1f ${s.shuffleWriteBytes / 1e6}%9.1f  ${s.name.take(90)}"
        } :+
        f"[profile] warm stage-wall sum=$wallSum%.1fs (gaps to $warm%.1fs = driver/planning/codegen)"
      ).mkString("\n")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val modes = Set("rows", "plan", "profile")
    val known = SparkEntry.queries.keySet
    if (args.length < 2 || !modes(args(0)) || !(args(1) == "all" || known(args(1)))) {
      System.err.println(
        "usage: runMain graft.tools.Inspect <rows|plan|profile> <query|all> [sfDir] [maxRows]")
      sys.exit(2)
    }
    val (mode, query) = (args(0), args(1))
    val sfDir = args.lift(2).getOrElse(LocalSession.defaultSfDir)
    val maxRows = args.lift(3).map(_.toInt).getOrElse(50)
    val queries = if (query == "all") known.toSeq.sorted else Seq(query)
    val spark = LocalSession.build(32, sfDir)
    try {
      if (mode == "plan" && query == "all") {
        println("| query | nodes | shuffles | broadcasts | scans | joins |")
        println("| --- | --- | --- | --- | --- | --- |")
      }
      queries.foreach { q =>
        println(try mode match {
          case "rows" => rows(spark, sfDir, q, maxRows)
          case "profile" => profile(spark, sfDir, q)
          case _ if query != "all" =>
            val p = plan(spark, sfDir, q)
            s"${p.text}\n${p.row(q)}"
          // ASCII on purpose: an em-dash here reaches PLANS.md as "?"
          // when sbt's console charset isn't UTF-8 (the r15 doc-drift).
          case _ if executingGates(q) =>
            s"| $q | builder | builder | builder | builder | builder |"
          case _ => plan(spark, sfDir, q).row(q)
        } catch { case e: Exception if query == "all" =>
          // One failing query must not end an `all` sweep; the row keeps
          // the plan table's 6 columns.
          val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
            .replace("|", "/").take(60)
          s"| $q | failed: $msg | - | - | - | - |"
        })
        LocalSession.release(spark)
      }
    } finally spark.stop()
  }
}
