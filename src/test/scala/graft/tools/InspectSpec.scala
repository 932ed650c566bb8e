package graft.tools

import graft.SparkSuite

class InspectSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("plan counts the nodes and shuffles of the formatted plan") {
    val p = Inspect.plan(spark, dir, "q_index_doc")
    assert(p.nodes > 0 && p.shuffles > 0, p.row("q_index_doc"))
    assert(p.text.contains("Exchange"))
  }

  test("rows prints the header, rows and the row count") {
    val out = Inspect.rows(spark, dir, "q_index_doc", maxRows = 3)
    val lines = out.linesIterator.toSeq
    assert(lines.head == "[rows] q_index_doc")
    assert(lines.last.matches("rows: [1-9][0-9]*"), out)
    assert(lines.size == 6, out) // title, header, 3 rows, count
  }

  test("profile times a cold and a warm run") {
    val out = Inspect.profile(spark, dir, "q_index_doc")
    assert(out.startsWith("[profile] q_index_doc cold="), out)
    assert(out.contains("warm stage-wall sum="), out)
  }
}
