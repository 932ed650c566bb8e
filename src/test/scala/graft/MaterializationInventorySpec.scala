package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins how many places under src/main/scala materialize a frame
  * (`localCheckpoint(`, `.persist(`, `.cache()` and calls of
  * `Patterns.ensurePersisted(`, outside comments). Every site holds
  * storage someone must free, so the count should only go down. */
class MaterializationInventorySpec extends AnyFunSuite {

  /** The count after the last change that moved it. Lower it when a
    * site is removed; raising it needs a reason in the change that
    * adds the site. 47 → 48: `DeleteFlow.flagDeletes` stages its flags
    * with a `localCheckpoint`, so a caller's persist of them holds the
    * AQE-coalesced partitions instead of every initial shuffle
    * partition of the flags' `distinct`; the caller frees them with
    * `Checkpoints.free`. 48 → 47: that stage now calls `Upsert.stage`,
    * the engine's one staging form, instead of its own inline
    * `localCheckpoint`. 47 → 44: the IVF-flat and IVF-PQ indexes are
    * one cell index, so their two builds (two sites each) and two
    * extends (one each) are one of each. 44 → 43: the SSJoin posting
    * cap (`Dedup.capPostings`, an `ensurePersisted` caller) is
    * deleted with the scale valves that opened it. */
  private val pinned = 43

  /** `ensurePersisted` persists through one `.persist(` in its own
    * body, so each of its callers is a site too; its definition is
    * not. */
  private val site =
    """localCheckpoint\(|\.persist\(|\.cache\(\)|(?<!def )ensurePersisted\(""".r

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** `src` without its `//` and `/* */` comments; string literals are
    * kept, so a `//` inside one does not start a comment. */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    var inString, inBlock = false
    while (i < src.length) {
      val c = src(i)
      val next = if (i + 1 < src.length) src(i + 1) else '\u0000'
      if (inBlock) {
        if (c == '*' && next == '/') { inBlock = false; i += 1 }
      } else if (inString) {
        out += c
        if (c == '\\') { out += next; i += 1 }
        else if (c == '"' || c == '\n') inString = false
      } else if (c == '/' && next == '/') {
        while (i < src.length && src(i) != '\n') i += 1
        out += '\n'
      } else if (c == '/' && next == '*') { inBlock = true; i += 1 }
      else {
        if (c == '"') inString = true
        out += c
      }
      i += 1
    }
    out.toString
  }

  test("the persist/checkpoint call-site count is pinned") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val perFile = scalaFiles(root).map { f =>
      f.getPath -> site.findAllIn(code(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))).size
    }.filter(_._2 > 0).sortBy(_._1)
    val total = perFile.map(_._2).sum
    assert(total <= pinned,
      s"$total materialization sites, pinned $pinned: a new site needs a " +
        s"reason and a raised pin ($perFile)")
    assert(total >= pinned,
      s"$total materialization sites, pinned $pinned: a site went away, " +
        s"lower the pin to $total")
  }
}
