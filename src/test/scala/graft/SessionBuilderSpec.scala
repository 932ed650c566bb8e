package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every entry point runs on `graft.run.LocalSession`: a second
  * `SparkSession.builder` under src/main/scala would grow its own
  * configuration again and drift from the session Bench times. */
class SessionBuilderSpec extends AnyFunSuite {

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("SparkSession.builder appears in exactly one src/main/scala file") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val builders = scalaFiles(root).filter { f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .contains("SparkSession.builder")
    }.map(_.getPath)
    assert(builders == Seq("src/main/scala/graft/run/LocalSession.scala"),
      s"build sessions through graft.run.LocalSession, not: $builders")
  }
}
