package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard: a doc comment that sits directly above another doc
  * comment documents nothing (scaladoc attaches only the last one), so
  * every block under src/main must sit on the definition it describes.
  */
class ScaladocSpec extends AnyFunSuite {

  private def sources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten
      .flatMap(f => if (f.isDirectory) sources(f) else Seq(f))
      .filter(_.getName.endsWith(".scala"))

  test("no doc comment under src/main sits directly above another") {
    val main = sources(new java.io.File("src/main"))
    assert(main.nonEmpty)
    for (f <- main) {
      val lines = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq
      lines.zip(lines.drop(1)).zipWithIndex.foreach { case ((a, b), i) =>
        assert(!(a.trim.endsWith("*/") && b.trim.startsWith("/**")),
          s"${f.getPath}:${i + 1} documents nothing: a doc comment follows it directly")
      }
    }
  }
}
