package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard: every `runMain graft.X` the README documents names a
  * class with a `main(Array[String])`, so a deleted or renamed main
  * cannot stay documented.
  */
class ReadmeMainsSpec extends AnyFunSuite {

  test("every runMain in README.md names a main on the classpath") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), java.nio.charset.StandardCharsets.UTF_8)
    val mains = "runMain (graft\\.[A-Za-z0-9_.]+)".r
      .findAllMatchIn(readme).map(_.group(1)).toSet
    assert(mains.nonEmpty)
    mains.foreach { name =>
      val cls = try Class.forName(name) catch {
        case _: ClassNotFoundException => fail(s"README documents missing main $name")
      }
      val m = cls.getMethod("main", classOf[Array[String]])
      assert(java.lang.reflect.Modifier.isStatic(m.getModifiers), name)
    }
  }
}
