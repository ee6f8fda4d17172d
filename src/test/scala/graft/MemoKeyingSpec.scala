package graft

import org.scalatest.funsuite.AnyFunSuite

/** The memo keying rule has one home: `CacheRegistry` builds every
  * memo key from the application id and the caller's build
  * parameters. Any other mention of the application id under
  * `src/main/scala` is a hand-rolled key — a second memo mechanism.
  */
class MemoKeyingSpec extends AnyFunSuite {

  test("applicationId appears in src/main/scala only in " +
      "engine/CacheRegistry.scala") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"run from the repository root (cwd ${sys.props("user.dir")})")
    val walk = java.nio.file.Files.walk(root)
    val offenders =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(_.endsWith(java.nio.file.Paths.get(
          "graft", "engine", "CacheRegistry.scala")))
        .filter(p => java.nio.file.Files.readString(p).contains("applicationId"))
        .map(_.toString).toList
      finally walk.close()
    assert(offenders.isEmpty,
      s"memo keys built outside CacheRegistry: ${offenders.mkString(", ")}")
  }
}
