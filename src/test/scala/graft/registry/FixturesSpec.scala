package graft.registry

import java.nio.file.{FileSystems, Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The fixture globs follow the checkout the JVM runs in: each one lies
  * under `user.dir` and matches files there, so two checkouts side by side
  * (an A/B cell) each read their own fixtures. */
class FixturesSpec extends AnyFunSuite {

  test("every fixture glob is rooted at user.dir and matches files") {
    val root = Paths.get(System.getProperty("user.dir"), "src", "test", "resources")
    for (glob <- Seq(Fixtures.TaggedGlob, Fixtures.TaggedErGlob, Fixtures.LogGlob)) {
      assert(glob.startsWith(s"$root/"), glob)
      val matcher = FileSystems.getDefault.getPathMatcher(s"glob:$glob")
      val files = Files.walk(root)
      val n = try files.filter(p => Files.isRegularFile(p) && matcher.matches(p)).count()
        finally files.close()
      assert(n > 0, s"$glob matches no file")
    }
  }
}
