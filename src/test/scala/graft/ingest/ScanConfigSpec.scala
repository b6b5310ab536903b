package graft.ingest

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftConfig

class ScanConfigSpec extends AnyFunSuite {

  test("included: wildcard admits all; globs match path or basename") {
    def included(relPath: String, includes: Seq[String]) =
      new SourceScan.Surface(GraftConfig(includes = includes)).admits(relPath, 0L)
    assert(included("a/b/c.py", Seq("*")))
    assert(included("a/b/c.py", Seq("*.py")))
    assert(!included("a/b/c.js", Seq("*.py")))
    assert(included("src/x.md", Seq("*.py", "*.md")))
  }

  test("GraftConfig drives the file walk: includes, excludes, size cap") {
    val root = Files.createTempDirectory("graft_cfg").toString
    Files.createDirectories(Paths.get(root, "node_modules"))
    Files.createDirectories(Paths.get(root, "src"))
    Files.writeString(Paths.get(root, "src/a.py"), "x = 1\n")
    Files.writeString(Paths.get(root, "src/b.js"), "var x = 1\n")
    Files.writeString(Paths.get(root, "src/big.py"), "y = 2\n" * 50)
    Files.writeString(Paths.get(root, "node_modules/dep.js"), "ignored\n")

    val all = SourceScan.listFiles(root, GraftConfig()).map(_._1)
    assert(all.contains("src/a.py") && all.contains("src/b.js"))
    assert(!all.exists(_.startsWith("node_modules/"))) // default excludes

    val pyOnly = SourceScan.listFiles(root, GraftConfig(includes = Seq("*.py"))).map(_._1)
    assert(pyOnly.forall(_.endsWith(".py")) && pyOnly.contains("src/a.py"))

    val small = SourceScan.listFiles(root, GraftConfig(maxFileSize = 20)).map(_._1)
    assert(small.contains("src/a.py") && !small.contains("src/big.py"))
  }
}
