package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pins the set of runnable entry points. Every object under
  * `src/main/scala` that declares `def main(` must be listed here, so a new
  * dev probe main is added on purpose rather than by accretion.
  */
class EntryPointsSpec extends GraftSpec {

  private val Kept = Set(
    "graft.Bench",                // benchmark JSON line
    "graft.BenchExtra",           // per-operator legs with load/CPU stamps
    "graft.Verify",               // writes every query for the oracles
    "graft.QueryProbe",           // single-query oracle iteration
    "graft.cli.ValidateMain",     // validation CLI
    "graft.CpuProbe",             // host CPU ceiling for scaling figures
    "graft.ComponentsScaleProbe") // components solve at 10^6-10^7 edges

  private val ObjectDecl = """(?m)^\s*(?:private\s+|final\s+|case\s+)*object\s+(\w+)""".r
  private val PackageDecl = """(?m)^package\s+([\w.]+)""".r

  /** Fully qualified names of the objects in `file` whose body declares
    * `def main(`; an object's body runs to the next object declaration.
    */
  private def mainObjects(file: Path): Seq[String] = {
    val src = Files.readString(file)
    val pkg = PackageDecl.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
    val decls = ObjectDecl.findAllMatchIn(src).toSeq
    decls.zipWithIndex.collect {
      case (m, i) if src.substring(m.end,
          if (i + 1 < decls.length) decls(i + 1).start else src.length)
        .contains("def main(") => pkg + m.group(1)
    }
  }

  test("the objects declaring main are exactly the kept entry points") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root, not ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val mains = files.flatMap(mainObjects).toSet
    assert(mains === Kept,
      s"added: ${(mains -- Kept).toSeq.sorted}, missing: ${(Kept -- mains).toSeq.sorted}")
  }
}
