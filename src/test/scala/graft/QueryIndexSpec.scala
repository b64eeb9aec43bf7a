package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** CI staleness gate for the generated `QUERY_INDEX.md` (VERDICT r9
  * task 8): regenerates the query → API → spec → oracle table from the
  * live `SparkEntry` maps + source scan and fails if the committed file
  * differs — adding a query without regenerating the index breaks the
  * build instead of silently aging the inventory.
  */
class QueryIndexSpec extends AnyFunSuite {

  test("QUERY_INDEX.md matches the generated table") {
    val path = Paths.get("QUERY_INDEX.md")
    assert(Files.exists(path),
      "QUERY_INDEX.md missing — run sbt \"Test/runMain graft.QueryIndexGen\"")
    val committed = new String(Files.readAllBytes(path), "UTF-8")
    val fresh = QueryIndexGen.render()
    assert(committed == fresh,
      "QUERY_INDEX.md is stale — run sbt \"Test/runMain graft.QueryIndexGen\"")
  }

  test("every query key resolves to a real def-site anchor") {
    val fresh = QueryIndexGen.render()
    // the def-site column (3rd) is `path#method`; it must name a file
    // under src/main that really holds `def method`. Degrading to the —
    // placeholder means the parse lost track of an operator. The specs
    // column MAY be — (some parity keys are exercised only through the
    // driver oracle + streaming twins), so it is not asserted here.
    val anchor = raw"`([^`#]+)#([A-Za-z0-9]+)`".r
    val broken = fresh.linesIterator
      .filter(_.startsWith("| `"))
      .filterNot { row =>
        row.split("\\|")(3).trim match {
          case anchor(file, method) =>
            val p = Paths.get("src/main/scala", file)
            Files.exists(p) &&
              raw"def\s+$method\b".r.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined
          case _ => false
        }
      }.toSeq
    assert(broken.isEmpty, s"unresolved def-site rows:\n${broken.mkString("\n")}")
  }
}
