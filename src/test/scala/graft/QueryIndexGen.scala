package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Generator for `QUERY_INDEX.md` — the query → API → spec → oracle
  * cross-reference VERDICT r9 task 8 asked for. The table is DERIVED,
  * never hand-edited: every row starts from a live `SparkEntry.queries`
  * key, the API anchor is parsed out of `SparkEntry.scala`'s binding for
  * that key, the defining file comes from a `def <method>` scan of
  * `src/main`, and the spec column lists the test files that exercise
  * the method. `QueryIndexSpec` regenerates the table on every `sbt
  * test` run and fails if the committed file is stale, so the index can
  * never drift from the code the way a hand-maintained inventory would.
  *
  * Regenerate with: `sbt "Test/runMain graft.QueryIndexGen"` (or
  * `tools/gen_query_index.sh`).
  */
object QueryIndexGen {

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  private def scalaFiles(root: String): Seq[Path] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)

  /** The `Module.method` call bound to a query key, parsed from the text
    * of SparkEntry.scala: from the key's `"<key>" ->` position, the
    * first capitalized `Module.method(` call that follows. Multi-line
    * bindings (the binding lambda spans lines) are covered because the
    * scan runs over the flat source text, not a single line.
    */
  private def apiFor(entrySrc: String, key: String): String = {
    val at = entrySrc.indexOf("\"" + key + "\" ->")
    require(at >= 0, s"query key $key not found in SparkEntry.scala")
    // window ends at the NEXT binding's arrow so a short binding can't
    // bleed into its neighbor's operator call
    val next = entrySrc.indexOf("\" ->", at + key.length + 6)
    val end = if (next < 0) math.min(entrySrc.length, at + 600) else next
    val window = entrySrc.substring(at, end)
    val call = raw"([A-Z][A-Za-z0-9]*)\.([a-zA-Z0-9]+)\(".r
    val ms = call.findAllMatchIn(window).map(m => (m.group(1), m.group(2))).toSeq
    // skip fixture/table accessors nested inside the operator call
    ms.find { case (mod, meth) => mod != "Tables" && !meth.endsWith("Fixtures") }
      .orElse(ms.headOption)
      .map { case (mod, meth) => s"$mod.$meth" }
      .getOrElse("SparkEntry (inline)")
  }

  /** `path#method` of the first `def <method>` in src/main — the anchor.
    * Named by method, not line, so an unrelated edit that shifts lines
    * cannot stale the index.
    */
  private def defSite(mainSources: Seq[(Path, String)], api: String): String = {
    val method = api.substring(api.indexOf('.') + 1)
    val pat = raw"def\s+$method\b".r
    mainSources.collectFirst {
      case (p, src) if pat.findFirstIn(src).isDefined =>
        s"`${p.toString.stripPrefix("src/main/scala/")}#$method`"
    }.getOrElse("—")
  }

  /** Test files that exercise the method (or name the key directly). */
  private def specsFor(
      testSources: Seq[(Path, String)], api: String, key: String): String = {
    val method = api.substring(api.indexOf('.') + 1)
    val token = "." + method + "("
    val hits = testSources.collect {
      case (p, src)
          if (src.contains(token) || src.contains("\"" + key + "\"")) &&
            p.getFileName.toString != "QueryIndexGen.scala" =>
        p.getFileName.toString.stripSuffix(".scala")
    }.distinct
    if (hits.isEmpty) "—" else hits.take(3).mkString(", ")
  }

  /** Sort key: parity keys (d…, c…) first in name order, then x-keys by
    * their number (x2 before x10 — a plain string sort interleaves).
    */
  private def order(key: String): (Int, Int, String) = {
    val xnum = raw"x(\d+)_.*".r
    key match {
      case xnum(n) => (1, n.toInt, key)
      case _       => (0, 0, key)
    }
  }

  def render(): String = {
    val entrySrc = read(Paths.get("src/main/scala/graft/SparkEntry.scala"))
    val mainSources = scalaFiles("src/main/scala").map(p => (p, read(p)))
    val testSources = scalaFiles("src/test/scala").map(p => (p, read(p)))
    val keys = SparkEntry.queries.keys.toSeq.sortBy(order)
    val oracles = SparkEntry.oracleSql
    val rows = keys.map { key =>
      val api = apiFor(entrySrc, key)
      val site = defSite(mainSources, api)
      val specs = specsFor(testSources, api, key)
      val oracle = if (oracles.contains(key)) "DuckDB hash" else "rows-only"
      s"| `$key` | `$api` | $site | $specs | $oracle |"
    }
    val nOracle = keys.count(oracles.contains)
    val head = Seq(
      "# Query index (generated — do not edit)",
      "",
      "Generated from `SparkEntry.queries` / `SparkEntry.oracleSql` by",
      "`graft.QueryIndexGen` (`sbt \"Test/runMain graft.QueryIndexGen\"` or",
      "`tools/gen_query_index.sh`). `QueryIndexSpec` fails the build when",
      s"this file is stale. ${keys.size} query keys, $nOracle with a DuckDB",
      "oracle (any others are checked rows-only by the driver).",
      "",
      "| Query key | API | defined at | specs | oracle |",
      "|---|---|---|---|---|")
    (head ++ rows).mkString("", "\n", "\n")
  }

  def main(args: Array[String]): Unit = {
    Files.write(Paths.get("QUERY_INDEX.md"), render().getBytes("UTF-8"))
    println(s"wrote QUERY_INDEX.md (${SparkEntry.queries.size} keys)")
  }
}
