package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Tools` subcommands on the shared test session: `plans` writes
  * the formatted plan file, `profile` reports run and job lines, and bad
  * arguments throw with the usage text instead of exiting the JVM.
  */
class ToolsSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private def run(args: String*): Seq[String] = {
    val out = ArrayBuffer[String]()
    Tools.run(spark, args.toArray, out += _)
    out.toSeq
  }

  test("plans writes <query>_<suffix>.txt with the physical plan") {
    val dir = Files.createTempDirectory("graft-plans").toString
    val out = run("plans", dir, "t", "d4_identity", sfDir)
    val plan = new String(Files.readAllBytes(Paths.get(dir, "d4_identity_t.txt")), "UTF-8")
    assert(plan.contains("== Physical Plan =="))
    assert(out == Seq("[plans] wrote d4_identity (t)"))
  }

  test("profile reports one line per run and the run's Spark jobs") {
    val out = run("profile", "d4_identity", sfDir, "1")
    assert(out.count(_.startsWith("=== d4_identity run")) == 1)
    assert(out.head.startsWith("=== d4_identity run1: "))
    assert(out.exists(_.startsWith("job ")), out.mkString("\n"))
  }

  test("an unknown subcommand or query throws with the usage text") {
    val bad = intercept[IllegalArgumentException](run("bogus", "d4_identity"))
    assert(bad.getMessage.contains(Tools.usage))
    val unknown = intercept[IllegalArgumentException](run("profile", "no_such_query", sfDir))
    assert(unknown.getMessage.contains("unknown query no_such_query"))
  }
}
