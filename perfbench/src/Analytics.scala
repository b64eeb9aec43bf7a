package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Batch analytics: a fixed set of `SparkEntry.queries` over the seeded
  * corpus through the noop sink, in interleaved passes (each pass
  * rotates the order) after two untimed warm-up passes. The first one
  * also builds the persisted indexes the `*_indexed` queries read, and
  * writes every result for the DuckDB oracle check in `run.py`.
  */
final class Analytics(ctx: Ctx) {
  import ctx._

  private val names = plan("queries").split(",").toSeq

  private def run(spark: SparkSession, name: String): Unit =
    SparkEntry.queries(name)(spark, fixture).write.mode("overwrite").format("noop").save()

  def setup(spark: SparkSession): Unit =
    Seq("documents", "embeddings").foreach(t => spark.read.parquet(s"$fixture/$t.parquet"))

  /** The untimed warm-up passes; the first writes every result for the
    * oracle check.
    */
  def warm(spark: SparkSession): Unit = {
    names.foreach { n =>
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, fixture).write.mode("overwrite").parquet(s"$out/results/$n")
      Main.note(f"warm $n ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    names.foreach(run(spark, _))
    Files.createDirectories(Paths.get(out, "oracle"))
    names.foreach(n => Files.write(Paths.get(out, "oracle", s"$n.sql"),
      SparkEntry.oracleSql(n).getBytes("UTF-8")))
  }

  /** Queries one after another, pass `p` rotated by `p`, until `seconds`
    * have passed and every query has run at least once.
    */
  def measure(spark: SparkSession, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    def elapsedMs = (System.nanoTime() - t0) / 1e6
    var i = 0
    while (i < names.size || elapsedMs < seconds * 1000) {
      val pass = i / names.size
      val n = names((i + pass) % names.size)
      val (_, ms) = rec.timed(spark, s"q-$n-$pass", "analytics", n, "graft.operators")(run(spark, n))
      rec.sample(s"q.$n.ms", ms)
      i += 1
    }
  }
}
