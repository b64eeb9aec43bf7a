package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{DotProduct, MinHashes, PqOps, Shingles, SimHash, TopK}
import graft.operators.Similarity

/** ns/row of each codegen kernel, called through its public `Column`
  * function over a cached corpus column (the first `reps` of `MaxReps`
  * copies, so every kernel runs a few hundred ms) into the noop sink; the
  * median of `Runs` timings. `kernel.baseline_ns_row` is the same scan
  * with a trivial projection, the floor every kernel number includes.
  */
object Kernels {
  val MaxReps = 200
  val Runs = 3

  def run(spark: SparkSession, rec: Record, corpus: String): Unit = {
    val t0 = Clock.nowMs()
    val rep = spark.range(MaxReps).toDF("rep")
    val docs = spark.read.parquet(s"$corpus/documents.parquet").crossJoin(rep)
      .select(col("rep"), col("doc_id"), split(col("text"), " ").as("toks"),
        encode(col("text"), "UTF-8").as("key"))
      .withColumn("shs", Shingles.shingles(col("toks"), 3))
      .cache()
    val vecs = spark.read.parquet(s"$corpus/embeddings.parquet").crossJoin(rep)
      .select(col("rep"), col("vec_id"), col("embedding"),
        transform(col("embedding"), x => floor(x.cast("double") * 127.0 + 0.5).cast("long"))
          .as("qv"))
      .cache()
    val (nDocs, nVecs) = (docs.count() / MaxReps, vecs.count() / MaxReps)
    val (cb, _) = Similarity.pqCodebooks(spark, corpus)

    def time(name: String, df: DataFrame, rows: Long): Unit = {
      val (ts, _) = rec.timed(spark, s"kernel-$name", "kernels", name, "graft.functions") {
        (0 to Runs).map { _ =>
          val t0 = System.nanoTime()
          df.write.mode("overwrite").format("noop").save()
          System.nanoTime() - t0
        }.tail.sorted // the first run warms the plan and is dropped
      }
      rec.set(s"kernel.${name}_ns_row", ts(ts.size / 2).toDouble / rows)
      Main.note(s"kernel $name")
    }
    def overDocs(name: String, reps: Int, c: Column): Unit =
      time(name, docs.filter(col("rep") < reps).select(c.as("out")), nDocs * reps)
    def overVecs(name: String, reps: Int, c: Column): Unit =
      time(name, vecs.filter(col("rep") < reps).select(c.as("out")), nVecs * reps)

    overDocs("baseline", MaxReps, size(col("toks")))
    overDocs("shingles", 50, Shingles.shingles(col("toks"), 3))
    // 16 hashes, as the dedup operators use; one MD5 per (shingle, hash)
    overDocs("minhashes", 4, MinHashes.minhashes(col("shs"), 16))
    overDocs("simhash", 50, SimHash.simhash(col("toks")))
    overDocs("kafka_partition", MaxReps,
      graft.functions.functions.kafka_partition(col("key"), lit(8)))
    overVecs("dot_f", MaxReps, DotProduct.dot_f(col("embedding"), col("embedding")))
    overVecs("pq_encode", 50, PqOps.pq_encode(col("qv"), cb))
    time("topk", vecs.groupBy((col("vec_id") % 64).as("g"))
      .agg(TopK.topk(5)(element_at(col("embedding"), 1), col("vec_id")).as("out")), nVecs * MaxReps)
    docs.unpersist()
    vecs.unpersist()
    rec.span("kernels", "", "kernels", "perfbench", t0, Clock.nowMs())
  }
}
