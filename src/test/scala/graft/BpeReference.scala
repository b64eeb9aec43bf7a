package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Tables, TextAnalysis}

/** The relational BPE training loop, kept as the reference the specs
  * check [[TextAnalysis.trainBpeMergesLocal]] against: it spells the
  * training as Spark relations, one job per merge, so it is too slow to
  * serve but independent of the in-memory loop's pair index.
  */
object BpeReference {

  /** EXT-T15 — iterative BPE merge training: `nMerges` rounds of
    * count-pairs → pick the argmax → apply it to the vocabulary, the
    * actual BPE training loop (Sennrich et al. 2016) under the repo's
    * bounded-driver-loop contract ([[graft.operators.Similarity.trainCentroids]]'
    * shape): each round collects exactly ONE (left, right, count) row,
    * and the re-segmented vocabulary is `localCheckpoint`ed so round
    * r+1 never replays rounds 1..r. All per-round relations are
    * |vocab|-bounded — the corpus is scanned once, for the initial word
    * count.
    *
    * Words split by [[TextAnalysis.bpeSymbols]] and merges apply by
    * [[TextAnalysis.applyBpeMerge]], both as Scala UDFs over the word's symbols: the
    * skip-after-merge scan is inherently sequential per word — no
    * declarative spelling exists — and word-local, so the UDF never
    * breaks a shuffle boundary. Ties rank by (count DESC, left, right),
    * the [[TextAnalysis.bpePairStats]] order, making the whole training run
    * deterministic; rounds stop early once no pair remains.
    */
  def trainBpeMerges(
      spark: SparkSession,
      dir: String,
      nMerges: Int = 10): Seq[(Int, String, String, Long)] = {
    val split = udf((word: String) => TextAnalysis.bpeSymbols(word).toSeq)
    val applyMerge = udf { (syms: Seq[String], l: String, r: String) =>
      TextAnalysis.applyBpeMerge(syms.toArray, l, r).toSeq
    }
    var vocab = Tables.documents(spark, dir)
      .select(explode(Tables.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_word"))
      .select(split(col("word")).as("syms"), col("n_word"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val top = vocab
        .filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
          .as("p"), col("n_word"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("n_word").as("n"))
        .orderBy(desc("n"), col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((rank, l, r, n))
        vocab = vocab
          .withColumn("syms", applyMerge(col("syms"), lit(l), lit(r)))
          .localCheckpoint()
        rank += 1
      }
    }
    merges.result()
  }
}
