package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Similarity, TextAnalysis}
import graft.streaming.StreamOps

/** Per-layer probe of the generational indexes, run in traced runs: the
  * IVF-PQ and BM25 maintainers (`StreamOps.maintain*`) ingest the corpus
  * slice by slice with a small `compactEvery`, so compaction and the
  * `_live` cutover happen; after each slice one live vector probe and one
  * live BM25 probe run. Finally the live probes must equal the static
  * ones over the same corpus (the law `StreamOpsSpec` pins).
  *
  * `dir` holds `embeddings.parquet`, `documents.parquet`, the slice files
  * `slices/{vec,doc}-NNN.parquet` in seeded order, and `probes.txt`
  * (one `v:<vec_id>` or `t:<term>,<term>` per line).
  */
final class IndexLayer(spark: SparkSession, rec: Record, dir: String, work: String) {
  private val CompactEvery = 2L
  private val slices = names(s"$dir/slices").count(_.startsWith("vec-"))
  private val probes: Seq[Either[Long, Seq[String]]] =
    Files.readAllLines(Paths.get(dir, "probes.txt")).asScala.toSeq.map { p =>
      if (p.startsWith("v:")) Left(p.drop(2).toLong) else Right(p.drop(2).split(",").toSeq)
    }
  private val vectors: Map[Long, Seq[Float]] = spark.read.parquet(s"$dir/embeddings.parquet")
    .filter(col("vec_id").isin(probes.collect { case Left(v) => v }.distinct: _*))
    .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap

  private val ivfDir = s"$work/ivfpq"
  private val bm25Dir = s"$work/bm25"
  private val ivfCk = s"$work/ck-ivf"
  private val bm25Ck = s"$work/ck-bm25"
  private val vecSrc = Files.createDirectories(Paths.get(work, "vec-src")).toString
  private val docSrc = Files.createDirectories(Paths.get(work, "doc-src")).toString
  private var released = 0

  private def names(d: String): Seq[String] = {
    val p = Paths.get(d)
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator.asScala.map(_.getFileName.toString).toList finally s.close()
    }
  }

  private val PathEntry = "\"path\":\"([^\"]+)\"".r

  /** Source files a maintainer has committed: the file-source log entries
    * of every batch up to the last one in the commit log. (Progress row
    * counts cannot tell: a foreachBatch that reads its batch twice counts
    * its rows twice.)
    */
  private def committedFiles(checkpoint: String): Int = {
    val last = names(s"$checkpoint/commits").flatMap(_.toLongOption).maxOption.getOrElse(-1L)
    names(s"$checkpoint/sources/0")
      .filter(_.stripSuffix(".compact").toLongOption.exists(_ <= last))
      .flatMap(n => PathEntry.findAllMatchIn(
        new String(Files.readAllBytes(Paths.get(s"$checkpoint/sources/0/$n")), "UTF-8")).map(_.group(1)))
      .distinct.size
  }

  private def ingest(queries: Seq[StreamingQuery], upTo: Int): Unit = {
    while (released < upTo) {
      Seq("vec" -> vecSrc, "doc" -> docSrc).foreach { case (kind, to) =>
        val src = Paths.get(dir, "slices", f"$kind-$released%03d.parquet")
        Files.createLink(Paths.get(to, src.getFileName.toString), src)
      }
      released += 1
    }
    val deadline = System.currentTimeMillis() + 60000
    def done = committedFiles(ivfCk) >= released && committedFiles(bm25Ck) >= released
    while (!done && System.currentTimeMillis() < deadline) {
      require(queries.forall(_.isActive), "a maintainer stopped")
      Thread.sleep(5)
    }
    require(done, "index maintainers did not commit within 60 s")
  }

  private def query(vecId: Long): DataFrame = {
    import spark.implicits._
    Seq((vecId, vectors(vecId))).toDF("vec_id", "embedding")
  }

  private def probe(p: Either[Long, Seq[String]]): DataFrame = p match {
    case Left(v) => StreamOps.ivfPqProbeLive(spark, ivfDir, query(v))
    case Right(terms) => StreamOps.bm25ProbeLive(spark, bm25Dir, terms)
  }

  private def timedProbe(i: Int): Unit = {
    val p = probes(i % probes.size)
    val kind = if (p.isLeft) "ivfpq" else "bm25"
    val id = s"probe-$kind-$i"
    val start = Clock.nowMs()
    val (df, planMs) = rec.timed(spark, s"$id-plan", id, "probe plan", "graft.operators")(probe(p))
    val (_, execMs) = rec.timed(spark, s"$id-exec", id, "probe exec", "graft.operators")(df.collect())
    rec.span(id, "index", s"$kind probe", "graft.operators", start, Clock.nowMs())
    rec.sample(s"probe.${kind}_plan_ms", planMs)
    rec.sample(s"probe.${kind}_exec_ms", execMs)
  }

  /** Returns (checks, failed) of the live-equals-static law. */
  def run(phases: java.util.Map[String, String]): (Int, Int) = {
    val t0 = Clock.nowMs()
    Similarity.initIvfPqIndex(spark, dir, ivfDir)
    TextAnalysis.initBm25Index(spark, bm25Dir)
    def stream(kind: String, from: String) = spark.readStream
      .schema(spark.read.parquet(s"$dir/slices/$kind-000.parquet").schema).parquet(from)
    val queries = Seq(
      StreamOps.maintainIvfPqIndex(stream("vec", vecSrc), ivfDir, ivfCk, CompactEvery),
      StreamOps.maintainBm25Index(stream("doc", docSrc), bm25Dir, bm25Ck, CompactEvery))
    phases.put(queries(0).id.toString, "maint.ivfpq")
    phases.put(queries(1).id.toString, "maint.bm25")
    ingest(queries, slices / 2)
    (0 until slices - released).foreach { i =>
      // the benchmark waiting for both maintainers; their microbatches
      // are the StreamIndexOps spans
      val (_, ms) = rec.timed(spark, s"ingest-$released", "index", "ingest slice",
        "perfbench")(ingest(queries, released + 1))
      rec.sample("maint.ingest_ms", ms)
      timedProbe(2 * i)
      timedProbe(2 * i + 1)
    }
    queries.foreach(_.stop())
    Seq("maint.ivfpq", "maint.bm25").foreach(m =>
      rec.span(m, "index", m, "perfbench", t0, Clock.nowMs()))
    rec.span("index", "", "index layer", "perfbench", t0, Clock.nowMs())
    rec.set("maint.compactions", Seq(ivfDir, bm25Dir).map(d =>
      names(d).filter(_.startsWith("gen-")).map(_.drop(4).toLong).max.toDouble).sum)
    rec.set("maint.live_gen_files", Seq(ivfDir, bm25Dir).map { d =>
      names(d).filter(g => g.startsWith("gen-") && Files.exists(Paths.get(d, g, "_live")))
        .map { g =>
          val s = Files.walk(Paths.get(d, g))
          try s.filter(_.getFileName.toString.endsWith(".parquet")).count().toDouble
          finally s.close()
        }.sum
    }.sum)

    Similarity.writeIvfPqIndex(spark, dir, s"$work/static-ivfpq")
    TextAnalysis.writeBm25Index(spark, dir, s"$work/static-bm25")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val checks = probes.take(2)
    val failed = checks.count { p =>
      rows(probe(p)) != rows(p match {
        case Left(v) => Similarity.ivfPqTopKFromIndex(spark, s"$work/static-ivfpq", query(v))
        case Right(terms) => TextAnalysis.bm25TopKFromIndex(spark, s"$work/static-bm25", terms)
      })
    }
    (checks.size, failed)
  }
}
