package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Tables
import graft.sources.Sources

/** File-format ingestion: explicit-schema JSONL/CSV readers and the
  * lang-partitioned corpus writer.
  */
class SourcesSpec extends AnyFunSuite with SparkSuite {

  test("documentsJsonl: explicit schema, round-trips the documents shape") {
    val dir = Files.createTempDirectory("graft-jsonl")
    val f = dir.resolve("docs.jsonl")
    Files.writeString(f,
      """{"doc_id": 1, "text": "hello world", "lang": "en", "source": "s0", "n_chars": 11}
        |{"doc_id": 2, "text": "hola mundo", "lang": "es", "source": "s1", "n_chars": 10}
        |""".stripMargin)
    val df = Sources.documentsJsonl(spark, f.toString)
    // JSON sources force nullable=true on every field; names/types must hold
    assert(df.schema.fields.map(f2 => (f2.name, f2.dataType))
      .sameElements(Sources.documentsSchema.fields.map(f2 => (f2.name, f2.dataType))))
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(rows.sameElements(Array((1L, "hello world", "en"), (2L, "hola mundo", "es"))))
  }

  test("documentsJsonl: gzip shards read transparently (one task per .gz file)") {
    val dir = Files.createTempDirectory("graft-jsonl-gz")
    val out = new java.io.PrintWriter(new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(dir.resolve("part-0.jsonl.gz").toFile)))
    out.println("""{"doc_id": 1, "text": "alpha beta", "lang": "en", "source": "s0", "n_chars": 10}""")
    out.println("""{"doc_id": 2, "text": "gamma", "lang": "de", "source": "s1", "n_chars": 5}""")
    out.close()
    val df = Sources.documentsJsonl(spark, dir.toString)
    assert(df.count() == 2L)
    val en = df.filter(org.apache.spark.sql.functions.col("lang") === "en")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(en.toSeq == Seq((1L, "alpha beta")))
    // the non-splittable codec maps the whole shard to ONE partition
    assert(df.rdd.getNumPartitions == 1)
  }

  test("documentsJsonl: malformed rows fail loudly, never become silent nulls") {
    val dir = Files.createTempDirectory("graft-jsonl-bad")
    val f = dir.resolve("bad.jsonl")
    Files.writeString(f, """{"doc_id": "not-a-number", "text": 7}""" + "\n")
    val e = intercept[Exception](Sources.documentsJsonl(spark, f.toString).collect())
    assert(e.getMessage != null)
  }

  test("documentsJsonl: a well-formed row MISSING a required field also fails loudly") {
    val dir = Files.createTempDirectory("graft-jsonl-miss")
    val f = dir.resolve("miss.jsonl")
    // valid JSON, no doc_id: FAILFAST alone would load doc_id = null and
    // the row would silently vanish from every hash-bucketed operator
    Files.writeString(f, """{"text": "hi", "lang": "en", "source": "s", "n_chars": 2}""" + "\n")
    val e = intercept[Exception](Sources.documentsJsonl(spark, f.toString).collect())
    // the failure must come from the enforceNonNull guard naming the field
    assert(e.toString.contains("doc_id") ||
      Option(e.getCause).exists(_.toString.contains("doc_id")), e.toString)
  }

  test("eventsCsv: header + explicit schema") {
    val dir = Files.createTempDirectory("graft-csv")
    val f = dir.resolve("events.csv")
    Files.writeString(f,
      """event_id,ts_us,user_id,event_type,value,props
        |1,1000000,7,click,2.5,"{""k"": 1}"
        |2,2000000,8,view,0.0,
        |""".stripMargin)
    val rows = Sources.eventsCsv(spark, f.toString).collect().sortBy(_.getLong(0))
    assert(rows.length == 2)
    assert(rows(0).getLong(1) == 1000000L && rows(0).getString(3) == "click")
    assert(rows(1).isNullAt(5)) // empty props -> null, by schema nullability
  }

  test("writePartitioned: lang partitions materialize as prunable directories") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-part").toString + "/corpus"
    val df = Seq((1L, "a", "en"), (2L, "b", "es"), (3L, "c", "en"))
      .toDF("doc_id", "text", "lang")
    Sources.writePartitioned(df, out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.sameElements(Array("lang=en", "lang=es")))
    // partition filter prunes at plan time: only the en directory is read
    val back = spark.read.parquet(out).filter($"lang" === "en")
    assert(back.collect().map(_.getAs[Long]("doc_id")).sorted.sameElements(Array(1L, 3L)))
    val scanned = back.queryExecution.executedPlan.toString
    assert(scanned.contains("PartitionFilters: [isnotnull(lang"), scanned)
  }

  test("compactParquet: many small files become few target-sized ones, data intact") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-compact-in").toString + "/data"
    val out = Files.createTempDirectory("graft-compact-out").toString + "/data"
    // 64 tiny files
    (1 to 6400).map(i => (i.toLong, s"row$i")).toDF("id", "v")
      .repartition(64).write.parquet(in)
    val smallFiles = new java.io.File(in).listFiles.count(_.getName.endsWith(".parquet"))
    assert(smallFiles == 64)
    val totalBytes = new java.io.File(in).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // target = ~half the data => expect 2 output files
    Sources.compactParquet(spark, in, out, targetBytes = (totalBytes + 1) / 2)
    val bigFiles = new java.io.File(out).listFiles.count(_.getName.endsWith(".parquet"))
    assert(bigFiles == 2, s"expected 2 compacted files, got $bigFiles")
    assert(spark.read.parquet(out).as[(Long, String)].collect().sorted.toSeq ==
      (1 to 6400).map(i => (i.toLong, s"row$i")).sorted)
    // input untouched; in-place compaction rejected
    assert(new java.io.File(in).listFiles.count(_.getName.endsWith(".parquet")) == 64)
    intercept[IllegalArgumentException](Sources.compactParquet(spark, in, in))
    // a partitionBy input keeps its cell=<n>/ layout through the rewrite
    val pin = Files.createTempDirectory("graft-compact-pin").toString + "/cells"
    val pout = Files.createTempDirectory("graft-compact-pout").toString + "/cells"
    val rows = (1 to 6400).map(i => (i.toLong, s"row$i", i % 4))
    rows.toDF("id", "v", "cell").repartition(64).write.partitionBy("cell").parquet(pin)
    def layout(dir: String): Seq[(String, Int)] =
      new java.io.File(dir).listFiles.filter(_.isDirectory).sortBy(_.getName).toSeq
        .map(d => d.getName -> d.listFiles.count(_.getName.endsWith(".parquet")))
    assert(layout(pin).map(_._1) == (0 to 3).map(c => s"cell=$c"))
    Sources.compactParquet(spark, pin, pout, partitionCols = Seq("cell"))
    // one partition value's rows co-locate: one file per live cell
    assert(layout(pout) == (0 to 3).map(c => s"cell=$c" -> 1), layout(pout))
    assert(spark.read.parquet(pout).as[(Long, String, Int)].collect().sorted.toSeq ==
      rows.sorted)
    // the partitioned path refuses an in-place compaction too
    intercept[IllegalArgumentException](
      Sources.compactParquet(spark, pin, pin, partitionCols = Seq("cell")))
    assert(layout(pin).map(_._2).forall(_ > 1), "in-place refusal must leave the input intact")
  }

  test("writePartitioned: default refuses to clobber an existing corpus; Overwrite is opt-in") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-part-clobber").toString + "/corpus"
    val df = Seq((1L, "a", "en")).toDF("doc_id", "text", "lang")
    Sources.writePartitioned(df, out)
    // same default call again: the existing output must survive untouched
    intercept[Exception](Sources.writePartitioned(df, out))
    assert(spark.read.parquet(out).count() == 1)
    val df2 = Seq((2L, "b", "en"), (3L, "c", "es")).toDF("doc_id", "text", "lang")
    Sources.writePartitioned(df2, out, mode = org.apache.spark.sql.SaveMode.Overwrite)
    assert(spark.read.parquet(out).count() == 2)
  }

  test("ORC round-trip: writeOrc then documentsOrc preserves rows; pushdown reaches the scan") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-orc").toString + "/docs"
    val docs = Seq(
      (1L, "alpha beta", "en", "web", 10L),
      (2L, "gamma delta", "es", "books", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Sources.writeOrc(docs, out)
    val back = Sources.documentsOrc(spark, out)
    assert(back.as[(Long, String, String, String, Long)].collect().sorted.toSeq ==
      Seq((1L, "alpha beta", "en", "web", 10L), (2L, "gamma delta", "es", "books", 11L)))
    // same explicit-overwrite contract as the parquet writer
    intercept[Exception](Sources.writeOrc(docs, out))
    // filters push into the ORC scan (PushedFilters in the physical plan)
    val plan = back.filter($"doc_id" === 2L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("doc_id"), plan)
  }

  test("Tables.documents / embeddings: declared schemas equal the inferred ones; building runs no job") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      for ((table, read) <- Seq[(String, String => org.apache.spark.sql.DataFrame)](
          "documents" -> (d => Tables.documents(spark, d)),
          "embeddings" -> (d => Tables.embeddings(spark, d)),
          "part" -> (d => Tables.part(spark, d)))) {
        val (df, activity) = SparkActivity.during(spark)(read(dir))
        assert(activity.jobs == 0, s"$table at $sf: building the DataFrame ran ${activity.jobs} job(s)")
        assert(df.schema == spark.read.parquet(s"$dir/$table.parquet").schema, s"$table at $sf")
      }
    }
  }
}
