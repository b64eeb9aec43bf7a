package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{assert_true, col, lit}
import org.apache.spark.sql.types._

/** File-format ingestion beyond parquet (SURVEY.md §2b): JSONL and CSV
  * readers for the harness table shapes, and the partitioned training-set
  * writer.
  *
  * Every reader takes an EXPLICIT schema — schema inference is a full
  * extra pass over the data at 100 TB (and nondeterministic under
  * malformed rows), so it is never used. Malformed records fail loudly
  * (`FAILFAST`) rather than becoming silent nulls: ingestion is the one
  * place where dropping data must be a decision, not an accident.
  */
object Sources {

  /** `documents` schema (TESTDATA.md / FIXTURES.md §1). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))

  /** `events` schema with epoch-micros timestamps (ingest form). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts_us", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = true)))

  /** FAILFAST only rejects syntactically malformed records; a well-formed
    * row that simply OMITS a required field loads as null (file sources
    * force the schema nullable). This filter makes those fail loudly too:
    * `assert_true` throws on any null in a non-nullable field, and living
    * in a Filter it cannot be pruned away like an unused projection.
    */
  private def enforceNonNull(df: DataFrame, schema: StructType): DataFrame =
    schema.fields.filterNot(_.nullable).foldLeft(df) { (d, f) =>
      d.filter(assert_true(col(f.name).isNotNull,
        lit(s"ingest: null ${f.name} in a record (field is required)")).isNull)
    }

  /** One JSON document per line — the lingua franca of text-corpus
    * interchange. Line-splittable, so a 100 TB corpus parallelizes by
    * input split with no coordination.
    *
    * Compressed shards (`.jsonl.gz` etc.) read transparently through
    * Hadoop's codec resolution — but gzip is NOT splittable: one task
    * per `.gz` file, however large. At corpus scale either size gzip
    * shards to the target partition size (the layout public corpora
    * like C4/Pile ship anyway) or use a splittable codec (bzip2, or
    * uncompressed behind parquet); this reader needs no change either
    * way.
    */
  def documentsJsonl(spark: SparkSession, path: String): DataFrame =
    enforceNonNull(
      spark.read.schema(documentsSchema).option("mode", "FAILFAST").json(path),
      documentsSchema)

  /** CSV events with explicit schema and header. */
  def eventsCsv(spark: SparkSession, path: String): DataFrame =
    enforceNonNull(
      spark.read.schema(eventsSchema)
        .option("header", "true").option("mode", "FAILFAST").csv(path),
      eventsSchema)

  /** Write a curated corpus partitioned by `lang` — the layout downstream
    * training jobs want: language selection becomes partition PRUNING (a
    * directory skip) instead of a full-corpus filter scan. Parquet +
    * snappy, the standard analytical layout.
    *
    * The default mode ERRORS on an existing output directory: destroying
    * a previous corpus must be an explicit caller decision
    * (`SaveMode.Overwrite`), never a silent default — the same
    * dropping-data-is-a-decision philosophy as the FAILFAST readers.
    */
  def writePartitioned(
      df: DataFrame,
      outDir: String,
      partitionCols: Seq[String] = Seq("lang"),
      mode: SaveMode = SaveMode.ErrorIfExists): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(outDir)

  /** ORC documents reader — the other columnar interchange format large
    * warehouses hand over (Hive/Trino land writes ORC as often as
    * parquet). Same explicit-schema contract as the other readers; ORC
    * is natively splittable and predicate-pushdown-capable in Spark, so
    * the 100 TB properties match the parquet path. ORC stores the
    * schema per file, so a schema MISMATCH (rather than a malformed
    * record) surfaces as an analysis/read error without needing
    * FAILFAST.
    */
  def documentsOrc(spark: SparkSession, path: String): DataFrame =
    enforceNonNull(
      spark.read.schema(documentsSchema).orc(path),
      documentsSchema)

  /** ORC writer for any relation — the interchange sink mirroring
    * [[documentsOrc]], with [[writePartitioned]]'s explicit-overwrite
    * contract.
    */
  def writeOrc(
      df: DataFrame,
      outDir: String,
      mode: SaveMode = SaveMode.ErrorIfExists): Unit =
    df.write.mode(mode).orc(outDir)

  /** Write a relation as a BUCKETED, per-bucket-sorted catalog table:
    * rows are hash-placed into `buckets` files on `bucketCols`, and the
    * bucket spec lives in table METADATA (a plain directory write cannot
    * carry it — hence `saveAsTable`, not `parquet(dir)`). A later scan
    * of the table reports an output partitioning that already satisfies
    * joins and aggregations on the bucket columns, so every subsequent
    * join against the same key needs NO exchange on the bucketed
    * side(s): the layout IS the shuffle, paid once at write time. This
    * is the standard co-location strategy for relations probed every
    * ingest batch at 100 TB — e.g. the incremental-dedup digest index
    * ([[graft.operators.Curation]]), where an unbucketed layout re-pays
    * a full corpus shuffle per batch forever.
    *
    * The pre-write `repartition(buckets, bucketCols)` uses the same
    * Murmur3 hash as the bucket placement, so each task holds exactly
    * one bucket and writes exactly ONE file per bucket. The per-bucket
    * `sortBy` does NOT remove the sort-merge join's SortExec on modern
    * Spark (scan output-ordering propagation from bucket metadata was
    * retired as error-prone; the legacy flag still exists but is
    * legacy) — what it buys is tight per-row-group min/max stats for
    * key-range pushdown and a near-linear SortExec over already-sorted
    * runs. The exchange elision is the bucketing win, asserted in
    * PlanSpec. Same explicit-overwrite contract as the other writers.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      buckets: Int = 32,
      mode: SaveMode = SaveMode.ErrorIfExists): Unit = {
    require(bucketCols.nonEmpty, "bucketed write needs at least one bucket column")
    require(buckets > 0, "bucket count must be positive")
    df.repartition(buckets, bucketCols.map(col): _*)
      .write.mode(mode)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Compact a parquet dataset into ~`targetBytes`-sized files — the
    * periodic maintenance pass every long-lived ingest pipeline needs:
    * streaming sinks and incremental batch appends accumulate small
    * files, and at 100 TB the resulting scan-planning and open-file
    * overhead dominates reads (the classic small-files problem).
    *
    * File count = ceil(current on-disk bytes / targetBytes), clamped to
    * ≥ 1; the data passes through one round-robin `repartition` (a
    * single shuffle whose width IS the output layout). Compaction writes
    * to a NEW directory and never touches the input: swapping compacted
    * data into place is a rename the caller performs after validating —
    * dropping the only copy mid-rewrite must stay impossible by
    * construction.
    *
    * A PARTITIONED dataset passes its `partitionCols`: the rewrite then
    * re-partitions BY those columns and writes `partitionBy` again, so
    * the compacted copy keeps the directory layout static partition
    * pruning depends on (a flat rewrite would fold `cell=<n>/` back into
    * ordinary columns and every probe would scan every file). Each
    * partition value's rows co-locate, so the output is one file per
    * live partition value per target slice.
    */
  def compactParquet(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      partitionCols: Seq[String] = Nil): Unit = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(new org.apache.hadoop.fs.Path(inDir).toUri.getPath !=
      new org.apache.hadoop.fs.Path(outDir).toUri.getPath,
      "compactParquet writes to a NEW directory; compacting in place would " +
        "destroy the only copy on failure mid-rewrite")
    val in = new org.apache.hadoop.fs.Path(inDir)
    val fs = in.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes = fs.getContentSummary(in).getLength
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val data = spark.read.parquet(inDir)
    (if (partitionCols.isEmpty) data.repartition(nFiles)
     else data.repartition(nFiles, partitionCols.map(col): _*))
      .write.mode(SaveMode.ErrorIfExists)
      .partitionBy(partitionCols: _*)
      .parquet(outDir)
  }

  /** Read only the `partCol=<v>` directories of a partitioned parquet
    * relation (the layout [[compactParquet]] preserves) for the given
    * values, under its declared `schema` (DDL). A value with no
    * directory contributes no rows, and no directory at all gives an
    * empty relation of that schema. Planning runs no Spark job: the
    * schema is declared, and only the probed directories are listed,
    * where discovering every partition under `dir` is a Spark listing
    * job past `parallelPartitionDiscovery.threshold` (32) directories.
    */
  def readPartitions(
      spark: SparkSession,
      dir: String,
      schema: String,
      partCol: String,
      values: Seq[Int]): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = values.distinct.map(v => new org.apache.hadoop.fs.Path(root, s"$partCol=$v"))
      .filter(fs.exists).map(_.toString)
    if (dirs.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType.fromDDL(schema))
    else spark.read.schema(schema).option("basePath", dir).parquet(dirs: _*)
  }
}
