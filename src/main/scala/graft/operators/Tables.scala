package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers for the harness tables used by the extended (§2b) operators.
  *
  * All readers are plain parquet scans so Catalyst pushdown applies: any
  * filter/projection an operator adds reaches the scan (`PushedFilters` /
  * pruned `ReadSchema` in `.explain("formatted")`). At 100 TB these tables
  * would be partitioned (e.g. `documents` by `source`, `events` by day);
  * the operators below only ever add single-column filters and prunable
  * projections, so partition pruning composes for free.
  *
  * Every reader declares its schema: the harness schema is fixed
  * (FIXTURES.md), and a bare `spark.read.parquet` runs a schema-inference
  * Spark job on every call, so building any of these DataFrames runs no job.
  * (`Replication.events` normalizes instead: its `ts` type varies by
  * fixture generation.)
  */
object Tables {

  /** `documents(doc_id, text, lang, source, n_chars)` — the corpus for
    * dedup / text analysis. Opaque LLM-training-style rows.
    *
    * Bare scans on purpose: a blanket repartition-after-scan was measured
    * to cost more (one extra shuffle per query) than single-split scans
    * cost on these small inputs. Operators that EXPAND rows by a large
    * factor before their first shuffle (minhash's 16×) repartition
    * explicitly at their expansion point instead.
    */
  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(graft.sources.Sources.documentsSchema)
      .parquet(s"$dir/documents.parquet")

  /** `embeddings(vec_id, embedding: array<float>, label)` — 64-dim unit
    * vectors for similarity search.
    */
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(embeddingsSchema).parquet(s"$dir/embeddings.parquet")

  /** The `embeddings` schema (FIXTURES.md). */
  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** `part(p_partkey, p_name, p_brand, p_type, p_size, p_retailprice)` —
    * the product catalog the record-linkage operators block and match.
    */
  def part(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(partSchema).parquet(s"$dir/part.parquet")

  /** The `part` schema (FIXTURES.md). */
  val partSchema: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  /** Whitespace tokenizer shared by every text operator. Must stay
    * byte-for-byte equivalent to the oracle's `string_split(text, ' ')`:
    * single-space split, no trimming, no lowercasing (the corpus is
    * already normalized).
    */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct k-token shingles (default k=3), the unit of near-dup
    * comparison — a native codegen'd expression
    * ([[graft.functions.ShinglesExpression]]): one compiled pass per row.
    * (The declarative `array_distinct(transform(sequence(...)))` spelling
    * computes the same thing ~100× slower; see the expression's docs.)
    */
  def shingles(toks: Column, k: Int = 3): Column =
    graft.functions.Shingles.shingles(toks, k)
}
