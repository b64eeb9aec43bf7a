package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation (SURVEY.md §2b): per-document
  * statistics + quality score, stopword-list language ID, polynomial
  * rolling-hash fingerprinting, and corpus-level token frequency.
  *
  * Everything is per-document narrow computation (codegen'd higher-order
  * functions — zero UDFs, zero shuffles) except the token-frequency
  * aggregation, which is a single partial-agg-friendly groupBy. All
  * arithmetic is integer or single-step double division so the DuckDB
  * oracle reproduces results bit-for-bit.
  */
object TextAnalysis {

  /** Stopword lists for the language-ID heuristic. Real curation would
    * load per-language frequency tables; the heuristic shape (set
    * intersection rate, argmax with deterministic tie-break) is what
    * scales — it is one `array_intersect` per language per row.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est"),
    "zh" -> Seq("的", "是", "在", "有", "我"))

  /** A BPE-ish pre-tokenization regex (letter runs / digit runs /
    * single punctuation), the usual first pass of subword tokenizers.
    * Mirrored verbatim in the oracle's `regexp_extract_all`.
    */
  val subtokenPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** Shared language argmax: first language (in declaration order) whose
    * score is >= every other — fixed priority order as the tie-break,
    * mirrored verbatim by the oracles' CASE chains. Returns
    * (predicted, best score).
    */
  private def argmaxByPriority(langs: Seq[String], score: String => Column): (Column, Column) = {
    val pred = langs.init.foldRight(lit(langs.last): Column) { (lang, el) =>
      val others = langs.filter(_ != lang).map(score)
      when(score(lang) >= greatest(others: _*), lit(lang)).otherwise(el)
    }
    (pred, greatest(langs.map(score): _*))
  }

  /** EXT-T1 — per-document stats + quality score: whitespace and BPE-ish
    * regex token counts, type-token ratio, mean token length, stopword
    * ratio (duplicates counted), and a deterministic linear quality
    * score. One projection, no shuffle.
    */
  def stats(spark: SparkSession, dir: String): DataFrame =
    statsProjection(spark, dir).orderBy("doc_id")

  /** [[stats]] WITHOUT its presentation sort — the relation consumers
    * that JOIN or re-partition the scores ([[graft.operators.Curation]]'s
    * top-k/sampler/shard passes) should read, so they never inherit a
    * doc_id sort exchange they immediately destroy.
    */
  def statsProjection(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    val nTok = size(toks).cast("long")
    // one hashed-set probe per token ([[graft.functions.CountInExpression]]);
    // the filter+isin spelling ran an interpreted lambda per token and
    // materialized the kept tokens just to size them
    val stopHits = graft.functions.CountIn.countIn(toks, Seq("the", "a"))
    // splitting on single spaces removes exactly (n_tokens − 1)
    // separator characters, so the token-length sum is pure arithmetic —
    // the interpreted transform+fold it replaces touched every token
    val sumLen = length(col("text")).cast("long") - (nTok - 1)
    Tables.documents(spark, dir)
      // tokens materialized once; inlining the split into its four
      // consumers would re-tokenize every row per consumer
      .select(col("doc_id"), col("text"), Tables.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        regexp_count(col("text"), lit(subtokenPattern)).cast("long").as("n_subtokens"),
        (size(array_distinct(toks)).cast("double") / nTok).as("ttr"),
        (sumLen.cast("double") / nTok).as("avg_tok_len"),
        (stopHits.cast("double") / nTok).as("stop_ratio"))
      .withColumn("quality",
        col("ttr") * 0.5 + (lit(1.0) - col("stop_ratio")) * 0.3 +
          least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.2)
  }

  /** EXT-T2 — stopword-list language ID: per-language distinct-hit score,
    * argmax with fixed priority order (en, de, es, fr, zh) as the
    * tie-break. Purely row-local.
    */
  def languageId(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.tokens(col("text"))
    val scored = stopwords.foldLeft(Tables.documents(spark, dir).select(col("doc_id"), toks.as("toks"))) {
      case (df, (lang, words)) =>
        df.withColumn(s"s_$lang",
          size(array_intersect(col("toks"), array(words.map(lit): _*))).cast("long"))
    }
    val (pred, best) = argmaxByPriority(stopwords.map(_._1), l => col(s"s_$l"))
    scored
      .withColumn("predicted_lang", pred)
      .withColumn("score", best)
      .select("doc_id", "predicted_lang", "score")
      .orderBy("doc_id")
  }

  /** Character-bigram profiles for the n-gram language-ID heuristic —
    * the most frequent bigrams of each language's common function words.
    * Tiny on purpose (real systems ship a few hundred per language; the
    * operator shape — distinct-ngram intersection + argmax — is the
    * same at any profile size).
    */
  val bigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("th", "he", "in", "er", "an", "re", "on", "at"),
    "de" -> Seq("en", "er", "ch", "de", "ei", "nd", "te", "ie"),
    "es" -> Seq("de", "en", "el", "la", "os", "es", "ar", "ue"),
    "fr" -> Seq("es", "le", "de", "en", "re", "nt", "on", "ou"),
    "zh" -> Seq("的是", "是在", "在有", "有我", "我的", "的一", "一是", "是了"))

  /** EXT-T2b — character-n-gram language ID: score each language by how
    * many of its profile bigrams occur among the document's distinct
    * character bigrams; argmax with the same fixed priority tie-break as
    * [[languageId]]. Row-local (one `transform` + K intersections); the
    * heavier machinery (weighted profiles, trigrams) drops in without
    * changing the plan shape.
    */
  def languageIdNgram(spark: SparkSession, dir: String): DataFrame = {
    // native one-pass extraction ([[graft.functions.CharNgramsExpression]]):
    // the declarative transform-over-sequence spelling evaluates
    // interpreted lambdas per character (measured 3.9 s vs ~0.3 s at
    // sf0.1) and needed its own empty-text guard
    val grams = graft.functions.CharNgrams.charNgrams(col("text"), 2)
    val scored = bigramProfiles.foldLeft(
      Tables.documents(spark, dir).select(col("doc_id"), grams.as("grams"))) {
      case (df, (lang, gs)) =>
        df.withColumn(s"g_$lang",
          size(array_intersect(col("grams"), array(gs.map(lit): _*))).cast("long"))
    }
    val (pred, best) = argmaxByPriority(bigramProfiles.map(_._1), l => col(s"g_$l"))
    scored
      .withColumn("predicted_lang", pred)
      .withColumn("score", best)
      .select("doc_id", "predicted_lang", "score")
      .orderBy("doc_id")
  }

  /** EXT-T3 — document fingerprint: polynomial rolling hash
    * `acc ← (acc·31 + codepoint) mod (2^31−1)` over the character
    * stream, as one compiled pass
    * ([[graft.functions.RollingHashExpression]] — the higher-order
    * `aggregate(split(...))` fold it replaces ran interpreted lambdas
    * per character). Identical to the oracle's `list_reduce`.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), graft.functions.RollingHash.rollingHash(col("text")).as("fp"))
      .orderBy("doc_id")

  /** EXT-T5 — text normalization: lowercase, collapse space runs, trim —
    * the canonical cleanup BEFORE exact dedup (near-identical whitespace
    * variants must collapse to one digest). Returns the normalized
    * content digest plus the net character delta (an audit signal: high
    * removal = messy source; NB the delta can go negative under
    * length-changing Unicode case mappings like İ → i̇). Row-local.
    */
  def normalize(spark: SparkSession, dir: String): DataFrame =
    normalizeProjection(Tables.documents(spark, dir)).orderBy("doc_id")

  /** The normalization transform over any (doc_id, text) relation —
    * exposed so the oracle query can drive it with a deliberately
    * messied input (the harness corpus is already normalized, which
    * would make an identity-transform check vacuous).
    */
  def normalizeProjection(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), " +", " "))
    docs.select(
      col("doc_id"),
      md5(norm).as("norm_digest"),
      (length(col("text")) - length(norm)).cast("long").as("chars_removed"))
  }

  /** EXT-T6 — PII redaction over any (doc_id, text) relation: mask email
    * addresses then phone-shaped numbers, with per-kind match counts as
    * the audit trail. Exposed as a relation transform (like
    * [[normalizeProjection]]) so the oracle can drive it with
    * deterministically injected PII — the harness corpus contains none,
    * which would make the check vacuous. Phones are counted AFTER email
    * masking so digits inside an email never double-count.
    *
    * Both regexes stay in the portable intersection of Java regex and
    * RE2 (no backrefs, no lookaround), so the DuckDB oracle matches the
    * same spans. Row-local projection: zero shuffles — at 100 TB
    * redaction is a narrow scan that must never cost more than the scan.
    */
  def redactPii(docs: DataFrame): DataFrame = {
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phoneRe = "\\+?[0-9]{1,2}-[0-9]{3}-[0-9]+"
    val noEmail = regexp_replace(col("text"), emailRe, "<EMAIL>")
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(emailRe)).as("n_emails"),
      regexp_count(noEmail, lit(phoneRe)).as("n_phones"),
      md5(regexp_replace(noEmail, phoneRe, "<PHONE>")).as("redacted_digest"))
  }

  /** EXT-T4 — corpus token frequency, top N by count (count desc, token
    * asc). Map-side partial aggregation collapses the per-partition
    * token stream before the single shuffle; the top-N sort runs on the
    * (tiny) aggregated relation.
    */
  def topTokens(spark: SparkSession, dir: String, n: Int = 20): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(Tables.tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(n)

  /** EXT-T7 — top-N TF-IDF terms per document: term frequency × inverse
    * document frequency, the classic relevance/keyword-extraction pass of
    * a corpus pipeline. Scored as `tf · N / df` — one exact integer
    * product then one IEEE division, the log-free IDF spelling: `log`
    * is not correctly-rounded in either engine's libm, so `tf·log(N/df)`
    * could order two close terms differently across engines; the linear
    * variant is bit-reproducible and keeps the same "rarer ⇒ larger"
    * direction (swap in log-IDF at deploy time if its damping is wanted —
    * the plan shape is identical).
    *
    * Plan shape, built to survive 100×:
    *  - `tf` = groupBy(doc_id, token) — partial-agg collapses repeats
    *    map-side; this is also the distinct (doc, token) relation, so
    *    `df` = groupBy(token) over `tf` re-aggregates WITHOUT touching
    *    the raw token stream again (tf is materialized once);
    *  - `N` (corpus size) is a 1-row aggregate cross-joined in — a
    *    broadcast of one long, never a driver-side constant baked at
    *    plan time from a separate count job;
    *  - the rank window runs over the tf⋈df relation (linear in the
    *    aggregated term count, NOT a scored cross product), partitioned
    *    by doc_id with a deterministic (score desc, token) order.
    */
  def tfidfTerms(spark: SparkSession, dir: String, topN: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val tf = termFreq(docs)
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))
    tf.join(df, "token")
      .crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rank")
  }

  /** The term-frequency backbone shared by [[tfidfTerms]], [[bm25TopK]]
    * and [[rarityScore]]: `(doc_id, token, tf)` — one explode + one
    * partial-agg groupBy, then `localCheckpoint`ed because every
    * consumer reads it at least twice (the `df` aggregation re-aggregates
    * THIS relation, never the raw token stream, and the scoring join
    * reads it again — without the checkpoint Spark re-runs the
    * explode+groupBy once per consumer).
    */
  private[graft] def termFreq(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(Tables.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()

  /** The ONE token-bucket spelling (build, static probe, and the
    * EXT-6at streaming maintainer/probe all derive buckets through this
    * expression — hash drift between writer and prober would silently
    * read the wrong partitions).
    */
  private[graft] def bm25Bucket(token: Column, nBuckets: Int): Column =
    pmod(hash(token), lit(nBuckets)).cast("int")

  /** The ONE BM25 scoring + presentation tail, shared by the in-memory
    * operator, the static-index probe, and the EXT-6at live-generation
    * probe: `cand` carries (token, doc_id, tf, df, dl, n_docs,
    * total_toks) — integers exact however they were derived — and the
    * tail applies the log-free rational idf, the length-normalized tf,
    * and the map-side bounded top-k fold. One spelling means the three
    * serving paths cannot drift in the IEEE arithmetic the oracle
    * hash-checks.
    */
  private[graft] def bm25ScoreTail(
      cand: DataFrame, k1: Double, b: Double, k: Int): DataFrame = {
    val scored = cand
      .withColumn("idf",
        (col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("tf_norm",
        (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) *
              (col("dl").cast("double") / (col("total_toks").cast("double") / col("n_docs"))))))
      .withColumn("score", col("idf") * col("tf_norm"))
    val agg = graft.functions.TopK.topk(k)
    scored
      .groupBy("token")
      .agg(agg(col("score"), col("doc_id")).as("sel"))
      .select(col("token"), posexplode(col("sel.entries")))
      .select(col("token"), (col("pos") + 1).cast("int").as("rank"),
        col("col.cid").as("doc_id"), col("col.sim").as("score"))
      .orderBy("token", "rank")
  }

  /** EXT-T9 — BM25 top-k retrieval: the k most relevant documents per
    * probe term, under the BM25 weighting `idf · tf·(k1+1) / (tf + k1·(1
    * − b + b·dl/avgdl))`. The retrieval pass behind eval-set mining,
    * "find me training docs about X", and hard-negative sourcing when
    * the probe is lexical rather than an embedding ([[Similarity]]'s
    * x44 is the dense twin). Probe terms are data-derived here (the
    * `nQueries` highest-df tokens of length ≥ `minTokenLen` — content
    * words, deterministic ties by token) so the oracle is parameter-free;
    * production passes its own term list, same plan.
    *
    * IDF is the log-free rational spelling `(N − df + 0.5)/(df + 0.5)`
    * — [[tfidfTerms]]'s argument: `log` is not correctly rounded in
    * either engine's libm, while +,−,×,÷ are exactly rounded IEEE ops,
    * so this variant is bit-reproducible across engines; `log` of it is
    * monotone, so per-term rankings are unchanged if the damped form is
    * swapped in at deploy time.
    *
    * Plan shape, built to survive 100×:
    *  - the corpus is touched through [[termFreq]] once; `df` and the
    *    probe-term selection aggregate that relation, not the stream;
    *  - probe terms are a driver-bounded TakeOrdered (`nQueries` rows)
    *    BROADCAST into the tf join — the corpus-sized side never
    *    shuffles for the probe filter;
    *  - doc lengths join AFTER the probe filter, so the equi-join keys
    *    only the ≤ |probes|·|matching docs| candidate rows, and the
    *    1-row corpus stats ride a broadcast cross join;
    *  - per-term top-k is the map-side bounded aggregate
    *    ([[graft.functions.TopKExpression]]), not a `row_number`
    *    window: the exchange carries ≤ |probes|·k rows per partition,
    *    not every scored candidate.
    */
  def bm25TopK(
      spark: SparkSession,
      dir: String,
      k1: Double = 1.2,
      b: Double = 0.75,
      nQueries: Int = 10,
      k: Int = 5,
      minTokenLen: Int = 6): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = termFreq(docs)
    val dfr = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val probes = dfr
      .filter(length(col("token")) >= minTokenLen)
      .orderBy(col("df").desc, col("token"))
      .limit(nQueries)
    // dl and the token total FOLD FROM the materialized tf relation —
    // re-tokenizing the corpus for either would be two more full text
    // passes for numbers the checkpoint already determines. (Equal even
    // for empty text: "" splits to [""], so tf carries its 1 token.
    // n_docs alone comes from documents — count(*) must include any
    // zero-token rows tf cannot see, and a bare count reads no text.)
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val totToks = tf.agg(sum("tf").as("total_toks"))
    bm25ScoreTail(
      tf.join(broadcast(probes), "token")
        .join(dl, "doc_id")
        .crossJoin(broadcast(nDocs))
        .crossJoin(broadcast(totToks)),
      k1, b, k)
  }

  /** The BM25 index relations of a document batch, from ONE
    * [[termFreq]] pass — the layout the static build writes under its
    * root and the streaming maintainer appends into every `gen-<n>/`:
    *  - `postings (doc_id, token, tf, bucket)`, partitioned by the
    *    [[bm25Bucket]] of the token;
    *  - `doclens (doc_id, dl)`, one row per document, dl = 0 for a doc
    *    the tokenizer cannot see (null text), so `count(doclens)` is the
    *    corpus's `count(*)` and `sum(dl)` its token total.
    * Every corpus global a probe needs is an exact BIGINT count or sum
    * over these two additive relations ([[bm25TopKOverRelations]]), so
    * the layout stays exact under appends.
    */
  private[graft] def bm25Relations(docs: DataFrame, nBuckets: Int): (DataFrame, DataFrame) = {
    val tf = termFreq(docs)
    val doclens = docs.select(col("doc_id"))
      .join(tf.groupBy("doc_id").agg(sum("tf").as("dl")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("dl"), lit(0L)).as("dl"))
    (tf.withColumn("bucket", bm25Bucket(col("token"), nBuckets)), doclens)
  }

  /** The read schemas of the BM25 index relations — declared, so a
    * probe's reads plan without a schema-inference job. */
  private[graft] val Bm25Postings = "doc_id BIGINT, token STRING, tf BIGINT, bucket INT"
  private[graft] val Bm25Doclens = "doc_id BIGINT, dl BIGINT"
  private[graft] val Bm25Lexicon = "token STRING, df BIGINT"

  /** EXT-T9b build — persist the BM25 inverted index: the `meta/`
    * bucket-count stamp ([[initBm25Index]]), the [[bm25Relations]]
    * generation layout (bucket-partitioned postings and doc lengths),
    * and a flat per-token `df` lexicon that [[bm25TopKFromIndexAuto]]
    * derives its probe terms from — the lexical twin of
    * [[Similarity.writeIvfIndex]]'s "train once, probe forever" layout.
    *
    * Bucketing by `pmod(hash(token), nBuckets)` rather than by raw token
    * is the 100 TB point: a token-per-directory layout would create one
    * partition per vocabulary entry (millions of tiny directories — a
    * metastore/list-files pathology), while a fixed bucket count keeps
    * directory fan-out bounded and lets a probe read only its terms'
    * bucket directories. The `n_buckets` stamp follows
    * [[Dedup.bandSignatures]]'s parameter-bundling contract: a probe
    * hashing terms with a different bucket count would silently read the
    * wrong partitions, so the probe derives buckets from the stamp, and
    * refuses a corrupt stamp outright. No corpus statistic is stamped:
    * the probe derives df, n_docs and total_toks exactly from the
    * relations, as the live probe must (a stamp cannot stay exact for
    * rows appended since the last compaction).
    */
  def writeBm25Index(
      spark: SparkSession,
      dir: String,
      indexPath: String,
      nBuckets: Int = 64): Unit = {
    initBm25Index(spark, indexPath, nBuckets)
    val (postings, doclens) = bm25Relations(Tables.documents(spark, dir), nBuckets)
    postings.write.mode("overwrite").partitionBy("bucket").parquet(s"$indexPath/postings")
    doclens.write.mode("overwrite").parquet(s"$indexPath/doclens")
    postings.groupBy("token").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$indexPath/lexicon")
  }

  /** Stamp a BM25 index root: `meta/` with the ONE row a probe must
    * agree with the writer on, `n_buckets`. [[writeBm25Index]] calls it
    * before writing the relations; for a streaming index (EXT-6at) it is
    * the whole init — postings and doc-length rows are then populated
    * incrementally by [[graft.streaming.StreamOps.maintainBm25Index]].
    * Unlike the vector indexes there is NO training step: the composite
    * "train once" here is just the bucket-count contract.
    */
  def initBm25Index(
      spark: SparkSession, indexPath: String, nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, s"nBuckets ($nBuckets) must be positive")
    spark.range(1).select(lit(nBuckets).as("n_buckets"))
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/meta")
  }

  /** The stamped bucket count of a BM25 index — the one stamp reader,
    * shared by the static probe, the maintainer's ingest projection and
    * the live probe (the [[bm25Bucket]] one-spelling contract needs
    * every side to read the same stamp). Memoized per listing signature
    * (the [[IndexCache]] contract); a corrupt stamp refuses on every
    * read.
    */
  private[graft] def loadBm25NBuckets(
      spark: SparkSession, indexPath: String): Int =
    IndexCache.cached(
      spark, s"bm25meta|$indexPath", Seq(s"$indexPath/meta")) {
      val rows = spark.read.schema("n_buckets INT").parquet(s"$indexPath/meta").collect()
      require(rows.length == 1, s"corrupt index: ${rows.length} bm25 meta rows")
      val nb = rows.head.getInt(0)
      require(nb >= 1, s"corrupt index: bm25 n_buckets stamp $nb")
      Integer.valueOf(nb)
    }.intValue()

  /** The ONE BM25 probe plan, over a relation root in the
    * [[bm25Relations]] layout — the static index root, or a live
    * generation of a streaming-maintained index. Every corpus global is
    * derived EXACTLY from the relations: df per probed term as a
    * per-token window count over the bucket-pruned postings (the rows
    * the scoring reads, scanned once; terms outside the probe never
    * pay), n_docs and total_toks as the BIGINT count and sum of the doc
    * lengths (order-insensitive, so generations and compactions cannot
    * move them). `dedupReplays` collapses the
    * byte-identical rows an at-least-once replay re-appends, over the
    * pruned postings only, before df or scoring sees them. The tail is
    * [[bm25ScoreTail]], so scores are bit-equal to [[bm25TopK]] over the
    * same corpus for the same terms. A term with no postings contributes
    * no rows.
    *
    * Planning runs no Spark job: the terms' buckets come from a local
    * relation (collected on the driver without a job), only those
    * buckets' directories are listed and read
    * ([[graft.sources.Sources.readPartitions]]), and every read carries
    * its declared schema. The cost: the doc-length aggregate scans the
    * 16-byte doclens rows per probe (linear in docs, not tokens);
    * bucket pruning bounds the postings bytes, the relation that scales
    * with tokens.
    */
  private[graft] def bm25TopKOverRelations(
      spark: SparkSession,
      root: String,
      nBuckets: Int,
      terms: Seq[String],
      k1: Double,
      b: Double,
      k: Int,
      dedupReplays: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    require(terms.nonEmpty, "probe term list must be non-empty")
    val probeTerms = terms.distinct
    val buckets = probeTerms.toDF("token").select(bm25Bucket(col("token"), nBuckets))
      .collect().map(_.getInt(0)).toSeq
    val postings = graft.sources.Sources.readPartitions(
      spark, s"$root/postings", Bm25Postings, "bucket", buckets)
    val matched = postings.filter(col("token").isin(probeTerms: _*))
      .select("token", "doc_id", "tf")
    val cand = if (dedupReplays) matched.dropDuplicates("token", "doc_id") else matched
    val allDl = spark.read.schema(Bm25Doclens).parquet(s"$root/doclens")
    val dl = if (dedupReplays) allDl.dropDuplicates("doc_id") else allDl
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_toks"))
    bm25ScoreTail(
      cand
        .withColumn("df", count(lit(1)).over(Window.partitionBy("token")))
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats)),
      k1, b, k)
  }

  /** EXT-T9b probe — BM25 top-k documents for a caller-supplied term
    * list against a PERSISTED index: identical scores, tie-breaks, and
    * presentation to [[bm25TopK]] over the same corpus for the same
    * terms (spec-asserted bit-exact), with the corpus pass replaced by a
    * bucket-pruned read — [[bm25TopKOverRelations]] on the index root,
    * no replay dedup (a static build writes each row once).
    */
  def bm25TopKFromIndex(
      spark: SparkSession,
      indexPath: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      k: Int = 5): DataFrame =
    bm25TopKOverRelations(spark, indexPath, loadBm25NBuckets(spark, indexPath),
      terms, k1, b, k, dedupReplays = false)

  /** EXT-T9c (`x184_bm25_topk_indexed`) — [[bm25TopKFromIndex]] made
    * self-contained for the oracle gate: the probe TERMS are derived
    * from the index's own lexicon by exactly [[bm25TopK]]'s data-derived
    * rule (the `nQueries` highest-df tokens of length ≥ `minTokenLen`,
    * deterministic ties by token) — the lexicon's df values are the
    * SAME aggregation the in-memory operator computes, so the derived
    * terms and the probe results are bit-equal to x69's and it reuses
    * x69's oracle verbatim (the x174/x175/x179 write→stamp→probe
    * discipline, completing all 6 persisted indexes).
    *
    * The term derivation is a column-pruned TakeOrdered over the flat
    * lexicon (driver receives `nQueries` rows — the legitimate bounded
    * collect; global df order inherently needs the whole lexicon, same
    * as x69's probe selection over tf); the probe itself is the
    * bucket-pruned [[bm25TopKFromIndex]] plan unchanged.
    */
  def bm25TopKFromIndexAuto(
      spark: SparkSession,
      indexPath: String,
      k1: Double = 1.2,
      b: Double = 0.75,
      nQueries: Int = 10,
      k: Int = 5,
      minTokenLen: Int = 6): DataFrame = {
    val terms = spark.read.schema(Bm25Lexicon).parquet(s"$indexPath/lexicon")
      .filter(length(col("token")) >= minTokenLen)
      .orderBy(col("df").desc, col("token"))
      .limit(nQueries)
      .collect().map(_.getString(0)).toSeq
    if (terms.isEmpty) {
      // the x69 empty-probe law (spec-pinned on the in-memory twin): a
      // corpus where no token reaches the probe length yields an EMPTY
      // result, not a failure — the indexed face must agree
      import spark.implicits._
      Seq.empty[(String, Int, Long, Double)].toDF("token", "rank", "doc_id", "score")
    } else bm25TopKFromIndex(spark, indexPath, terms, k1, b, k)
  }

  /** EXT-T10 — idf-mass rarity score per document: each token occurrence
    * contributes its integer document-count complement `N − df`, so
    * `rarity_sum = Σ tf·(N − df)` and `mean_rarity = rarity_sum /
    * n_toks`. A document of corpus-ubiquitous tokens scores near 0; one
    * built of tokens few other documents contain scores near N — the
    * doc-level rarity/quality gate (CCNet-style LM filtering's cheap
    * exact cousin: high mean rarity ⇔ high self-perplexity under the
    * corpus unigram model, with the transcendental log traded for
    * integer arithmetic the oracle reproduces bit-for-bit; only the
    * final mean is one IEEE division).
    *
    * Plan: [[termFreq]] once, `df` re-aggregated from it, a token
    * equi-join back (both sides already keyed by token), one 1-row
    * broadcast for N, one doc_id partial agg. Every sum is a BIGINT —
    * order-insensitive — and `tf·(N−df) ≤ n_toks·N` bounds the numerator
    * well inside BIGINT until ~10⁹ docs × 10⁹ tokens; DECIMAL(38,0)
    * beyond, same shape.
    */
  def rarityScore(spark: SparkSession, dir: String): DataFrame =
    rarityAssign(spark, dir).orderBy("doc_id")

  /** The rarity relation WITHOUT the presentation sort — consumers that
    * JOIN it downstream ([[graft.operators.Curation.signalAgreement]])
    * skip the global sort exchange (the [[graft.operators.Curation]]
    * `splitAssign` convention).
    */
  private[graft] def rarityAssign(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = termFreq(docs)
    val dfr = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfr, "token")
      .crossJoin(broadcast(n))
      .groupBy("doc_id")
      .agg(
        sum(col("tf")).as("n_toks"),
        sum(col("tf") * (col("n_docs") - col("df"))).as("rarity_sum"))
      .withColumn("mean_rarity", col("rarity_sum").cast("double") / col("n_toks"))
      .select("doc_id", "n_toks", "rarity_sum", "mean_rarity")
  }

  /** EXT-T11 — bigram-LM fluency scoring: each document scored by the
    * conditional probabilities of its own bigrams under the corpus
    * bigram model, `P(w_i | w_{i−1}) = C(w_{i−1} w_i) / C(w_{i−1}·)` —
    * KenLM-style perplexity filtering's exact-arithmetic cousin
    * ([[rarityScore]] is the unigram rung of the same ladder; this rung
    * sees word-ORDER fluency a bag-of-words score cannot: scrambled
    * text keeps its rarity but its bigrams crater). Per document:
    * `n_bigrams`, `min_condp` (the weakest transition — one impossible
    * bigram flags garbage), and `pooled_condp = Σcb / Σcu` (the
    * pooled-count fluency mass).
    *
    * No transcendentals and no order-sensitive float sums — the house
    * oracle discipline: counts are BIGINTs, `min` over exactly-computed
    * quotients is order-insensitive, and the pooled ratio is ONE IEEE
    * division of two BIGINT sums, so DuckDB reproduces every value
    * bit-for-bit (the mean-of-logs spelling would be neither
    * order-stable nor libm-portable).
    *
    * Plan: ONE position stream (the k=1 prefix hash and k=2 bigram hash
    * of [[graft.functions.WindowHashesExpression]] zipped per position,
    * so prefix/bigram alignment is structural, not a join), materialized
    * once and consumed three times: the two corpus count aggregations —
    * each a partial-agg groupBy on a 60-bit hash, vocabulary-sized
    * output, broadcast-or-shuffle by AQE's choice — and the scoring
    * join back, followed by one doc_id partial agg. Linear in corpus
    * tokens; nothing pairs documents.
    */
  def bigramLm(spark: SparkSession, dir: String): DataFrame =
    bigramScored(spark, dir)
      .select("doc_id", "n_bigrams", "min_condp", "pooled_condp")
      .orderBy("doc_id")

  /** The x82 scoring pipeline with the document's `lang` carried
    * through — the shared core of [[bigramLm]] (which drops lang for its
    * declared schema) and [[perplexityBuckets]] (which stratifies by
    * it). Documents with fewer than two tokens have no bigram and no
    * row. Unordered: each caller applies its own presentation sort.
    */
  private[operators] def bigramScored(spark: SparkSession, dir: String): DataFrame = {
    val arr = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), Tables.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), col("lang"),
        slice(graft.functions.WindowHashes.windowHashes(col("ts"), 1),
          lit(1), size(col("ts")) - 1).as("u"),
        graft.functions.WindowHashes.windowHashes(col("ts"), 2).as("b"))
    val stream = arr
      .select(col("doc_id"), col("lang"), posexplode(arrays_zip(col("u"), col("b"))))
      .select(col("doc_id"), col("lang"), col("col.u").as("h1"), col("col.b").as("h2"))
      .localCheckpoint()
    val bc = stream.groupBy("h2").agg(count(lit(1)).as("cb"))
    val uc = stream.groupBy("h1").agg(count(lit(1)).as("cu"))
    stream
      .join(bc, "h2")
      .join(uc, "h1")
      .withColumn("condp", col("cb").cast("double") / col("cu"))
      .groupBy("doc_id", "lang")
      .agg(
        count(lit(1)).as("n_bigrams"),
        min("condp").as("min_condp"),
        sum("cb").as("sum_cb"),
        sum("cu").as("sum_cu"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("min_condp"),
        (col("sum_cb").cast("double") / col("sum_cu")).as("pooled_condp"))
  }

  /** EXT-T13 — CCNet-style perplexity buckets: every document labeled
    * head / middle / tail by where its bigram-LM fluency
    * (`pooled_condp`, [[bigramLm]]'s bit-reproducible signal — higher =
    * more fluent) falls WITHIN ITS LANGUAGE, with the tertile cutoffs
    * CALIBRATED ON A DETERMINISTIC SAMPLE rather than by ranking the
    * full corpus. That is CCNet's actual shape (Wenzek et al. 2020
    * §4.3: per-language thresholds from a held-out slice, corpus then
    * bucketed by comparison) and also the 100 TB shape: an `ntile` over
    * the whole corpus is a total sort within each of a handful of
    * language partitions — the classic few-giant-partitions skew — while
    * threshold calibration sorts only the sample and the corpus pass is
    * a broadcast-join comparison, linear and shuffle-free.
    *
    * Sampling is content-stable (`md5("ppl:" + doc_id) mod 100 <
    * samplePct` — the x21/x25 derivation; replay-idempotent, no
    * `rand()`). Cutoffs: with the sample's language slice sorted by
    * (pooled_condp DESC, doc_id), `head_min` is the score at row
    * ⌈n/3⌉ and `mid_min` at ⌈2n/3⌉; bucket = head if score ≥ head_min,
    * middle if ≥ mid_min, else tail — pure value comparisons on exact
    * doubles, so ties land deterministically in the better bucket in
    * both engines. A language with no sampled scored documents has no
    * calibration and is absent from the output (CCNet likewise needs a
    * per-language model); sub-2-token documents have no score and are
    * likewise absent.
    */
  def perplexityBuckets(
      spark: SparkSession,
      dir: String,
      samplePct: Int = 40): DataFrame = {
    require(samplePct > 0 && samplePct <= 100, "samplePct in (0, 100]")
    import org.apache.spark.sql.expressions.Window
    val scored = bigramScored(spark, dir)
      .select("doc_id", "lang", "pooled_condp")
      .localCheckpoint() // calibration and bucketing both re-read it
    val draw = pmod(
      conv(substring(md5(concat(lit("ppl:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long"),
      lit(100L))
    val sample = scored.filter(draw < samplePct)
    val rn = row_number().over(
      Window.partitionBy("lang").orderBy(col("pooled_condp").desc, col("doc_id")))
    val cuts = sample
      .withColumn("rn", rn)
      .withColumn("ns", count(lit(1)).over(Window.partitionBy("lang")))
      .withColumn("rn1", expr("(ns + 2) div 3"))
      .withColumn("rn2", expr("(2 * ns + 2) div 3"))
      .groupBy("lang")
      .agg(
        max(when(col("rn") === col("rn1"), col("pooled_condp"))).as("head_min"),
        max(when(col("rn") === col("rn2"), col("pooled_condp"))).as("mid_min"))
    scored.join(broadcast(cuts), Seq("lang"))
      .select(
        col("doc_id"), col("lang"), col("pooled_condp"),
        when(col("pooled_condp") >= col("head_min"), lit("head"))
          .when(col("pooled_condp") >= col("mid_min"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
      .orderBy("doc_id")
  }

  /** EXT-T12 — collocation mining: the corpus's top adjacent token
    * pairs by pointwise-mutual-information association, `assoc(x,y) =
    * c_xy·N / (c_x·c_y)` over bigram positions (directional marginals:
    * `c_x` = bigrams starting with x, `c_y` = bigrams ending with y) —
    * exp(PMI), the log-free rational spelling ([[tfidfTerms]]'s libm
    * argument: rankings are unchanged, bits are reproducible). The
    * phrase-detection / tokenizer-merge-candidate pass: the pairs a
    * BPE-style merge step would fuse first are exactly the high-PMI
    * high-count pairs, and `minCount` is the classic guard against the
    * hapax pathology (c_xy = c_x = c_y = 1 scores N — statistically
    * meaningless).
    *
    * Plan: one raw-token bigram stream (tokens zipped with their
    * successors — alignment structural, not a join), three partial-agg
    * counts over it (pair and both marginals — vocabulary-sized
    * outputs), equi-joins back keyed by token, a 1-row broadcast N, and
    * a driver-bounded TakeOrdered for the top-k presentation. The
    * multiplications are spelled `(c_xy·N) / (c_x·c_y)` in DOUBLE — at
    * petabyte N the BIGINT product `c_xy·N` could overflow, the double
    * spelling cannot, and both engines round it identically.
    */
  def collocations(
      spark: SparkSession,
      dir: String,
      minCount: Long = 5L,
      topN: Int = 20): DataFrame = {
    val pairs = Tables.documents(spark, dir)
      .select(Tables.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(
        slice(col("ts"), lit(1), size(col("ts")) - 1).as("a"),
        slice(col("ts"), lit(2), size(col("ts")) - 1).as("b"))
      .select(posexplode(arrays_zip(col("a"), col("b"))))
      .select(col("col.a").as("w1"), col("col.b").as("w2"))
      .localCheckpoint() // consumed by N and all three count aggregations
    val n = pairs.agg(count(lit(1)).as("nb"))
    val cxy = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
    val cx = pairs.groupBy("w1").agg(count(lit(1)).as("c_x"))
    val cy = pairs.groupBy("w2").agg(count(lit(1)).as("c_y"))
    cxy
      .filter(col("c_xy") >= minCount)
      .join(cx, "w1")
      .join(cy, "w2")
      .crossJoin(broadcast(n))
      .withColumn("assoc",
        (col("c_xy").cast("double") * col("nb")) /
          (col("c_x").cast("double") * col("c_y")))
      .select("w1", "w2", "c_xy", "assoc")
      .orderBy(col("assoc").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** EXT-T8 — compression-ratio quality signal: deflate the UTF-8 text
    * at a FIXED level and report `compressed_bytes / raw_bytes` — the
    * Gopher/CCNet-family redundancy filter (highly repetitive or
    * templated text compresses far below prose; random noise compresses
    * above it). zlib with fixed level and strategy is deterministic for
    * a given input, so the measurement is rerun-stable; it is NOT
    * SQL-expressible, so the driver records the rows-only check and the
    * spec pins the signal's laws (repetitive < prose < noise, and the
    * exact byte count against a reference deflate).
    *
    * A UDF is the right tool here — the measurement calls a native
    * codec ([[java.util.zip.Deflater]]), which no Catalyst expression
    * can spell; it is row-local, so the plan stays a narrow shuffle-free
    * projection, the same shape (and justification) as the multimodal
    * decode stubs. One Deflater per call, always `end()`ed — native
    * memory is not GC-managed.
    *
    * Degenerate-input contract (spec-pinned): null text → every
    * measurement null (a reference-typed Scala UDF receives the null —
    * it is guarded explicitly, matching the null propagation every other
    * text operator gets from Catalyst for free); empty text →
    * `raw_bytes = 0`, the deflated header bytes reported as measured,
    * and `ratio` NULL — 0/0 is not a signal, and no fabricated value
    * (∞, 0, 1) survives a downstream `ratio < threshold` gate silently.
    */
  def compressionRatio(docs: DataFrame): DataFrame = {
    val deflatedLen = udf { (text: String) =>
      if (text == null) null
      else {
        val bytes = text.getBytes("UTF-8")
        val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_COMPRESSION)
        try {
          d.setInput(bytes)
          d.finish()
          val buf = new Array[Byte](8192)
          var total = 0L
          while (!d.finished()) total += d.deflate(buf)
          java.lang.Long.valueOf(total)
        } finally d.end()
      }: java.lang.Long
    }
    docs.select(
      col("doc_id"),
      octet_length(col("text")).cast("long").as("raw_bytes"),
      deflatedLen(col("text")).as("deflated_bytes"))
      .withColumn("ratio",
        when(col("raw_bytes") > 0,
          col("deflated_bytes").cast("double") / col("raw_bytes")))
  }

  /** Driver-checkable AUDIT view of [[compressionRatio]]: the
    * deterministic column (`raw_bytes`, which the oracle recomputes as
    * the UTF-8 byte length) plus `deflate_ok` — whether the measured
    * deflate output sits inside zlib's guaranteed envelope
    * (≥ 2 bytes of stream framing; ≤ raw + raw/1000 + 16, the stored-
    * block worst case with headroom). The envelope is theorem-true for
    * ANY conforming deflate, so the oracle asserts it as a constant —
    * a corrupted byte count now fails the driver's hash check instead of
    * hiding behind a rows-only record, while the EXACT byte values stay
    * spec-pinned against an independent in-test deflate (no SQL engine
    * can recompute them). Null text propagates to a null verdict on both
    * sides.
    */
  def compressionAudit(docs: DataFrame): DataFrame =
    compressionRatio(docs).select(
      col("doc_id"), col("raw_bytes"),
      (col("deflated_bytes") >= 2L &&
        col("deflated_bytes") <= col("raw_bytes") + col("raw_bytes") / 1000L + 16L)
        .as("deflate_ok"))

  /** EXT-T14 — BPE merge-pair statistics (tokenizer vocab induction,
    * step 1): adjacent character-pair frequencies over the corpus,
    * weighted by word frequency — the relation whose argmax is the
    * first BPE merge. The corpus collapses to its VOCABULARY first
    * (word → n_word, map-side combinable), so the char-pair explode
    * runs on |vocab| rows, not corpus rows — the same trick real BPE
    * trainers use: at 100 TB the only corpus-sized pass is the word
    * count, and every later stage is bounded by |vocab| then
    * |alphabet|². Exact BIGINT counts; ties at the top-N boundary break
    * on (left_sym, right_sym) in both engines. Single-char words carry
    * no pairs and are filtered BEFORE the explode — Spark's `sequence`
    * would otherwise count DOWN from 1 to 0 and fabricate indices.
    */
  /** EXT-T17 (x96) — corpus diversity audit: distinct-n ratios per
    * source for n ∈ {1, 2, 3}. `distinct_frac = |distinct n-grams| /
    * |total n-grams|` is the standard generation-diversity /
    * template-detection measure (low bigram–trigram diversity at high
    * unigram diversity is the signature of boilerplate-templated text —
    * same slots, same frame). Total counts come from arithmetic
    * (Σ max(len−n+1, 0), no expansion); only the DISTINCT side explodes,
    * and it explodes the per-document distinct shingles (the
    * [[graft.functions.ShinglesExpression]] compiled pass), which is
    * corpus-distinct-equivalent but pre-shrunk row-locally.
    *
    * Scale: the distinct aggregation is the one honest shuffle —
    * per-partition partial dedup folds each (source, gram) to one row
    * map-side before the exchange, so the wire carries the per-partition
    * vocabulary, not the token stream. At 100 TB swap `countDistinct`
    * for the HLL++ sketch exactly as x59 does (the audit/sketch pairing
    * documented there); the exact spelling here is the oracle-checkable
    * law the sketch is certified against. Each side (distinct, total)
    * makes ONE tokenized scan covering all three widths — two scans
    * total, deliberately NOT a cached shared projection: materializing
    * the tokenized corpus to cache at 100 TB costs more memory/spill
    * than re-reading the pruned two-column parquet scan, and the total
    * leg's scan is arithmetic-only (no explode) so it is the cheap one.
    * Ratios are single IEEE divisions of exact longs.
    */
  def distinctNgrams(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), Tables.tokens(col("text")).as("ts"))
    // ONE tokenized scan for all three widths on each side (a per-n
    // union would rescan + re-tokenize the corpus 6×): the distinct leg
    // explodes (n, per-doc distinct shingles) structs then the grams;
    // the total leg is pure per-doc arithmetic, no expansion
    val dist = toks
      .select(col("source"), explode(array((1 to 3).map(n =>
        struct(lit(n.toLong).as("n"),
          Tables.shingles(col("ts"), n).as("g"))): _*)).as("e"))
      .select(col("source"), col("e.n").as("n"), explode(col("e.g")).as("g"))
      .groupBy("source", "n")
      .agg(countDistinct(col("g")).as("n_distinct"))
    val tot = toks
      .select(col("source"), explode(array((1 to 3).map(n =>
        struct(lit(n.toLong).as("n"),
          greatest(size(col("ts")).cast("long") - (n - 1), lit(0L)).as("t"))): _*)).as("e"))
      .groupBy(col("source"), col("e.n").as("n"))
      .agg(sum(col("e.t")).as("n_total"))
    // left join + coalesce: a source whose every doc is shorter than n
    // has totals 0 and no distinct row — it must still appear
    tot.join(dist, Seq("source", "n"), "left_outer")
      .select(col("source"), col("n"), col("n_total"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        // frac of an empty gram set is 0 by definition (ANSI div guard)
        when(col("n_total") === 0L, lit(0.0))
          .otherwise(coalesce(col("n_distinct"), lit(0L)).cast("double") / col("n_total"))
          .as("distinct_frac"))
      .orderBy("source", "n")
  }

  /** EXT-T17b — the 100 TB spelling of [[distinctNgrams]]: the exact
    * `countDistinct` swapped for HyperLogLog++ (`approx_count_distinct`),
    * exactly the x59 audit/sketch pairing. Totals stay exact (they were
    * always arithmetic); only the distinct leg becomes a sketch, so each
    * map partition folds to one fixed-size register set per (source, n)
    * and the exchange carries |sources|·3 sketches instead of the
    * per-partition vocabulary — the wire no longer grows with the
    * corpus, which is what the measured 0.80 exponent of the exact
    * spelling buys its way out of. The sketch VALUE is
    * implementation-defined (no DuckDB oracle; the spec pins the
    * 4·rsd error law against [[distinctNgrams]] at test scale — HLL++
    * is deterministic for a fixed input, so the bound is a stable
    * assertion).
    */
  def distinctNgramsSketch(
      spark: SparkSession, dir: String, rsd: Double = 0.05): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), Tables.tokens(col("text")).as("ts"))
    val dist = toks
      .select(col("source"), explode(array((1 to 3).map(n =>
        struct(lit(n.toLong).as("n"),
          Tables.shingles(col("ts"), n).as("g"))): _*)).as("e"))
      .select(col("source"), col("e.n").as("n"), explode(col("e.g")).as("g"))
      .groupBy("source", "n")
      .agg(approx_count_distinct(col("g"), rsd).as("approx_distinct"))
    val tot = toks
      .select(col("source"), explode(array((1 to 3).map(n =>
        struct(lit(n.toLong).as("n"),
          greatest(size(col("ts")).cast("long") - (n - 1), lit(0L)).as("t"))): _*)).as("e"))
      .groupBy(col("source"), col("e.n").as("n"))
      .agg(sum(col("e.t")).as("n_total"))
    tot.join(dist, Seq("source", "n"), "left_outer")
      .select(col("source"), col("n"), col("n_total"),
        coalesce(col("approx_distinct"), lit(0L)).as("approx_distinct"))
      .orderBy("source", "n")
  }

  def bpePairStats(spark: SparkSession, dir: String, topN: Int = 50): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(Tables.tokens(col("text"))).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("n_word"))
      .select(col("word"), col("n_word"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(expr("substr(word, i, 1)").as("left_sym"),
        expr("substr(word, i + 1, 1)").as("right_sym"), col("n_word"))
      .groupBy("left_sym", "right_sym").agg(sum("n_word").as("n_pairs"))
      .orderBy(desc("n_pairs"), col("left_sym"), col("right_sym"))
      .limit(topN)

  /** A word's BPE base symbols, one per CODE POINT: a supplementary
    * character is one symbol, never two UTF-16 surrogate halves (Spark's
    * `length`/`substr` semantics). The one split both trainers and
    * [[bpeFertility]] start from.
    */
  private[graft] def bpeSymbols(word: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      out += word.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /** Apply one merge `(l, r)` to a word's symbols: the left-to-right
    * skip-after-merge scan ("aaaa" + (a,a) → [aa, aa], NOT [aa, a]
    * twice), shared by both trainers and [[bpeFertility]].
    */
  private[graft] def applyBpeMerge(syms: Array[String], l: String, r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toArray
  }

  /** EXT-T15b — BPE merge training at PRODUCTION merge counts: the
    * EXT-T15 training loop (Sennrich et al. 2016), run in driver memory over
    * the collected vocabulary. A real tokenizer is 32k–100k merges;
    * the relational loop is one Spark job (pair agg + `limit(1).collect()`
    * + `localCheckpoint`) PER MERGE — that many driver round trips over a
    * cluster makes the relational spelling unusable at its production
    * parameterization. The (word, n_word) vocab relation is bounded by
    * construction (distinct tokens, not corpus size — the Heaps'-law
    * ceiling the whole text family leans on), so ONE corpus-sized Spark
    * job collects it and the merge loop never touches the cluster again.
    *
    * Exact-equality contract with EXT-T15's relational loop (the specs'
    * reference, `BpeReference.trainBpeMerges` in the test tree), pinned by
    * spec:
    *  - words split to symbols by CODE POINT ([[bpeSymbols]], the same
    *    split), never UTF-16 code units — a supplementary character is
    *    one symbol in both spellings;
    *  - ties rank by (count DESC, left, right) with strings compared as
    *    UTF-8 BYTES — Spark's binary string ordering — so the merge list
    *    is bit-identical to the relational loop on any input;
    *  - pair counts weight every adjacent POSITION by n_word (the
    *    relational explode counts overlaps: [a,a,a] holds (a,a) twice);
    *  - merge application is the same [[applyBpeMerge]] scan.
    * Per round, only the words CONTAINING the merged pair are
    * re-segmented (an inverted pair→words index, the subword-nmt
    * optimization) — the cost of a round is proportional to the pair's
    * support, not the vocabulary.
    */
  def trainBpeMergesLocal(
      spark: SparkSession,
      dir: String,
      nMerges: Int = 10): Seq[(Int, String, String, Long)] = {
    val vocabRows = Tables.documents(spark, dir)
      .select(explode(Tables.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_word"))
      .collect()
    trainBpeMergesInMemory(
      vocabRows.map(r => (bpeSymbols(r.getString(0)), r.getLong(1))), nMerges)
  }

  /** The in-memory BPE loop over a pre-segmented weighted vocabulary —
    * separated from the Spark collect so specs can drive it on exact
    * fixtures. See [[trainBpeMergesLocal]] for the equality contract.
    */
  private[graft] def trainBpeMergesInMemory(
      vocab: Array[(Array[String], Long)],
      nMerges: Int): Seq[(Int, String, String, Long)] = {
    import scala.collection.mutable
    // Spark's string ordering is unsigned UTF-8 byte order; Java's
    // String.compareTo is UTF-16 code-unit order and DISAGREES for
    // supplementary vs [U+E000, U+FFFF] characters — compare bytes.
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    val words: Array[Array[String]] = vocab.map(_._1)
    val counts: Array[Long] = vocab.map(_._2)
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def tally(wi: Int, sign: Long): Unit = {
      val syms = words(wi)
      var i = 0
      while (i + 1 < syms.length) {
        val p = (syms(i), syms(i + 1))
        val next = pairCount.getOrElse(p, 0L) + sign * counts(wi)
        if (next == 0L) pairCount.remove(p) else pairCount.update(p, next)
        if (sign > 0)
          pairWords.getOrElseUpdate(p, mutable.Set.empty[Int]) += wi
        i += 1
      }
    }
    words.indices.foreach(tally(_, 1L))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    while (rank <= nMerges && pairCount.nonEmpty) {
      var best: ((String, String), Long) = null
      pairCount.foreach { e =>
        if (best == null || e._2 > best._2 ||
          (e._2 == best._2 && (utf8Lt(e._1._1, best._1._1) ||
            (e._1._1 == best._1._1 && utf8Lt(e._1._2, best._1._2)))))
          best = e
      }
      val ((l, r), n) = best
      merges += ((rank, l, r, n))
      // stale-tolerant inverted index: a word listed here may no longer
      // contain the pair (its counts were already backed out) — re-check
      val affected = pairWords.getOrElse((l, r), mutable.Set.empty[Int])
      affected.foreach { wi =>
        val syms = words(wi)
        var has = false
        var i = 0
        while (!has && i + 1 < syms.length) {
          has = syms(i) == l && syms(i + 1) == r
          i += 1
        }
        if (has) {
          tally(wi, -1L)
          words(wi) = applyBpeMerge(syms, l, r)
          tally(wi, 1L)
        }
      }
      pairWords.remove((l, r))
      rank += 1
    }
    merges.result()
  }

  /** EXT-T16 — tokenizer fertility: apply a trained merge list
    * ([[trainBpeMergesLocal]]' artifact) to the corpus and report, per
    * language, subword tokens per word occurrence — the standard metric
    * for how well a vocabulary fits a corpus (a tokenizer trained on
    * English typically shows fertility ≫ 1 on unseen scripts; teams
    * read this table to size per-language vocab budgets).
    *
    * The corpus collapses to (lang, word, n_word) FIRST, so the
    * sequential merge application (a word-local UDF — training's
    * [[bpeSymbols]] split and [[applyBpeMerge]] scan)
    * runs once per DISTINCT word per language, never per occurrence —
    * [[bpePairStats]]' vocabulary trick again; at 100 TB the only
    * corpus-sized pass is the word count. `fertility` is
    * Σ n_word·|bpe(word)| / Σ n_word: two exact BIGINT sums, ONE IEEE
    * division. Empty merge list ⇒ every word splits to its code points
    * (fertility = weighted mean `length`), the law the spec pins.
    */
  def bpeFertility(
      spark: SparkSession,
      dir: String,
      merges: Seq[(String, String)]): DataFrame = {
    val nSub = udf { (word: String) =>
      merges.foldLeft(bpeSymbols(word)) { case (syms, (l, r)) => applyBpeMerge(syms, l, r) }
        .length.toLong
    }
    Tables.documents(spark, dir)
      .select(col("lang"), explode(Tables.tokens(col("text"))).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("n_word"))
      .withColumn("n_sub", nSub(col("word")))
      .groupBy("lang").agg(
        sum("n_word").as("n_words"),
        sum(col("n_word") * col("n_sub")).as("n_subtokens"))
      .withColumn("fertility",
        col("n_subtokens").cast("double") / col("n_words"))
      .orderBy("lang")
  }

  /** EXT-T18 (`x113_oov_rate`) — out-of-vocabulary rate per source
    * against a top-`vocabSize` unigram vocabulary (count desc, token asc
    * — the deterministic cut every top-N here uses): token instances,
    * OOV instances, and the rate. The tokenizer-coverage audit run
    * before committing a vocab: a source whose OOV mass is high will
    * fragment into subwords (x90/T16's fertility cost) or `<unk>` —
    * and a rate that JUMPS between snapshots means the incoming
    * distribution moved away from the trained tokenizer (the vocabulary
    * twin of x60's drift).
    *
    * Plan: ONE tokenized corpus pass folds to the (source, token) count
    * relation — the wire carries the per-partition vocabulary, never the
    * token stream (x96's argument) — `localCheckpoint`ed for its two
    * consumers (the global top-N derivation and the per-source fold);
    * the vocab is a TakeOrdered over the |vocab|-bounded aggregate and
    * broadcasts back; the final fold is |sources| rows. Sources whose
    * every document is empty stay visible with rate NULL (x96's
    * left-join + div-guard convention). Nothing in the plan beyond the
    * first fold grows with the corpus.
    */
  def oovRate(spark: SparkSession, dir: String, vocabSize: Int = 100): DataFrame = {
    require(vocabSize >= 1, s"vocabSize ($vocabSize) must be positive")
    val docs = Tables.documents(spark, dir)
    val tc = docs
      .select(col("source"), explode(Tables.tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("n"))
      .localCheckpoint() // consumed by the vocab cut AND the rate fold
    val vocab = tc.groupBy("token").agg(sum("n").as("tot"))
      .orderBy(col("tot").desc, col("token")).limit(vocabSize)
      .select(col("token"), lit(true).as("in_vocab"))
    val rates = tc.join(vocab, Seq("token"), "left")
      .groupBy("source")
      .agg(sum("n").as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("n")).otherwise(0L)).as("n_oov"))
    docs.select("source").distinct()
      .join(rates, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("oov_rate",
        when(col("n_tokens") === 0L, lit(null).cast("double"))
          .otherwise(col("n_oov").cast("double") / col("n_tokens")))
      .orderBy("source")
  }

  /** The trained top-`vocabSize` vocabulary as driver-side literals —
    * the EXACT cut [[oovRate]] derives in-plan (count desc, token asc),
    * collected for consumers that need it as plan literals (the
    * streaming monitor EXT-6z). Bounded by construction: vocabSize rows
    * cross the driver, never the token stream (the trained-centroid
    * boundedness argument); a vocabulary too large to collect belongs
    * to the batch operator's in-plan join regime instead.
    */
  def vocabTokens(spark: SparkSession, dir: String, vocabSize: Int = 100): Seq[String] = {
    require(vocabSize >= 1, s"vocabSize ($vocabSize) must be positive")
    Tables.documents(spark, dir)
      .select(explode(Tables.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tot"))
      .orderBy(col("tot").desc, col("token")).limit(vocabSize)
      .collect().map(_.getString(0)).toSeq
  }

  /** Row-local OOV measurement over ANY (source, text, ...) relation —
    * batch or unbounded stream — against a FIXED vocabulary riding as a
    * plan-time hash set ([[graft.functions.CountIn]], x107's compiled
    * expression: O(1) per token, zero shuffles, zero state). This is
    * the ONE shared definition the streaming vocab-drift monitor
    * (EXT-6z) and its batch agreement law run, so stream and batch
    * counts can never drift; [[oovRate]] derives the vocabulary
    * in-plan instead (the audit that PICKS the vocab), and the spec
    * pins the two spellings equal on a shared corpus + vocab.
    */
  def oovProjection(docs: DataFrame, vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty, "vocabulary is empty — every token would be OOV")
    val toks = Tables.tokens(col("text"))
    docs.withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_oov",
        col("n_tokens") - graft.functions.CountIn.countIn(toks, vocab))
  }

  /** EXT-T19 (`x119_vocab_coverage`) — vocabulary coverage curve: for
    * each target percentage the MINIMAL vocabulary size (under the
    * count-desc/token-asc rank every top-N here uses) whose tokens
    * cover at least that share of all token instances, with the exact
    * instance mass covered at that rank. The tokenizer-sizing audit:
    * "how big must the vocab be for 95% coverage" is the first question
    * a vocabulary budget answers, and the 50→99 profile is the
    * heavy-tail signature (a corpus whose 99% rank explodes relative to
    * its 95% rank is the one BPE subwording exists for — x90/T15).
    *
    * Exactness + scale, via the COUNT-OF-COUNTS contraction: the naive
    * spelling ranks the whole vocabulary under one global window — a
    * single-partition sort of |vocab| rows that a 100 TB corpus's
    * ~10⁸-token vocabulary would funnel through one task. But ranks of
    * tokens INSIDE one frequency class are interchangeable for
    * cumulative mass (every member adds the same `c`), so the curve
    * only needs the (frequency → class size) relation: ≤ |distinct
    * counts| rows — thousands, not hundreds of millions (bounded by
    * √(2·instances) since distinct positive counts summing to N number
    * O(√N)). The threshold rank lands inside one class and closes in
    * exact integers: `rank = ranks_before + ⌈(need − 100·mass_before) /
    * (100·c)⌉` where `need = pct·total` — ceiling division on BIGINTs,
    * no float anywhere until the one presentation division. The oracle
    * spells the naive per-token window; the two agree EXACTLY by the
    * interchangeability argument — which is the point: the contraction
    * is a plan optimization, not an approximation.
    *
    * Plan: one tokenized corpus pass folds to per-token counts (the
    * wire carries the per-partition vocabulary — x96's argument), a
    * second |vocab|-row fold contracts to count classes, and the
    * cumulative window orders ONLY the class relation. The |pcts|
    * thresholds ride as one literal explode over the crossing class —
    * the sweep costs one pass regardless of how many targets are asked
    * (budgetSweep's discipline).
    */
  def vocabCoverage(
      spark: SparkSession,
      dir: String,
      pcts: Seq[Int] = Seq(50, 90, 95, 99)): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts ($pcts) must be percentages in [1, 100]")
    import org.apache.spark.sql.expressions.Window
    val classes = Tables.documents(spark, dir)
      .select(explode(Tables.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .groupBy("c").agg(count(lit(1)).as("n_class"))
    // cumulative over count classes, frequency DESC (the rank order):
    // ranks_before / mass_before are the totals STRICTLY above class c
    val w = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = classes
      .withColumn("ranks_thru", sum("n_class").over(w))
      .withColumn("mass_thru", sum(col("n_class") * col("c")).over(w))
      .withColumn("ranks_before", col("ranks_thru") - col("n_class"))
      .withColumn("mass_before", col("mass_thru") - col("n_class") * col("c"))
    // the 1-row totals broadcast (x65's convention — stays in-plan)
    val total = classes.agg(sum(col("n_class") * col("c")).as("total_mass"))
    cum.crossJoin(broadcast(total))
      .select(col("c"), col("ranks_before"), col("mass_before"),
        col("mass_thru"), col("total_mass"),
        explode(array(pcts.map(lit): _*)).as("pct"))
      // the crossing class: the first (in rank order) whose through-mass
      // reaches the target — exact integer compare, no division
      .filter(col("mass_thru") * 100L >= col("pct") * col("total_mass") &&
        col("mass_before") * 100L < col("pct") * col("total_mass"))
      // within-class step count: exact BIGINT ceiling division — the
      // double-division spelling could round a boundary case across ⌈⌉
      .withColumn("steps", expr(
        "(pct * total_mass - 100 * mass_before + 100 * c - 1) DIV (100 * c)"))
      .select(col("pct"),
        (col("ranks_before") + col("steps")).as("vocab_rank"),
        (col("mass_before") + col("steps") * col("c")).as("covered_mass"),
        col("total_mass"),
        round((col("mass_before") + col("steps") * col("c")).cast("double") /
          col("total_mass"), 4).as("coverage4"))
      .orderBy("pct")
  }

  /** EXT-T20 (`x120_zipf_profile`) — per-language Zipf product profile:
    * at each probe rank r ∈ {1, 2, 4, …} (under the count-desc/
    * token-asc rank), the token, its frequency, the Zipf product
    * `r · freq`, and its share of the language's instances. Under
    * Zipf's law freq(r) ∝ 1/r, so the product column is CONSTANT — how
    * far and in which direction it drifts across the doubling ranks is
    * the head-heaviness profile (machine-generated/boilerplate corpora
    * bow the curve up at the head; token-diverse corpora decay it),
    * read per language because the law's constant is
    * language-specific. Deliberately spelled in exact integers — the
    * textbook log-log regression slope needs `ln` (an engine-specific
    * libm call that can round differently at the last ulp), while
    * `r · freq` is a BIGINT product both engines compute identically;
    * the one division (`share4`) is a single IEEE op on exact integers
    * (the repo-wide exactness convention).
    *
    * Plan: one tokenized pass to (lang, token) counts — the x96 wire
    * argument — then the rank window partitions BY LANGUAGE over the
    * per-language vocabulary (never global, never the token stream),
    * and the probe-rank filter collapses it to |langs| · |probes| rows
    * before the totals broadcast joins back. Probe ranks double rather
    * than step so the profile spans three decades in ~10 rows per
    * language (the budgetSweep sweep discipline).
    */
  def zipfProfile(
      spark: SparkSession,
      dir: String,
      maxRankLog2: Int = 7): DataFrame = {
    require(maxRankLog2 >= 0 && maxRankLog2 <= 30,
      s"maxRankLog2 ($maxRankLog2) out of range")
    import org.apache.spark.sql.expressions.Window
    val probes = (0 to maxRankLog2).map(1L << _)
    val counts = Tables.documents(spark, dir)
      .select(col("lang"), explode(Tables.tokens(col("text"))).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("freq"))
    val totals = counts.groupBy("lang").agg(sum("freq").as("lang_mass"))
    val w = Window.partitionBy("lang").orderBy(col("freq").desc, col("token"))
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank").isInCollection(probes))
      .join(totals, "lang")
      .select(col("lang"), col("rank"), col("token"), col("freq"),
        (col("rank") * col("freq")).as("zipf_product"),
        round(col("freq").cast("double") / col("lang_mass"), 4).as("share4"))
      .orderBy("lang", "rank")
  }

  /** EXT-T21 (`x149_token_gini`) — per-language vocabulary CONCENTRATION:
    * the exact Gini coefficient of the unigram frequency distribution,
    * with the exact BIGINT numerator alongside. Complements x120's Zipf
    * product profile (a curve read at probe ranks) with the single
    * concentration number a drift monitor thresholds: Gini → 0 is a
    * uniform vocabulary, → 1 is a few tokens owning the corpus — and a
    * language whose Gini JUMPS between crawls has been flooded with
    * templated text before any individual frequency moves enough to
    * trip x60.
    *
    * The spelling is the COUNT-OF-COUNTS contraction (x119's argument,
    * taken further): for ascending-rank Gini, `Σ (2i − n − 1)·x_i`, all
    * ranks inside one frequency class are interchangeable — a class of
    * m tokens at count c occupying ranks (s, s+m] contributes exactly
    * `c · m·(2s + m − n)` (the closed-form inner sum), so the window
    * orders ONLY the (count → class size) relation, ≤ |distinct counts|
    * rows per language, never the vocabulary and never the token
    * stream. The DuckDB oracle deliberately spells the NAIVE per-token
    * rank window, so every run differentially proves the contraction
    * exact. Tie-invariance: equal-count tokens permute only within
    * their class, and the class contribution depends on (c, m, s, n)
    * alone. All integers until the single rounded division.
    *
    * Overflow bound (the pageRank-note discipline): every class term is
    * ≤ c·m·n ≤ instances·types in magnitude and the numerator is
    * ≤ types·instances, so the fold is exact while
    * `n_types · n_tokens < 2⁶³` — ~10⁸ types over ~10¹⁰ instances per
    * language; beyond that, lift the numerator to the x110 decimal
    * digit-string spelling.
    */
  def tokenGini(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val classes = Tables.documents(spark, dir)
      .select(col("lang"), explode(Tables.tokens(col("text"))).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
      .groupBy("lang", "cnt").agg(count(lit(1)).as("m"))
    val perLang = classes.groupBy("lang")
      .agg(sum("m").as("n_types"), sum(expr("cnt * m")).as("n_tokens"))
    val w = Window.partitionBy("lang").orderBy("cnt")
      .rowsBetween(Window.unboundedPreceding, -1)
    classes
      .withColumn("s", coalesce(sum("m").over(w), lit(0L)))
      .join(perLang, Seq("lang"))
      .groupBy("lang")
      .agg(
        max("n_types").as("n_types"),
        max("n_tokens").as("n_tokens"),
        sum(expr("cnt * (m * (2 * s + m - n_types))")).as("gini_num"))
      .withColumn("gini4",
        when(col("n_types") === 0L || col("n_tokens") === 0L, lit(null).cast("double"))
          .otherwise(round(col("gini_num").cast("double")
            / (col("n_types") * col("n_tokens")).cast("double"), 4)))
      .orderBy("lang")
  }
}
