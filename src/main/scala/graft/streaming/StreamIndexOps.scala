package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** The persisted-index MAINTENANCE half of [[StreamOps]] (split out at
  * r17 — the 2,040-LoC wall the r16 verdict flagged; the seam is the
  * generation-lifecycle family vs everything else): the EXT-6h/6o/6p
  * signature-index maintainers, their probe-side live-generation
  * resolvers, the shared generational machinery (append to the live
  * generation, periodic compaction, atomic `_live` cutover, lag-1
  * retention, crash healing), and the r17 EXT-6ao IVF-PQ code-row
  * maintainer that makes the composite serving index self-maintaining.
  * Mixed into `object StreamOps`, so every public name keeps its
  * `StreamOps.foo` address (the [[graft.operators.SimilarityIndexOps]]
  * split convention).
  */
private[streaming] trait StreamIndexOps { self: StreamOps.type =>

  /** EXT-6h — streaming LSH-index maintenance: append each microbatch's
    * band signatures ([[graft.operators.Dedup.bandSignatures]] — the
    * BATCH definition, run per microbatch unchanged) to the persisted
    * index that [[graft.operators.Dedup.indexCandidates]] probes (the
    * read half of the loop: fresh batches band-join the index relation
    * directly — indexed documents are never re-shingled). Together they
    * close the ingest cycle the batch operator's "built once per corpus,
    * not per ingest" contract describes.
    *
    * `foreachBatch` + parquet APPEND is the right delivery contract
    * here: a replayed microbatch can only append DUPLICATE signature
    * rows, and a duplicate signature row only causes a repeated
    * candidate probe downstream — near-dup candidates are exactly
    * verified after the index join, so correctness is replay-immune and
    * the exactly-once machinery (and its latency) is not needed.
    *
    * **Compaction is built in** — one appended file set per microbatch
    * at a 1 s cadence is ~86k file sets/day, and at that point scan
    * planning (not scanning) dominates every probe. The index lives in
    * GENERATION directories under `indexDir`:
    * {{{
    *   indexDir/gen-<n>/...parquet    appends land in the live generation
    *   indexDir/gen-<n>/_live         marker: this generation is probe-able
    * }}}
    * Every `compactEvery` microbatches the maintainer rolls the live
    * generation through [[graft.sources.Sources.compactParquet]]'s
    * new-directory contract into `gen-<n+1>` and cuts over by CREATING
    * `gen-<n+1>/_live` (a single atomic file create) before retiring
    * `gen-<n>`'s marker. Probers resolve the live generation at read
    * time via [[lshIndex]]; mid-compaction they see either the old or
    * the new generation — both complete, same distinct signature rows —
    * never a partial directory. Retention lags one generation: `gen-<n>`
    * keeps its DATA until `gen-<n+2>` exists, so a reader that resolved
    * it just before cutover has a full compaction period to finish its
    * scan. Crash safety: a generation directory without `_live` is an
    * incomplete compaction and is deleted and redone on the next
    * trigger; a crash between the two marker operations leaves TWO live
    * markers, and resolution picks the highest (the compacted superset)
    * and retires the stale one.
    */
  def maintainLshIndex(
      docs: DataFrame,
      indexDir: String,
      checkpointLocation: String,
      compactEvery: Long = 16L,
      targetBytes: Long = 128L * 1024 * 1024): StreamingQuery =
    maintainGenerationalIndex(docs, indexDir, checkpointLocation, compactEvery, targetBytes)(
      batch => Dedup.bandSignatures(batch))

  /** EXT-6o — streaming WINNOW-index maintenance: [[maintainLshIndex]]'s
    * generation lifecycle (append to the live generation, periodic
    * compaction, atomic `_live` cutover, lag-1 retention — every
    * property above holds unchanged) applied to
    * [[graft.operators.Dedup.winnowSignatures]], the span-level
    * fingerprint unit. Closes the span-copy ingest loop the way EXT-6h
    * closes the document-near-dup one: arriving documents' winnowed
    * fingerprints accumulate once, and fresh batches probe via
    * [[graft.operators.Dedup.winnowCandidates]] without re-winnowing the
    * corpus. The same at-least-once append contract applies — and the
    * probe is replay-IMMUNE (not merely tolerant) because
    * winnowCandidates distincts the indexed side before counting.
    */
  def maintainWinnowIndex(
      docs: DataFrame,
      indexDir: String,
      checkpointLocation: String,
      compactEvery: Long = 16L,
      targetBytes: Long = 128L * 1024 * 1024,
      k: Int = 8,
      wWin: Int = 4): StreamingQuery =
    maintainGenerationalIndex(docs, indexDir, checkpointLocation, compactEvery, targetBytes)(
      batch => Dedup.winnowSignatures(batch, k, wWin))

  /** EXT-6p — streaming SEGMENT-index maintenance: the same generation
    * lifecycle applied to [[graft.operators.Dedup.segmentSignatures]],
    * the unit of x84's segment-level dedup repair. Closes the
    * boilerplate-repair ingest loop: arriving documents' segment hashes
    * accumulate once, and fresh batches are REPAIRED against the
    * accumulated census via [[graft.operators.Dedup.repairAgainstIndex]]
    * without rescanning the corpus. The probe's census counts DISTINCT
    * doc_ids, so the at-least-once append contract needs no
    * exactly-once machinery — replays are census-invisible.
    */
  def maintainSegmentIndex(
      docs: DataFrame,
      indexDir: String,
      checkpointLocation: String,
      compactEvery: Long = 16L,
      targetBytes: Long = 128L * 1024 * 1024,
      segTokens: Int = 10): StreamingQuery =
    maintainGenerationalIndex(docs, indexDir, checkpointLocation, compactEvery, targetBytes)(
      batch => Dedup.segmentSignatures(batch, segTokens))

  private def maintainGenerationalIndex(
      docs: DataFrame,
      indexDir: String,
      checkpointLocation: String,
      compactEvery: Long,
      targetBytes: Long,
      partitionCols: Seq[String] = Nil,
      generationStamp: Option[SparkSession => String] = None)(
      signaturesOf: Dataset[Row] => DataFrame): StreamingQuery =
    maintainGenerationalRelations(docs, indexDir, checkpointLocation,
      compactEvery, targetBytes, generationStamp,
      Seq(GenRelation("", partitionCols)))(batch => Seq(signaturesOf(batch)))

  /** One sub-relation of a generational index: `subdir` inside each
    * `gen-<n>/` ("" = the generation root, every single-relation
    * maintainer's layout — unchanged on disk) and its partition columns.
    * EXT-6at introduced the multi-relation form: a BM25 generation
    * carries bucket-partitioned postings AND flat doc-length rows,
    * compacted together and cut over by the ONE `_live` marker so a
    * probe never sees them split across generations.
    */
  private case class GenRelation(subdir: String, partitionCols: Seq[String])

  private def maintainGenerationalRelations(
      docs: DataFrame,
      indexDir: String,
      checkpointLocation: String,
      compactEvery: Long,
      targetBytes: Long,
      generationStamp: Option[SparkSession => String],
      relations: Seq[GenRelation])(
      rowsOf: Dataset[Row] => Seq[DataFrame]): StreamingQuery = {
    require(compactEvery > 0, "compactEvery must be positive")
    require(relations.nonEmpty, "a generational index needs >= 1 relation")
    def sub(base: Path, r: GenRelation): Path =
      if (r.subdir.isEmpty) base else new Path(base, r.subdir)
    docs.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val root = new Path(indexDir)
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        val (gen, genPath) = liveGeneration(fs, root, retireStale = true).getOrElse {
          (0L, new Path(root, "gen-0"))
        }
        // generation-level layout stamp (EXT-6ao): rows produced under
        // one geometry must never share a generation with rows produced
        // under another — claim the stamp on first append, REFUSE a
        // drifted one (a retrain over a live index requires a rebuild)
        val stampNow = generationStamp.map(_(spark))
        stampNow.foreach(s => claimOrValidateStamp(fs, genPath, s))
        // one derivation per batch returns every relation; appends are
        // ordered as declared, and a crash between them leaves a partial
        // batch whose replay re-appends byte-identical rows (the
        // at-least-once contract the probes' distincts already absorb)
        val rows = rowsOf(batch)
        require(rows.length == relations.length,
          s"${rows.length} relations derived for ${relations.length} declared")
        relations.zip(rows).foreach { case (r, df) =>
          val writer = df.write.mode("append")
          (if (r.partitionCols.nonEmpty) writer.partitionBy(r.partitionCols: _*)
           else writer).parquet(sub(genPath, r).toString)
        }
        // the marker lands AFTER the generation has data (and heals a
        // crash between a first append and its marker): a reader must
        // never resolve a live generation whose directory holds zero
        // parquet files — spark.read would fail on schema inference
        // instead of giving the guided "no live generation" error
        val live = new Path(genPath, "_live")
        if (!fs.exists(live)) fs.create(live, true).close()
        if (batchId > 0 && batchId % compactEvery == 0) {
          val next = new Path(root, s"gen-${gen + 1}")
          // a next-gen dir can only pre-exist from a compaction that
          // crashed before its _live marker: incomplete, redo from scratch
          if (fs.exists(next)) fs.delete(next, true)
          relations.foreach { r =>
            graft.sources.Sources.compactParquet(spark, sub(genPath, r).toString,
              sub(next, r).toString, targetBytes, r.partitionCols)
          }
          // the compacted generation carries the SAME validated stamp
          stampNow.foreach(s => claimOrValidateStamp(fs, next, s))
          // cutover: one atomic create, then retire the old marker
          fs.create(new Path(next, "_live"), true).close()
          fs.delete(new Path(genPath, "_live"), false)
          // lag-1 retention: no new reader can resolve gen-(n-1), and its
          // in-flight readers have had a full compaction period to finish
          if (gen > 0)
            fs.delete(new Path(root, s"gen-${gen - 1}"), true)
        }
        ()
      }
      .start()
  }

  /** The probe-side resolver for a [[maintainLshIndex]] index: the LIVE
    * generation's signature relation, suitable for
    * [[graft.operators.Dedup.indexCandidates]]. A reader racing the
    * cutover's two marker operations (new `_live` created, then old one
    * retired) can observe a listing where NEITHER marker is visible yet
    * — existence checks are per-directory, not atomic over the listing —
    * so resolution retries a few times before declaring the index
    * absent; the maintainer's invariant (never zero live markers except
    * before the first batch) makes one retry sufficient in practice.
    * Read-only: stale-marker retirement belongs to the MAINTAINER
    * (racing it from the read path would have two actors deleting
    * markers concurrently).
    */
  def lshIndex(spark: SparkSession, indexDir: String): DataFrame =
    liveIndex(spark, indexDir, "LSH", Dedup.BandSignatures)

  /** The probe-side resolver for a [[maintainWinnowIndex]] index — the
    * live generation's stamped fingerprint relation, suitable for
    * [[graft.operators.Dedup.winnowCandidates]]. Same resolution (and
    * cutover-race retry) as [[lshIndex]].
    */
  def winnowIndex(spark: SparkSession, indexDir: String): DataFrame =
    liveIndex(spark, indexDir, "winnow", Dedup.WinnowSignatures)

  /** The probe-side resolver for a [[maintainSegmentIndex]] index — the
    * live generation's stamped segment-hash relation, suitable for
    * [[graft.operators.Dedup.repairAgainstIndex]]. Same resolution (and
    * cutover-race retry) as [[lshIndex]].
    */
  def segmentIndex(spark: SparkSession, indexDir: String): DataFrame =
    liveIndex(spark, indexDir, "segment", Dedup.SegmentSignatures)

  private def liveIndex(
      spark: SparkSession, indexDir: String, what: String, schema: String): DataFrame =
    spark.read.schema(schema).parquet(liveIndexPath(spark, indexDir, what).toString)

  /** The resolved live-generation DIRECTORY (see [[liveIndex]] for the
    * cutover-race retry) — for probes that also validate per-generation
    * markers (EXT-6ao's geometry stamp) before reading.
    */
  private def liveIndexPath(spark: SparkSession, indexDir: String, what: String): Path = {
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def genDirsExist: Boolean =
      fs.exists(root) && fs.listStatus(root).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("gen-"))
    var live = liveGeneration(fs, root, retireStale = false)
    var attempt = 0
    // retry ONLY the actual race (generation directories present but no
    // marker visible mid-cutover) — a legitimately absent index fails
    // immediately, without paying the backoff just to raise the error
    while (live.isEmpty && genDirsExist && attempt < 3) {
      Thread.sleep(50L << attempt) // 50/100/200 ms: outwait a cutover
      live = liveGeneration(fs, root, retireStale = false)
      attempt += 1
    }
    live.getOrElse(
      sys.error(s"no live $what index generation under $indexDir — " +
        "has the index maintainer processed a batch yet?"))._2
  }

  /** Claim (first append) or validate (every later one) a generation's
    * layout-stamp marker. The refusal is the EXT-6ao retrain contract:
    * sidecars rewritten under a live index would otherwise mix rows
    * coded under DIFFERENT geometries in one generation, and every
    * old row would silently mis-score against the new codebooks.
    */
  private def claimOrValidateStamp(fs: FileSystem, genPath: Path, stamp: String): Unit = {
    val p = new Path(genPath, "_geom")
    if (!fs.exists(p)) {
      val out = fs.create(p, true)
      out.write(stamp.getBytes("UTF-8"))
      out.close()
    } else {
      val have = readStamp(fs, p)
      require(have == stamp,
        s"index geometry changed under a live generation ($have -> $stamp): " +
          "a retrain cannot append into existing code rows — rebuild into a fresh index root")
    }
  }

  private def readStamp(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** EXT-6ao — streaming IVF-PQ CODE-ROW maintenance: the generation
    * lifecycle of [[maintainLshIndex]] (append, periodic compaction,
    * atomic `_live` cutover, lag-1 retention, crash healing) applied to
    * the composite serving index's code rows, so the serving relation
    * stays current without a rebuild.
    *
    * Prereq: [[graft.operators.Similarity.initIvfPqIndex]] (or a full
    * `writeIvfPqIndex`) has stamped the GEOMETRY sidecars under
    * `indexPath` — train once. Each microbatch is routed and coded
    * row-locally by `ivfPqAssignProjection` against those stamped plan
    * literals (no join, no shuffle, no state) and appended
    * `partitionBy("cell")`, so a generation is laid out exactly like
    * the static `cells/` and the probe's cell pruning engages unchanged;
    * compaction keeps the partitioning.
    *
    * At-least-once appends suffice: a replay re-encodes
    * DETERMINISTICALLY, so it can only write byte-identical rows, which
    * the probe ([[ivfPqProbeLive]]) drops before scoring — replay-IMMUNE.
    * The sidecars are re-read per microbatch through the
    * [[graft.operators.IndexCache]] memo (no Spark job when unchanged),
    * and a retrained geometry refuses both the append and the probe via
    * the generation stamp ([[graft.operators.Similarity.ivfPqIndexStamp]]).
    */
  def maintainIvfPqIndex(
      vecs: DataFrame,
      indexPath: String,
      checkpointLocation: String,
      compactEvery: Long = 16L,
      targetBytes: Long = 128L * 1024 * 1024): StreamingQuery =
    maintainGenerationalIndex(vecs, indexPath, checkpointLocation,
      compactEvery, targetBytes, partitionCols = Seq("cell"),
      generationStamp = Some(Similarity.ivfPqIndexStamp(_, indexPath))) { batch =>
      val (cents, cb, dim, dsub) = Similarity.loadIvfPqGeometry(batch.sparkSession, indexPath)
      Similarity.requireUniformDim(batch.toDF(), dim, "coded dim (streaming ingest)")
      Similarity.ivfPqAssignProjection(batch.toDF(), cents, cb, dsub)
        .select("vec_id", "codes", "cell")
    }

  /** EXT-6ao's probe: [[graft.operators.Similarity.ivfPqTopKFromIndex]]
    * served from the LIVE GENERATION of a streaming-maintained index —
    * the same plan over the generation whose stamp matches the geometry
    * about to score it (a retrained sidecar over un-rebuilt generations
    * refuses instead of mis-scoring every row), with replay dedup on.
    * Law (spec-pinned): once the maintainer has ingested exactly a
    * corpus, this equals `ivfPqTopKFromIndex` over `writeIvfPqIndex` of
    * that corpus, across compactions and replays. Planning (warm memos)
    * runs the static probe's jobs and no other: the replay dedup runs at
    * execution only.
    */
  def ivfPqProbeLive(
      spark: SparkSession,
      indexDir: String,
      queries: DataFrame,
      k: Int = 3,
      nprobe: Int = 2): DataFrame =
    Similarity.ivfPqTopKOverCells(spark, indexDir, validatedLiveGeneration(spark, indexDir,
      "IVF-PQ", Similarity.ivfPqIndexStamp(spark, indexDir)), queries, k, nprobe,
      dedupReplays = true)

  /** EXT-6as — the full production serving call on a STREAMING-
    * MAINTAINED composite index, at the STAMPED operating point: the
    * validated (nprobe, shortlist) of its `opp/` sidecar
    * ([[graft.operators.Similarity.servingPoint]]'s refusals) drives the
    * live ADC shortlist ([[ivfPqProbeLive]]), and the exact-refine tail
    * fetches float vectors from `corpusDir` by candidate id only
    * ([[graft.operators.Similarity.refineByFloatStore]]). Law
    * (spec-pinned): once the maintainer has ingested exactly a corpus and
    * the index is tuned, this equals `ivfPqTopKRefinedFromIndexAuto` over
    * the static index of that corpus tuned with the same grid/budget.
    */
  def ivfPqRefinedProbeLiveAuto(
      spark: SparkSession,
      indexDir: String,
      corpusDir: String,
      queries: DataFrame,
      k: Int = 3): DataFrame = {
    val (nprobe, shortlist) = Similarity.servingPoint(spark, indexDir, k)
    val cand = ivfPqProbeLive(spark, indexDir, queries, k = shortlist, nprobe = nprobe)
      .selectExpr("vec_id AS qid", "neighbor_id AS cid")
    Similarity.refineByFloatStore(spark, corpusDir, cand, queries, k)
  }

  /** EXT-6aq — streaming SIGN-SIGNATURE index maintenance: the
    * generation lifecycle applied to the x183 index's 16-byte rows,
    * packed row-locally against the stamped dim
    * ([[graft.operators.Similarity.initSignIndex]]; no training) and
    * served replay-immune by [[hammingProbeLive]]. With it every index
    * whose rows are a pure per-row function of the arrival (LSH bands
    * 6h, winnow 6o, segments 6p, IVF-PQ codes 6ao, dHash 6ap, sign bits,
    * float cells 6ar) maintains itself.
    */
  def maintainSignIndex(
      vecs: DataFrame,
      indexPath: String,
      checkpointLocation: String,
      compactEvery: Long = 16L,
      targetBytes: Long = 128L * 1024 * 1024): StreamingQuery =
    maintainGenerationalIndex(vecs, indexPath, checkpointLocation,
      compactEvery, targetBytes, generationStamp = Some(signStamp(_, indexPath))) { batch =>
      val dim = Similarity.loadSignDim(batch.sparkSession, indexPath)
      Similarity.requireUniformDim(batch.toDF(), dim, "packed dim (streaming ingest)")
      Similarity.signSignatureProjection(batch.toDF(), dim)
    }

  /** EXT-6aq's probe: [[graft.operators.Similarity.hammingTopKFromIndex]]
    * served from the live generation — stamp-validated (the queries are
    * packed under the dim the rows were packed under), replay-deduped,
    * full vectors fetched from `corpusDir` by candidate id only.
    * Planning (warm memos) runs the static probe's jobs and no other.
    */
  def hammingProbeLive(
      spark: SparkSession,
      indexDir: String,
      corpusDir: String,
      queries: DataFrame,
      candidates: Int = 20,
      k: Int = 3,
      maxBroadcastBytes: Long = 64L << 20): DataFrame =
    Similarity.hammingTopKOverSignatures(spark, indexDir,
      validatedLiveGeneration(spark, indexDir, "sign", signStamp(spark, indexDir)),
      corpusDir, queries, candidates, k, maxBroadcastBytes, dedupReplays = true)

  /** The sign family's generation stamp: the packed dim. */
  private def signStamp(spark: SparkSession, indexPath: String): String =
    s"dim:${Similarity.loadSignDim(spark, indexPath)}"

  /** EXT-6ar — streaming FLOAT-IVF index maintenance: the generation
    * lifecycle applied to the x175 index's cell rows, routed row-locally
    * to their argmax cell against the stamped centroids
    * ([[graft.operators.Similarity.initIvfIndex]]) and appended
    * CELL-PARTITIONED like the static `cells/`. A retrained centroid
    * sidecar refuses both directions via the generation stamp.
    */
  def maintainIvfIndex(
      vecs: DataFrame,
      indexPath: String,
      checkpointLocation: String,
      compactEvery: Long = 16L,
      targetBytes: Long = 128L * 1024 * 1024): StreamingQuery =
    maintainGenerationalIndex(vecs, indexPath, checkpointLocation,
      compactEvery, targetBytes, partitionCols = Seq("cell"),
      generationStamp = Some(ivfStamp(_, indexPath))) { batch =>
      val (cents, _) = Similarity.loadCoarseCentroids(batch.sparkSession, indexPath)
      Similarity.requireUniformDim(batch.toDF(), cents.head._2.length,
        "centroid dim (streaming ingest)")
      Similarity.ivfCellProjection(batch.toDF(), cents).select("vec_id", "embedding", "cell")
    }

  /** EXT-6ar's probe: [[graft.operators.Similarity.ivfTopKFromIndex]]
    * served from the live generation — stamp-validated against the
    * centroid geometry about to route the probes, replay-deduped over
    * the pruned cells. Planning (warm memos) runs the static probe's
    * jobs and no other — none for a query batch already on the driver.
    */
  def ivfProbeLive(
      spark: SparkSession,
      indexDir: String,
      queries: DataFrame,
      k: Int = 3,
      nprobe: Int = 1): DataFrame =
    Similarity.ivfTopKOverCells(spark, indexDir,
      validatedLiveGeneration(spark, indexDir, "IVF", ivfStamp(spark, indexDir)),
      queries, k, nprobe, dedupReplays = true)

  /** The float-IVF family's generation stamp: the centroid geometry. */
  private def ivfStamp(spark: SparkSession, indexPath: String): String = {
    val (cents, _) = Similarity.loadCoarseCentroids(spark, indexPath)
    Similarity.ivfPqGeometryStamp(cents, Array.empty, cents.head._2.length)
  }

  /** The ONE live-rows resolver of the vector and BM25 probes: the live
    * generation root, after validating its `_geom` marker against the
    * family's stamp of the layout about to serve it (the probe-side half
    * of the EXT-6ao retrain contract). A live probe passes it to the
    * `…Over…` plan its static twin passes the index layout to.
    */
  private def validatedLiveGeneration(
      spark: SparkSession, indexDir: String, what: String, expect: String): String = {
    val genPath = liveIndexPath(spark, indexDir, what)
    val fs = genPath.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new Path(genPath, "_geom")
    require(fs.exists(marker),
      s"live generation $genPath carries no geometry stamp — not a maintained $what index")
    val have = readStamp(fs, marker)
    require(have == expect,
      s"live generation $genPath was built under layout $have but the sidecars now " +
        s"stamp $expect: a retrain requires a rebuild into a fresh index root")
    genPath.toString
  }

  /** EXT-6ap — streaming perceptual-FINGERPRINT index maintenance: the
    * generation lifecycle applied to
    * [[graft.operators.Multimodal.phashSignatures]], the 16-byte dHash
    * + digest unit of x185's perceptual media dedup. Closes the media
    * re-hosting ingest loop (the r16 verdict's #4): a re-encoded copy
    * of an indexed payload is exactly the ingest-time question — its
    * byte digest differs (x151's loop misses it) but its dHash lands
    * within the banding radius, and
    * [[graft.operators.Multimodal.phashCandidates]] probes arriving
    * payloads against the accumulated fingerprints without re-hashing
    * the corpus. Expects `(doc_id, payload, media_type)` rows.
    *
    * At-least-once appends + a replay-immune probe (the fingerprint is
    * a pure function of the payload, so replays append byte-identical
    * rows and the probe's `distinct` collapses them); the banding stamp
    * rides every row and a mis-stamped index refuses at probe time.
    */
  def maintainPhashIndex(
      media: DataFrame,
      indexDir: String,
      checkpointLocation: String,
      compactEvery: Long = 16L,
      targetBytes: Long = 128L * 1024 * 1024): StreamingQuery =
    maintainGenerationalIndex(media, indexDir, checkpointLocation, compactEvery, targetBytes)(
      batch => Multimodal.phashSignatures(batch.toDF()))

  /** The probe-side resolver for a [[maintainPhashIndex]] index — the
    * live generation's stamped fingerprint relation, suitable for
    * [[graft.operators.Multimodal.phashCandidates]]. Same resolution
    * (and cutover-race retry) as [[lshIndex]].
    */
  def phashIndex(spark: SparkSession, indexDir: String): DataFrame =
    liveIndex(spark, indexDir, "pHash", Multimodal.PhashSignatures)

  /** EXT-6at — streaming BM25 index maintenance: the generation
    * lifecycle applied to the LEXICAL index, the one family the "pure
    * per-row function" completion argument (6h/6o/6p/6ao/6ap/6aq/6ar)
    * deliberately carved out — BM25's df / n_docs / avgdl are
    * corpus-GLOBAL, so no stamp written at build time stays true under
    * arrivals. The resolution: every generation holds the static
    * index's ADDITIVE relations
    * ([[graft.operators.TextAnalysis.bm25Relations]] — bucket-partitioned
    * postings and per-document lengths, from the batch's one
    * [[graft.operators.TextAnalysis.termFreq]] pass), and the probe
    * derives every global exactly from them ([[bm25ProbeLive]]). The
    * only stamped contract is `n_buckets`
    * ([[graft.operators.TextAnalysis.initBm25Index]]'s `meta/`): buckets
    * are the one thing writer and prober must agree on BEFORE the data
    * exists, and the generation's `_geom` marker carries it so a
    * re-init under live generations refuses both directions.
    *
    * At-least-once appends suffice: a replayed batch re-derives
    * byte-identical postings and doclens rows (termFreq is
    * deterministic), and the probe distincts both relations before any
    * aggregate — replay-IMMUNE, the 6ao argument. Doclens append FIRST:
    * a crash between the two appends then leaves docs that are counted
    * in n_docs but match no terms (a doc whose tokens are pending),
    * never phantom postings scored against an undercounted corpus; the
    * replay heals either way. Expects `(doc_id, text)` rows.
    */
  def maintainBm25Index(
      docs: DataFrame,
      indexPath: String,
      checkpointLocation: String,
      compactEvery: Long = 16L,
      targetBytes: Long = 128L * 1024 * 1024): StreamingQuery =
    maintainGenerationalRelations(docs, indexPath, checkpointLocation,
      compactEvery, targetBytes, generationStamp = Some(bm25Stamp(_, indexPath)),
      relations = Seq(GenRelation("doclens", Nil), GenRelation("postings", Seq("bucket")))) {
      batch =>
        val (postings, doclens) = TextAnalysis.bm25Relations(batch.toDF(),
          TextAnalysis.loadBm25NBuckets(batch.sparkSession, indexPath))
        Seq(doclens, postings)
    }

  /** The BM25 family's generation stamp: the stamped bucket count. */
  private def bm25Stamp(spark: SparkSession, indexPath: String): String =
    s"bm25:nbuckets=${TextAnalysis.loadBm25NBuckets(spark, indexPath)}"

  /** EXT-6at's probe: BM25 top-k served from the LIVE GENERATION of a
    * streaming-maintained index — the static probe's plan
    * ([[graft.operators.TextAnalysis.bm25TopKOverRelations]]: df and the
    * doc-length stats derived exactly from the generation's rows,
    * bucket-pruned postings, no Spark job to plan) over the
    * stamp-validated live generation, with replay dedup on. Law
    * (spec-pinned): once the maintainer has ingested exactly a corpus,
    * this equals `bm25TopKFromIndex` over `writeBm25Index` of that
    * corpus, across generations, replays and compactions.
    */
  def bm25ProbeLive(
      spark: SparkSession,
      indexDir: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      k: Int = 5): DataFrame =
    TextAnalysis.bm25TopKOverRelations(spark,
      validatedLiveGeneration(spark, indexDir, "BM25", bm25Stamp(spark, indexDir)),
      TextAnalysis.loadBm25NBuckets(spark, indexDir),
      terms, k1, b, k, dedupReplays = true)

  /** Highest `gen-<n>` under `root` bearing a `_live` marker. With
    * `retireStale` (maintainer only), extra markers left by a cutover
    * crash are deleted; the highest (the compacted superset) wins either
    * way.
    */
  private def liveGeneration(
      fs: FileSystem, root: Path, retireStale: Boolean): Option[(Long, Path)] = {
    if (!fs.exists(root)) return None
    val gens = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("gen-")) name.drop(4).toLongOption.map(_ -> st.getPath)
        else None
      }
      .sortBy(_._1)
      .filter { case (_, p) => fs.exists(new Path(p, "_live")) }
    if (retireStale)
      gens.dropRight(1).foreach { case (_, p) => // stale markers from a cutover crash
        fs.delete(new Path(p, "_live"), false)
      }
    gens.lastOption
  }
}
