package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling (SURVEY.md §2b): media as opaque `binary`
  * columns plus typed metadata, with decode/feature-extraction running
  * batch-wise over partitions.
  *
  * The decode step is STUBBED — this container has no image/audio codecs
  * — with a deterministic fake ([[FakeDecode]]) so the Spark-side
  * plumbing (schema, partitioning, batch iteration, feature schema) is
  * real and testable. Swapping in a real codec touches only
  * [[FakeDecode.decode]].
  *
  * Scale design: `mapPartitions` keeps the decode loop at one
  * JVM-boundary crossing per PARTITION (not per row) — the Scala analog
  * of `mapInPandas` batch semantics — and the work is embarrassingly
  * parallel: no shuffle anywhere; feature extraction runs where the
  * bytes already live.
  */
object Multimodal {

  /** One media record: opaque payload + typed metadata. */
  case class MediaRecord(doc_id: Long, payload: Array[Byte], media_type: String)

  /** Extracted features. Width/height come from the (stubbed) decoder. */
  case class MediaFeatures(doc_id: Long, byte_len: Long, sha256: String, width: Int, height: Int)

  /** STUB decoder — deterministic fake in place of a real image/audio
    * codec (none available in this environment). Parses the payload's
    * "header" as the first two UTF-8 code points (replacement char for
    * invalid sequences — still total and deterministic), so the oracle's
    * character functions (`ascii(substr(text, i, 1))`) compute the
    * identical values for any text, not only ASCII.
    */
  object FakeDecode {
    def decode(payload: Array[Byte]): (Int, Int) = {
      val s = new String(payload, java.nio.charset.StandardCharsets.UTF_8)
      val c0 = if (s.nonEmpty) s.codePointAt(0) else 0
      val c1 = {
        val next = if (s.nonEmpty) Character.charCount(c0) else 0
        if (s.length > next) s.codePointAt(next) else 0
      }
      (16 * (1 + c0 % 64), 16 * (1 + c1 % 64)) // fake width × height
    }
  }

  /** The documents table as a media table: text bytes standing in for an
    * encoded media payload (UTF-8 — byte length is octet length).
    */
  def asMedia(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
        lit("text/plain").as("media_type"))
      .as[MediaRecord]
  }

  /** EXT-M1 — batch feature extraction via `mapPartitions`: the iterator
    * is consumed lazily (no partition materialization), hashing and
    * "decoding" each payload once.
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      val digest = java.security.MessageDigest.getInstance("SHA-256")
      batch.map { rec =>
        val (w, h) = FakeDecode.decode(rec.payload)
        digest.reset()
        val hex = digest.digest(rec.payload).map("%02x".format(_)).mkString
        MediaFeatures(rec.doc_id, rec.payload.length.toLong, hex, w, h)
      }
    }
  }

  /** The oracle-checked query: features over the documents-as-media
    * table, ordered.
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(asMedia(spark, dir)).toDF().orderBy("doc_id")

  /** A "resized" media record: payload re-encoded at target dimensions. */
  case class ResizedRecord(doc_id: Long, payload: Array[Byte], media_type: String,
      width: Int, height: Int)

  /** EXT-M2 — STUB resize: a real implementation decodes, scales, and
    * re-encodes each payload; the deterministic fake truncates the
    * payload proportionally to the area ratio so output sizes behave
    * like a real downscale. Batch shape identical to [[extractFeatures]]
    * — swap the body for a codec call and nothing else changes.
    */
  def resize(media: Dataset[MediaRecord], targetW: Int, targetH: Int): Dataset[ResizedRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      batch.map { rec =>
        val (w, h) = FakeDecode.decode(rec.payload)
        val ratio = math.min(1.0, (targetW.toLong * targetH).toDouble / (w.toLong * h))
        val outLen = math.max(1, (rec.payload.length * ratio).toInt)
        ResizedRecord(rec.doc_id, rec.payload.take(outLen), rec.media_type, targetW, targetH)
      }
    }
  }

  /** One embedded media record; `batch_size` records how many payloads
    * shared its model call (observable, so tests can pin the batching).
    */
  case class MediaEmbedding(doc_id: Long, embedding: Array[Float], batch_size: Int)

  /** STUB embedding "model": one deterministic vector per payload.
    * Signature is the real contract — a BATCH of payloads in, a batch of
    * vectors out — because that is what a GPU forward pass needs.
    */
  object FakeModel {
    def forward(payloads: Seq[Array[Byte]], dim: Int): Seq[Array[Float]] =
      payloads.map { p =>
        val h = java.util.Arrays.hashCode(p)
        Array.tabulate(dim)(i => ((math.abs(h.toLong * 31 + i) % 1000) / 1000.0).toFloat)
      }
  }

  /** EXT-M4 — batched embedding inference: the GPU-inference plumbing.
    * `iterator.grouped(batchSize)` accumulates records so the (stubbed)
    * model runs ONE forward pass per micro-batch, not per row — per-row
    * model calls are the classic 100× inference slowdown. Still one JVM
    * crossing per partition, no shuffle; batch assembly is bounded memory
    * (`batchSize` payloads, not the partition).
    */
  def embedBatched(media: Dataset[MediaRecord], dim: Int = 8,
      batchSize: Int = 32): Dataset[MediaEmbedding] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val out = FakeModel.forward(batch.map(_.payload), dim)
        batch.lazyZip(out).map { (rec, emb) => MediaEmbedding(rec.doc_id, emb, batch.size) }
      }
    }
  }

  /** One sampled "frame" of a video-like payload. */
  case class Frame(doc_id: Long, frame_idx: Int, offset: Int, frame: Array[Byte])

  /** EXT-M3 — STUB frame sampling: treats the payload as `frameSize`-byte
    * frames and emits every `stride`-th one — the plumbing (one-to-many
    * flatMap per record, bounded output, deterministic offsets) of real
    * video frame extraction without a codec.
    */
  def sampleFrames(media: Dataset[MediaRecord], frameSize: Int = 16, stride: Int = 4,
      maxFrames: Int = 8): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      batch.flatMap { rec =>
        val nFrames = rec.payload.length / frameSize
        (0 until nFrames by stride).take(maxFrames).iterator.map { i =>
          Frame(rec.doc_id, i, i * frameSize,
            java.util.Arrays.copyOfRange(rec.payload, i * frameSize, (i + 1) * frameSize))
        }
      }
    }
  }

  /** EXT-M3's oracle face (`x177_frame_sample`) — the
    * frame-sampling plumbing over the documents-as-media table, frames
    * presented as lowercase hex so the harness hashes the BYTES sampled,
    * not just their count: a wrong offset, stride, or truncation rule
    * changes the hex and fails the row. One row-local flatMap per
    * payload (bounded ≤ `maxFrames` out-rows per record), no shuffle
    * before the presentation sort.
    */
  def frameSample(spark: SparkSession, dir: String, frameSize: Int = 16,
      stride: Int = 4, maxFrames: Int = 8): DataFrame =
    sampleFrames(asMedia(spark, dir), frameSize, stride, maxFrames)
      .toDF()
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("offset").cast("long").as("offset"),
        lower(hex(col("frame"))).as("frame_hex"))
      .orderBy("doc_id", "frame_idx")

  /** EXT-M2's oracle face (`x178_resize_census`) — per-MIME-type byte
    * economics of the (stubbed) downscale to `targetW`×`targetH`: the
    * capacity question a real media pipeline answers before paying for a
    * resize pass (how many bytes does the store shed, per type?). The
    * numbers are REAL outputs of the [[resize]] mapPartitions operator —
    * the census aggregates what the batch plumbing actually produced, so
    * a truncation-rule or decode regression moves `bytes_out` and fails
    * the hash — joined back to input sizes by the narrow doc_id key
    * (payload bytes never shuffle; only two long columns do).
    */
  def resizeCensus(spark: SparkSession, dir: String, targetW: Int = 64,
      targetH: Int = 64): DataFrame = {
    val media = asTypedMedia(spark, dir)
    val out = resize(media, targetW, targetH).toDF()
      .select(col("doc_id"), col("media_type"),
        expr("octet_length(payload)").cast("long").as("bytes_out"))
    val in = media.toDF()
      .select(col("doc_id"), expr("octet_length(payload)").cast("long").as("bytes_in"))
    out.join(in, "doc_id")
      .groupBy("media_type")
      .agg(
        count(lit(1)).as("n_files"),
        sum("bytes_in").as("bytes_in"),
        sum("bytes_out").as("bytes_out"),
        sum(when(col("bytes_out") < col("bytes_in"), 1L).otherwise(0L)).as("n_shrunk"))
      .withColumn("saved_frac4",
        when(col("bytes_in") === 0L, lit(null).cast("double"))
          .otherwise(round(lit(1.0) - col("bytes_out").cast("double") / col("bytes_in"), 4)))
      .orderBy("media_type")
  }

  /** The media table with a deterministic fake TYPE assignment (doc_id
    * mod 3 → image/audio/video) — the x34/x37 harness-binding pattern:
    * a production corpus carries real MIME types; the binding makes the
    * per-type machinery oracle-drivable.
    */
  def asTypedMedia(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
        when(pmod(col("doc_id"), lit(3)) === 0, "image/png")
          .when(pmod(col("doc_id"), lit(3)) === 1, "audio/wav")
          .otherwise("video/mp4").as("media_type"))
      .as[MediaRecord]
  }

  /** One perceptual fingerprint row: the 60-bit dHash + the payload's
    * byte digest (so a pair can be classified byte-identical vs
    * perceptual-only).
    */
  case class PHashRecord(doc_id: Long, phash: Long, pdigest: String)

  /** 60-bit dHash over an opaque payload: 61 bytes sampled on a
    * length-proportional grid (`pos_i = min(⌊i·L/61⌋, L−1)`, unsigned
    * values), bit `i` set iff `sample_i > sample_{i+1}` — the
    * difference-hash shape real image pHash uses over a downscaled
    * pixel grid, applied to the payload bytes the (stubbed) decoder
    * would produce. 60 bits, not 64, so the value never touches the
    * BIGINT sign bit (the x80/x16 oracle convention). A re-encoded or
    * locally-perturbed copy keeps most grid samples and lands within a
    * few bits; byte-identical copies collide exactly. Deterministic,
    * integer-only — the DuckDB oracle recomputes it bit-for-bit from
    * the payload hex.
    */
  private[graft] def dHash60(payload: Array[Byte]): Long = {
    val L = payload.length
    if (L == 0) return 0L
    def sample(i: Int): Int =
      payload(math.min((i.toLong * L / 61).toInt, L - 1)) & 0xFF
    var h = 0L
    var i = 0
    while (i < 60) {
      if (sample(i) > sample(i + 1)) h |= (1L << i)
      i += 1
    }
    h
  }

  /** Row-local perceptual fingerprints over a media relation — the
    * [[extractFeatures]] batch shape (one JVM crossing per partition,
    * bytes hashed where they live, nothing media-sized ever shuffles).
    */
  def phashes(media: Dataset[MediaRecord]): Dataset[PHashRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      batch.map { rec =>
        digest.reset()
        val hex = digest.digest(rec.payload).map("%02x".format(_)).mkString
        PHashRecord(rec.doc_id, dHash60(rec.payload), hex)
      }
    }
  }

  /** EXT-M6 (`x185_phash_near_dup`) — perceptual media NEAR-dup pairs:
    * [[dHash60]] fingerprints fed through x16's Hamming-band machinery
    * (5 bands × 12 bits over the 60-bit hash; a pair within
    * `maxHamming ≤ 4` differs in ≤ 4 bands, so by pigeonhole it shares
    * at least one — banding is EXACT for the reported radius, x16's
    * law), with each surviving pair's exact Hamming distance and a
    * `byte_equal` flag. Pairs with `byte_equal = false` are precisely
    * the class byte-level x151 structurally misses: re-encoded/
    * perturbed copies whose content digest differs but whose
    * perceptual fingerprint survives.
    *
    * Scale: fingerprints are row-local (16 bytes of sketch per payload
    * — payload bytes never shuffle); candidates come only from band
    *-bucket equi-joins (Σ|bucket|², never all-pairs); the exact
    * re-check touches two 8-byte hashes per candidate.
    */
  def phashNearDup(media: Dataset[MediaRecord], maxHamming: Int = 4,
      maxBucket: Int = 1 << 20): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 4,
      s"banding (5 bands × 12 bits) is exact only to hamming <= 4 (got $maxHamming)")
    // x16's bucket machinery verbatim (the r16 review ask): each
    // fingerprint row carries (phash, pdigest) INTO its band buckets, so
    // the pair expansion is the STREAMING chained-explode shape (per-row
    // memory O(|bucket|), no |bucket|²-row self-join materialization and
    // no re-join back to the fingerprint table). The saturation guard is
    // the COUNT-FIRST eager pass (the r16 audit note): a degenerate hot
    // bucket — dHash maps every constant/monotone/empty payload to hash
    // 0, so a corpus of uniform stubs can put a large fraction of docs
    // in ONE bucket — refuses with the knob named BEFORE any
    // collect_list buffers it, guaranteed-actionable at any corpus. The
    // fingerprint relation (16 B of sketch + digest per payload) is
    // materialized once and feeds the counting pass, the expansion, and
    // nothing re-hashes payload bytes.
    val fps = phashes(media).toDF().localCheckpoint()
    val banded = fps
      .select(struct(col("doc_id"), col("phash"), col("pdigest")).as("rec"),
        posexplode(array((0 until 5).map(b =>
          shiftright(col("phash"), b * 12).bitwiseAND(lit(4095L))): _*))
          .as(Seq("band", "bv")))
    Dedup.guardBucketCountsEager(banded, Seq("band", "bv"), maxBucket,
      "near-uniform payloads collapse to one dHash bucket — " +
        "pre-filter degenerate media or raise maxBucket")
    banded.groupBy("band", "bv").agg(collect_list(col("rec")).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(col("ds"), explode(col("ds")).as("a"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).cast("long").as("hamming"),
        (col("a.pdigest") === col("b.pdigest")).as("byte_equal"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("d1", "d2")
  }

  /** The signature unit of the PERSISTED perceptual-fingerprint index
    * (EXT-6ap — the media-ingest twin of [[Dedup.bandSignatures]]'s
    * unit): per payload its 60-bit dHash + byte digest, stamped with
    * the banding geometry the probe's exactness radius depends on (the
    * winnowSignatures parameter-bundling contract — an index probed
    * under different banding silently changes which Hamming radius is
    * EXACT, so the probe validates the stamp instead). Expects
    * `(doc_id, payload, media_type)` rows — one row-local mapPartitions
    * pass; 16 B of sketch + a digest per payload, payload bytes never
    * leave the partition.
    */
  def phashSignatures(media: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    phashes(media.select(col("doc_id"), col("payload"), col("media_type"))
        .as[MediaRecord]).toDF()
      .withColumn("n_bands", lit(5))
      .withColumn("band_bits", lit(12))
  }

  /** The read schema of [[phashSignatures]] rows. */
  private[graft] val PhashSignatures =
    "doc_id BIGINT, phash BIGINT, pdigest STRING, n_bands INT, band_bits INT"

  /** EXT-6ap's probe: perceptual near-dup MATCHES of an arriving media
    * batch against a persisted fingerprint index ([[phashSignatures]]
    * rows — static or the live generation of
    * `StreamOps.maintainPhashIndex`). Arrivals are fingerprinted
    * row-locally ([[phashes]] — payloads never join or shuffle), bands
    * derive from the 60-bit hash on BOTH sides (re-banding a hash is a
    * shift+mask, so the index stores fingerprints once, not 5 band
    * rows), candidates come only from band-bucket equi-joins, and each
    * surviving pair carries the exact Hamming distance and the
    * byte-equal flag — x185's contract served at ingest time.
    *
    * Replay-IMMUNE, not merely tolerant: the at-least-once maintainer
    * can only append byte-identical fingerprint rows (the re-encode is
    * deterministic), and the output `distinct` collapses both replay
    * duplicates and multi-band collisions — the winnowCandidates
    * discipline. A mis-stamped index REFUSES.
    */
  def phashCandidates(arrivals: DataFrame, index: DataFrame,
      maxHamming: Int = 4): DataFrame = {
    import arrivals.sparkSession.implicits._
    require(maxHamming >= 0 && maxHamming <= 4,
      s"banding (5 bands × 12 bits) is exact only to hamming <= 4 (got $maxHamming)")
    val stamps = index.select(col("n_bands"), col("band_bits"))
      .distinct().as[(Int, Int)].collect()
    require(stamps.length == 1 && stamps.head == ((5, 12)),
      s"index fingerprinted under banding ${stamps.mkString(",")} — " +
        "this probe is exact only for (5 bands, 12 bits); rebuild or reprobe to match")
    def bands(rel: DataFrame, hashCol: String): DataFrame = rel
      .select(col("*"), posexplode(array((0 until 5).map(b =>
        shiftright(col(hashCol), b * 12).bitwiseAND(lit(4095L))): _*))
        .as(Seq("band", "bv")))
    val aFp = bands(
      phashes(arrivals.select(col("doc_id"), col("payload"), col("media_type"))
          .as[MediaRecord]).toDF()
        .select(col("doc_id"), col("phash").as("aph"), col("pdigest").as("adg")),
      "aph")
    val iFp = bands(
      index.select(col("doc_id").as("match_id"), col("phash").as("iph"),
        col("pdigest").as("idg")),
      "iph")
    aFp.join(iFp, Seq("band", "bv"))
      .filter(col("doc_id") =!= col("match_id"))
      .select(col("doc_id"), col("match_id"),
        bit_count(col("aph").bitwiseXOR(col("iph"))).cast("long").as("hamming"),
        (col("adg") === col("idg")).as("byte_equal"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("doc_id", "match_id")
  }

  /** The media table plus deterministic RE-ENCODED variants — the
    * x34/x37 harness-binding pattern (the corpus has byte-identical
    * dups but no perceptual-only ones, which would leave x185's
    * headline class vacuous): every `doc_id % 7 == 0` payload gains a
    * copy at `doc_id + 1000000` with its leading 8 characters reversed
    * — a length-preserving LOCAL perturbation standing in for a
    * re-encode artifact. Byte digests differ (x151 misses the pair);
    * the dHash grid samples are mostly untouched, so the pair lands
    * within the banding radius for typical document lengths.
    */
  def mediaWithReencodedVariants(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val variants = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .selectExpr("doc_id + 1000000 AS doc_id",
        "concat(reverse(substring(text, 1, 8)), substring(text, 9)) AS text")
    docs.unionByName(variants)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
        lit("text/plain").as("media_type"))
      .as[MediaRecord]
  }

  /** EXT-M5 (`x151_media_dedup`) — media payload DEDUP census by type:
    * per MIME type the exact file/byte economics of content-hash dedup
    * — files, distinct payloads, duplicate files, total bytes,
    * reclaimable bytes, and the duplicated-byte fraction. The x1/x147
    * question asked of BINARY payloads, where it matters most: media
    * dominates storage byte-for-byte, a re-hosted image is
    * bit-identical far more often than re-hosted text (no boilerplate
    * injection), and per-TYPE economics decide which store pays for
    * content addressing first.
    *
    * Scale: the sha256 runs in [[extractFeatures]]'s mapPartitions
    * batch loop where the bytes live (no payload ever shuffles); the
    * census is a digest-keyed partial agg (x1's shape) collapsing to
    * |types| rows. Exact BIGINTs, one guarded division.
    */
  def mediaDedupCensus(spark: SparkSession, dir: String): DataFrame = {
    val media = asTypedMedia(spark, dir)
    val types = media.toDF().select(col("doc_id"), col("media_type"))
    extractFeatures(media).toDF()
      .join(types, "doc_id") // narrow doc_id join: payloads never reshuffle
      .groupBy("media_type", "sha256")
      .agg(count(lit(1)).as("c"), min("byte_len").as("len"))
      .groupBy("media_type")
      .agg(
        sum("c").as("n_files"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") - 1L).as("n_dup_files"),
        sum(col("c") * col("len")).as("bytes_total"),
        sum((col("c") - 1L) * col("len")).as("bytes_dup"))
      .withColumn("dup_frac4",
        when(col("bytes_total") === 0L, lit(null).cast("double"))
          .otherwise(round(col("bytes_dup").cast("double") / col("bytes_total"), 4)))
      .orderBy("media_type")
  }
}
