package graft.operators

import org.apache.spark.sql.SparkSession

/** Session-lifetime memo for DRIVER-SIDE persisted-index sidecar reads
  * (coarse centroids, PQ codebooks/meta, sign meta, BM25 meta, cluster
  * meta — the r15 verdict's "fixed per-probe driver overhead": each
  * probe re-ran 2–4 tiny parquet jobs, most of x175's ~4 s toy-scale
  * floor over its in-memory twin and a per-microbatch tax in the
  * foreachBatch serving paths).
  *
  * Keyed by (logical key, FILESYSTEM SIGNATURE of the sidecar dirs):
  * the signature is the sorted (path, length, mtime) listing of every
  * file under the given directories — listed through the Hadoop FS API,
  * so any scheme the session can read works, and listing is a metadata
  * call (no Spark job, no file contents). An in-place rewrite (Spark
  * overwrite emits fresh part-file names), a crashed half-write, or any
  * other content change misses the cache, so the probe re-reads and
  * re-VALIDATES — the staleness-refusal laws (mis-stamped index
  * refused, rewritten index re-read) hold exactly as before, while
  * repeated probes of an unchanged index skip the driver-side parquet
  * jobs entirely. Refusals are never cached: a `require` throw inside
  * `load` leaves no entry, so a corrupt index refuses on EVERY probe.
  *
  * Memory: one small driver object per distinct index path — the
  * bounded-collect class the loaders already hold transiently
  * (nCentroids·dim floats, ksub·dim longs, 1-row stamps).
  */
private[graft] object IndexCache {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, AnyRef)]()

  /** The sidecar dirs' listing signature — sorted so iteration order
    * cannot flap the key; an absent dir signs as `absent` (the probe's
    * own read then fails with the engine's normal missing-path error).
    *
    * Contract (r16 advisory, kept explicit): the signature is
    * (path, length, mtime) metadata, NOT content. Spark-style overwrites
    * always emit fresh part-file names, so every rewrite the framework's
    * own writers perform is guaranteed to miss the cache; an EXTERNAL
    * writer that rewrites a sidecar file in place with the same name,
    * length, and mtime (coarse-mtime filesystems, crafted writes) is
    * outside the contract and would be served stale. A content checksum
    * is deliberately not folded in: `getFileChecksum` returns null on
    * local/many cloud filesystems, and reading bytes to hash them would
    * cost exactly the parquet job the memo exists to skip.
    */
  private[graft] def dirSignature(spark: SparkSession, dirs: Seq[String]): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    dirs.sorted.map { d =>
      val path = new org.apache.hadoop.fs.Path(d)
      val fs = path.getFileSystem(conf)
      if (!fs.exists(path)) s"$d=absent"
      else {
        val it = fs.listFiles(path, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val s = it.next()
          buf += s"${s.getPath}:${s.getLen}:${s.getModificationTime}"
        }
        buf.sorted.mkString(",")
      }
    }.mkString(";")
  }

  /** Return the cached value for `key` if the sidecar dirs are
    * byte-for-byte the ones it was loaded from; otherwise run `load`
    * (re-read + re-validate) and cache the result. `load` runs OUTSIDE
    * any map lock (the broadcastIfMeasuredUnder rule — a driver-side
    * Spark job must not run under a ConcurrentHashMap bin lock); a lost
    * race loads twice, which is harmless and idempotent.
    *
    * Install-time race guard (r16 advisory): the dirs are RE-LISTED
    * after `load`, and the entry is installed only when the listing is
    * unchanged — a rewrite racing the read would otherwise cache
    * whatever mix of old/new bytes the read happened to see UNDER THE
    * PRE-REWRITE SIGNATURE, so the next probe of the now-stable index
    * would serve that torn read instead of re-reading. Skipping the
    * install on mismatch keeps the racing call's own semantics
    * unchanged (its value was validated by `load`'s requires or it
    * threw) while guaranteeing the cache never outlives the listing it
    * was keyed by.
    */
  def cached[T <: AnyRef](
      spark: SparkSession, key: String, dirs: Seq[String])(load: => T): T = {
    val sig = dirSignature(spark, dirs)
    val hit = cache.get(key)
    if (hit != null && hit._1 == sig) hit._2.asInstanceOf[T]
    else {
      val v = load
      if (dirSignature(spark, dirs) == sig) cache.put(key, (sig, v))
      v
    }
  }
}
