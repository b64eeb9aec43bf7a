package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong}

import org.apache.spark.TaskContext

import graft.streaming.OffsetCommittingSender

/** The in-memory sink behind the replicate workload. Executors share the
  * driver JVM in local mode, so every [[LedgerSender]] writes into these
  * arrays, indexed by the row's offset (the first 8 key bytes):
  * delivery count, the row digest (see [[Digest]]) and, for the tail
  * phase, the send time.
  */
object Ledger {
  @volatile var counts = new AtomicIntegerArray(0)
  @volatile var digests = new Array[Long](0)
  @volatile var sentNs = new Array[Long](0)
  @volatile var rec: Record = null
  val rows = new AtomicLong()
  val bytes = new AtomicLong()
  val busyNs = new AtomicLong()
  /** (batchId, partition) pairs whose "transaction" committed. */
  val committed = ConcurrentHashMap.newKeySet[(Long, Int)]()

  def reset(offsets: Int, record: Record): Unit = {
    counts = new AtomicIntegerArray(offsets)
    digests = new Array[Long](offsets)
    sentNs = new Array[Long](offsets)
    rec = record
    rows.set(0); bytes.set(0); busyNs.set(0)
    committed.clear()
  }
}

/** FNV-1a over 8-byte little-endian words of every delivered field; the
  * same function as `fixtures.envelope_digest`.
  */
object Digest {
  private val Basis = 0xCBF29CE484222325L
  private val Prime = 0x100000001B3L

  private def mix(h: Long, w: Long): Long = (h ^ w) * Prime

  /** Little-endian 8-byte words, the last one zero-padded. */
  private def words(h0: Long, b: Array[Byte]): Long = {
    val buf = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    var h = h0
    var i = 0
    while (i + 8 <= b.length) { h = mix(h, buf.getLong(i)); i += 8 }
    if (i < b.length) {
      var w = 0L
      var j = b.length - 1
      while (j >= i) { w = (w << 8) | (b(j) & 0xffL); j -= 1 }
      h = mix(h, w)
    }
    h
  }

  def row(partition: Int, tsMs: Long, key: Array[Byte], value: Array[Byte],
      headers: Seq[(String, Array[Byte])]): Long = {
    var h = mix(mix(mix(mix(Basis, partition.toLong), tsMs), key.length.toLong),
      value.length.toLong)
    h = mix(words(words(h, key), value), headers.size.toLong)
    headers.foreach { case (k, v) =>
      h = mix(words(h, k.getBytes("UTF-8").take(8)), v.length.toLong)
      h = words(h, v)
    }
    h
  }
}

/** Records every row it is sent; its "transactions" commit in memory, so
  * the exactly-once path runs its full progress protocol.
  */
final class LedgerSender extends OffsetCommittingSender {
  private var firstNs = 0L
  private var pending = 0L

  override def send(topic: String, partition: Option[Int], timestampMs: Long,
      key: Array[Byte], value: Array[Byte], headers: Seq[(String, Array[Byte])]): Unit = {
    val now = System.nanoTime()
    if (pending == 0) firstNs = now
    pending += 1
    val offset = ByteBuffer.wrap(key).getLong(0).toInt
    Ledger.counts.incrementAndGet(offset)
    Ledger.digests(offset) = Digest.row(partition.getOrElse(-1), timestampMs, key, value, headers)
    Ledger.sentNs(offset) = Clock.nowNs()
    Ledger.bytes.addAndGet(key.length + value.length)
  }

  override def flush(): Unit = if (pending > 0) {
    val end = System.nanoTime()
    Ledger.rows.addAndGet(pending)
    Ledger.busyNs.addAndGet(end - firstNs)
    val rec = Ledger.rec
    val ctx = TaskContext.get()
    if (rec != null && rec.traced && ctx != null) {
      // the task's span hangs under its Spark job, named through its stage
      val job = Option(Trace.stageJob.get(ctx.stageId())).getOrElse("")
      val endMs = Clock.nowMs()
      rec.span(s"task-${ctx.taskAttemptId()}", job, s"sink task p${ctx.partitionId()}",
        "graft.streaming.KafkaBatchWriter", endMs - (end - firstNs) / 1e6, endMs)
    }
    pending = 0
  }

  override def stageProgress(batchId: Long, partitionId: Int): Unit =
    Ledger.committed.add((batchId, partitionId))
  override def progressCommitted(batchId: Long, partitionId: Int): Boolean =
    Ledger.committed.contains((batchId, partitionId))
}
