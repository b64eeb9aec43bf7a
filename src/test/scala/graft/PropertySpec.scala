package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.config.ReplicatorConfig
import graft.functions.KafkaMurmur2
import graft.model.{KafkaMessage, MessageHeader}

/** Property-based invariants (SURVEY.md §5.4): byte-exact envelope
  * round-trip — the core correctness property of a replicator — plus
  * prefix-routing laws and partitioner bounds.
  */
class PropertySpec extends AnyFunSuite with SparkSuite {

  /** Run a ScalaCheck property under ScalaTest (no scalatestplus bridge
    * in the offline cache): thrown assertions count as failures.
    */
  private def check(p: Prop, n: Int = 30): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private val genBytes: Gen[Array[Byte]] =
    Gen.oneOf(
      Gen.const(null.asInstanceOf[Array[Byte]]),
      Gen.const(Array.empty[Byte]),
      Gen.nonEmptyListOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray))

  private val genHeader: Gen[MessageHeader] = for {
    k <- Gen.oneOf("h", "trace", "", "dup")
    v <- Gen.oneOf(Gen.const(Array.empty[Byte]),
      Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray))
  } yield MessageHeader(k, v)

  private val genMsg: Gen[KafkaMessage] = for {
    topic <- Gen.oneOf("t1", "app.events", "_internal")
    partition <- Gen.chooseNum(0, 31)
    offset <- Gen.chooseNum(0L, Long.MaxValue / 2)
    tsMs <- Gen.chooseNum(0L, 4102444800000L)
    key <- genBytes
    value <- genBytes
    headers <- Gen.listOfN(3, genHeader).map(_.toArray) // duplicate keys legal
  } yield KafkaMessage(topic, partition, offset, new java.sql.Timestamp(tsMs),
    key, value, headers)

  test("envelope round-trips byte-exactly through the identity pipeline") {
    import graft.streaming.{KafkaBatchWriter, RecordSenderFactory}
    // the sender sees no offset (the target assigns its own), so compare
    // the delivered envelopes as a multiset of canonical values
    def canon(topic: String, partition: Option[Int], tsMs: Long,
        key: Array[Byte], value: Array[Byte],
        headers: Seq[(String, Array[Byte])]) =
      (topic, partition, tsMs, Option(key).map(_.toSeq), Option(value).map(_.toSeq),
        headers.map { case (k, v) => (k, Option(v).map(_.toSeq)) }).toString
    check(Prop.forAll(Gen.listOfN(8, genMsg)) { msgs =>
      CollectingSender.clear()
      // the production sink body, one microbatch
      KafkaBatchWriter.write(RecordSenderFactory.uniform(() => new CollectingSender),
        preservePartitioning = true)(KafkaMessage.toDF(spark, msgs), 0L)
      val out = CollectingSender.snapshot()
        .map(s => canon(s.topic, s.partition, s.tsMs, s.key, s.value, s.headers)).sorted
      val exp = msgs.map(m => canon(m.topic, Some(m.partition), m.timestamp.getTime,
        m.key, m.value, m.headers.toSeq.map(h => (h.key, h.value)))).sorted
      assert(out == exp)
      true
    })
  }

  test("prefix routing: consumer.* and producer.* never cross (A5)") {
    val genProps = Gen.mapOf(Gen.zip(
      Gen.identifier.map(_.take(8)), Gen.identifier.map(_.take(8))))
    check(Prop.forAll(genProps, genProps) { (cProps, pProps) =>
      val args = Seq("--topics", "t",
        "--consumer.bootstrap.servers", "s:9092", "--consumer.group.id", "g",
        "--producer.bootstrap.servers", "d:9092") ++
        cProps.flatMap { case (k, v) => Seq(s"--consumer.x$k", v) } ++
        pProps.flatMap { case (k, v) => Seq(s"--producer.y$k", v) }
      val cfg = ReplicatorConfig.fromArgs(args).toOption.get
      cProps.foreach { case (k, v) => assert(cfg.consumerProps(s"x$k") == v) }
      pProps.foreach { case (k, v) => assert(cfg.producerProps(s"y$k") == v) }
      assert(cfg.consumerProps.keySet.intersect(cfg.producerProps.keySet)
        .forall(k => Set("bootstrap.servers").contains(k) || cProps.contains(k.drop(1)) == pProps.contains(k.drop(1))))
      // nothing routed to producer starts with a consumer-only marker
      assert(!cfg.producerProps.contains("group.id"))
      true
    })
  }

  test("quote substitution applies to every arg (A1)") {
    check(Prop.forAll(Gen.listOf(Gen.oneOf("plain", "<<quoted>>", "a<<b>>c"))) { raw =>
      val out = ReplicatorConfig.preprocessArgs(raw)
      out.foreach { s => assert(!s.contains("<<") && !s.contains(">>")) }
      assert(out.map(_.count(_ == '"')) == raw.map(s => s.sliding(2).count(w => w == "<<" || w == ">>")))
      true
    })
  }

  test("kafka partitioner: in range and deterministic for any key bytes") {
    check(Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
      Gen.chooseNum(1, 64)) { (key, n) =>
      val p = KafkaMurmur2.partitionFor(key, n)
      assert(p >= 0 && p < n)
      assert(p == KafkaMurmur2.partitionFor(key, n))
      true
    })
  }

  test("TopKExpression: any 2-way partition split merges to the sorted-take-k reference") {
    // narrow value ranges FORCE sim ties (exercising the cid tie-break)
    // and repeated (sim, cid) pairs (duplicates are kept, not deduped)
    val genEntry = for {
      sim <- Gen.chooseNum(-30, 30).map(_ / 10.0)
      cid <- Gen.chooseNum(0L, 20L)
    } yield (sim, cid)
    val gen = for {
      k <- Gen.chooseNum(1, 6)
      n <- Gen.chooseNum(0, 60)
      entries <- Gen.listOfN(n, genEntry)
      cut <- Gen.chooseNum(0, n)
    } yield (k, entries, cut)
    check(Prop.forAll(gen) { case (k, entries, cut) =>
      val agg = new TopKKernel(k)
      val (l, r) = entries.splitAt(cut)
      val merged = agg.entries(agg.merge(agg.fold(l), agg.fold(r)))
      val direct = agg.entries(agg.fold(entries))
      // the law every query relies on: partial-agg over ANY partition
      // split == the row_number-window (sort + take k) spelling
      val ref = entries.sortBy { case (sim, cid) => (-sim, cid) }.take(k)
      assert(merged == ref, s"merged=$merged ref=$ref")
      assert(direct == ref, s"direct=$direct ref=$ref")
      true
    }, n = 200)
  }


  test("int8 lattice: the driver spelling equals int8Quantize on floats and doubles, ties and negatives included") {
    import spark.implicits._
    import graft.operators.Similarity.{int8Lattice, int8Quantize}
    // ties: v·127 + 0.5 lands on (or next to) an integer at v = (2n+1)/254,
    // and the raw ±x.5 values; the rest spans the embedding range and past it
    val genV: Gen[Double] = Gen.oneOf(
      Gen.chooseNum(-127, 126).map(n => (2 * n + 1) / 254.0),
      Gen.chooseNum(-4, 3).map(_ + 0.5),
      Gen.chooseNum(-1.0, 1.0),
      Gen.chooseNum(-300.0, 300.0))
    check(Prop.forAll(Gen.listOfN(24, genV)) { vs =>
      val floats = vs.map(_.toFloat)
      val row = Seq((vs, floats)).toDF("d", "f")
        .select(int8Quantize(org.apache.spark.sql.functions.col("d")),
          int8Quantize(org.apache.spark.sql.functions.col("f")))
        .as[(Seq[Long], Seq[Long])].head()
      assert(row._1 == vs.map(int8Lattice), s"doubles $vs")
      assert(row._2 == floats.map(f => int8Lattice(f.toDouble)), s"floats $floats")
      true
    }, n = 50)
  }

  test("winnowing laws: planted-copy guarantee, subset of gram hashes, density bound") {
    val genTok = Gen.chooseNum(0, 25).map(i => s"t$i")
    val gen = for {
      k <- Gen.chooseNum(1, 5)
      w <- Gen.chooseNum(1, 5)
      a <- Gen.listOfN(30, genTok) // host docs
      b <- Gen.listOfN(30, genTok)
      span <- Gen.listOfN(k + w - 1, Gen.chooseNum(0, 25).map(i => s"s$i")) // the copy, distinct alphabet
      pa <- Gen.chooseNum(0, 30)
      pb <- Gen.chooseNum(0, 30)
    } yield (k, w, a.patch(pa, span, 0), b.patch(pb, span, 0), span)
    check(Prop.forAll(gen) { case (k, w, docA, docB, span) =>
      val fa = RefWinnow.fingerprints(docA, k, w)
      val fb = RefWinnow.fingerprints(docB, k, w)
      // the winnowing theorem: a copied span of >= k+w-1 tokens always
      // shares at least one selected fingerprint between the copies
      assert((fa & fb).nonEmpty, s"no shared fingerprint for planted span $span (k=$k w=$w)")
      // selection is a SAMPLE: subset of the doc's gram hashes, at most
      // one selection per full window
      Seq(docA -> fa, docB -> fb).foreach { case (doc, f) =>
        val grams = doc.sliding(k).map(RefWinnow.gramHash).toVector
        assert(f.subsetOf(grams.toSet))
        assert(f.size <= math.max(0, grams.length - w + 1))
      }
      true
    }, n = 200)
  }
}

/** Drives the production top-k kernel ([[graft.functions.TopKExpression]])
  * the way a partial aggregate does: `update` per input row, and a
  * `serialize`/`deserialize` round-trip — the shuffle boundary — before
  * every merge.
  */
class TopKKernel(k: Int) {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.BoundReference
  import org.apache.spark.sql.types.{DoubleType, LongType}
  import graft.functions.{TopKBuf, TopKExpression}

  private val agg = TopKExpression(
    BoundReference(0, DoubleType, nullable = false),
    BoundReference(1, LongType, nullable = false), k)

  def fold(es: Seq[(Double, Long)]): TopKBuf =
    es.foldLeft(agg.createAggregationBuffer()) { case (b, (sim, cid)) =>
      agg.update(b, InternalRow(sim, cid))
    }

  def merge(b1: TopKBuf, b2: TopKBuf): TopKBuf =
    agg.merge(agg.deserialize(agg.serialize(b1)), agg.deserialize(agg.serialize(b2)))

  def entries(b: TopKBuf): Seq[(Double, Long)] =
    (0 until b.n).map(i => (b.sims(i), b.cids(i)))
}
