package graft.validate

import graft.TestSpark
import graft.audio.{AudioCodec, WavCodec}
import graft.io.ClipsGenerator
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

/** The memoized SNR UDF must return exactly the doubles of the
  * per-row synthesize → WAV → parse path it replaced, and the memo must
  * key on every synthesis input and respect its sample budget. */
class ReferenceMemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def synth(key: (Double, Int, Int)): Array[Short] =
    WavCodec.synthSineSamples(key._1, key._2, key._3)

  /** The pre-memo UDF body, verbatim. */
  private def unmemoizedSnr(clipId: String, bytes: Array[Byte],
      codec: String, maxSynthMs: Int): Double =
    try {
      val i = clipId.stripPrefix("clip-").toLong
      val (_, decoded) = AudioCodec.decode(bytes, codec)
      val (_, ref) =
        WavCodec.decodePcm16(ClipsGenerator.referenceBytes(i, maxSynthMs))
      WavCodec.snrDb(ref, decoded)
    } catch { case _: Exception => Double.NegativeInfinity }

  for (ms <- Seq(25, 50)) {
    test(s"snrUdf returns the unmemoized doubles bit-for-bit (cap $ms ms)") {
      val n = 5100L // all 880 keys, all five codecs, plants at 11/13/17 and 5011/5013/5017
      val generated = ClipsGenerator.clips(spark, n, numPartitions = 4,
        withErrors = true, maxSynthMs = ms).toDF()
        .select("clip_id", "bytes", "codec")
      val extra = Seq[(String, Array[Byte], String)](
        ("clip-not-a-number", ClipsGenerator.payloadBytes(0, ms),
          ClipsGenerator.codec(0)),
        (ClipsGenerator.clipId(1), null, ClipsGenerator.codec(1)))
        .toDF("clip_id", "bytes", "codec")
      val rows = generated.unionByName(extra)
        .withColumn("snr_db", AudioInvariantCheck.snrUdf(ms)(
          col("clip_id"), col("bytes"), col("codec")))
        .as[(String, Array[Byte], String, Double)].collect()

      assert(rows.length === n + 2)
      assert(rows.map(_._3).toSet === ClipsGenerator.Codecs.toSet)
      assert(rows.map(_._1).filter(_.startsWith("clip-0"))
        .map(id => ClipsGenerator.referenceKey(id.stripPrefix("clip-").toLong, ms))
        .toSet.size === 880)
      // the duplicate-id plant at 5011 reuses 5010's id
      assert(rows.count(_._1 == ClipsGenerator.clipId(5010)) === 2)
      assert(rows.filter(r => r._1 == "clip-not-a-number" || r._2 == null)
        .map(_._4).toSeq === Seq(Double.NegativeInfinity, Double.NegativeInfinity))
      // the planted corrupt rows really do fail, so the comparison covers
      // the −∞ / collapsed branch as well as the clean one
      assert(rows.count(_._4 < 8.0) >= 2)
      for ((id, bytes, codec, got) <- rows) {
        val want = unmemoizedSnr(id, bytes, codec, ms)
        assert(java.lang.Double.doubleToRawLongBits(got) ===
          java.lang.Double.doubleToRawLongBits(want), s"$id [$codec]: $got vs $want")
      }
    }
  }

  test("keys differing only in sr, only in ms or only in freq get their own arrays") {
    val memo = new AudioInvariantCheck.ReferenceMemo
    val base = (440.0, 50, 16000)
    val variants = Seq(base, (440.0, 50, 8000), (440.0, 25, 16000),
      (441.0, 50, 16000))
    val first = variants.map(memo.samples)
    for ((k, got) <- variants.zip(first))
      assert(got.sameElements(synth(k)), s"$k")
    // every key cached under its own entry: a repeat lookup is the same array
    for ((k, got) <- variants.zip(first)) assert(memo.samples(k) eq got, s"$k")
    assert(memo.cachedSamples === first.map(_.length).sum)
  }

  test("past the sample budget: correct references, cache never exceeds the budget") {
    val memo = new AudioInvariantCheck.ReferenceMemo
    val budget = AudioInvariantCheck.ReferenceMemo.BudgetSamples
    val keys = (0 until 60).map(k => (220.0 + k, 1000, 48000)) // 48000 samples each
    assert(keys.size * 48000L > budget)
    val got = keys.map { k =>
      val s = memo.samples(k)
      assert(memo.cachedSamples <= budget)
      s
    }
    for ((k, s) <- keys.zip(got)) assert(s.sameElements(synth(k)), s"$k")
    val fit = budget / 48000
    assert(memo.cachedSamples === fit * 48000)
    // cached keys are hits; keys past the budget are re-synthesized, still exact
    for ((k, s) <- keys.zip(got).take(fit)) assert(memo.samples(k) eq s)
    for ((k, s) <- keys.zip(got).drop(fit)) {
      val again = memo.samples(k)
      assert(!(again eq s) && again.sameElements(s))
    }
    assert(memo.cachedSamples === fit * 48000)
  }

  test("a deserialized memo (one per task) starts empty") {
    val memo = new AudioInvariantCheck.ReferenceMemo
    memo.samples((440.0, 50, 16000))
    assert(memo.cachedSamples === 800)
    val out = new ByteArrayOutputStream
    new ObjectOutputStream(out).writeObject(memo)
    val copy = new ObjectInputStream(new ByteArrayInputStream(out.toByteArray))
      .readObject().asInstanceOf[AudioInvariantCheck.ReferenceMemo]
    assert(copy.cachedSamples === 0)
    assert(copy.samples((440.0, 50, 16000)).sameElements(synth((440.0, 50, 16000))))
    assert(copy.cachedSamples === 800)
  }
}
