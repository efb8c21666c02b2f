package graft.validate

import graft.audio.{AudioCodec, WavCodec}
import graft.io.ClipsGenerator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-row audio invariant (north rule: "a lightweight audio-decode
  * invariant check (decoded-PCM SNR≥30dB vs reference, transcript string
  * equality) validates a sampled subset per partition").
  *
  * Sampling is DETERMINISTIC — `xxhash64(clip_id) pmod sampleEvery == 0` —
  * so reruns and different cluster sizes check the identical subset, and the
  * filter runs BEFORE decode, so only ~1/sampleEvery of the binary payload
  * is ever decoded (the scan itself still reads `bytes`, but parquet page
  * skipping on the hash filter is not possible — at real scale this check
  * rides along the main validation scan rather than its own).
  *
  * Decode runs in a Scala UDF: it is the one non-codegen expression in the
  * engine, confined to the sampled subset by design (SURVEY.md §4.2).
  * The reference PCM is derived from the clip's own id (pure function of
  * the row index — ClipsGenerator), so no golden files ship to executors.
  * It depends only on the synthesis key `(freqHz, cappedMs, srHz)`, which
  * ids share heavily (880 distinct keys per cap in the generator), so each
  * task synthesizes a key once and reuses it from a bounded per-task memo
  * ([[ReferenceMemo]]) — no per-row sine synthesis, no WAV round-trip.
  */
object AudioInvariantCheck {

  val DefaultSnrThresholdDb = 30.0

  /** Per-codec SNR floors layered over the default (round-5 verdict #3):
    * a genuinely lossy codec has an intrinsic clean-signal SNR ceiling, so
    * one global floor either rejects clean rows or never fires — real
    * pipelines set the floor per codec. `adpcm_ima`'s 8 dB floor is
    * measured, not guessed (AdpcmBandSweep over the full generator
    * parameter space at the 25 ms cap): clean rows ≥ 12.65 dB, byte-zeroed
    * corrupt rows ≤ 2.49 dB — the floor sits ≥ 4.6 dB from both bands.
    * Deliberate trade at this floor: a payload whose tone is 1 Hz off the
    * id's claim (the duplicate-id injection) measures 15.1-19.0 dB and
    * PASSES the SNR check for adpcm_ima — those rows are still flagged by
    * transcript equality and the uniqueness check, which is the right
    * division of labor (SNR guards decode fidelity, not identity). */
  val DefaultCodecThresholdsDb: Map[String, Double] = Map("adpcm_ima" -> 8.0)

  /** The floor as a column expression: per-codec override, else default. */
  def thresholdExpr(codec: org.apache.spark.sql.Column, defaultDb: Double,
      perCodec: Map[String, Double]): org.apache.spark.sql.Column =
    perCodec.toSeq.sortBy(_._1).foldLeft(lit(defaultDb)) {
      case (acc, (c, t)) => when(codec === c, lit(t)).otherwise(acc)
    }

  /** Per-task memo of reference PCM keyed on every synthesis input,
    * [[ClipsGenerator.referenceKey]] `(freqHz, cappedMs, srHz)` — never on
    * the row index, so a cap change or a rate change is always a new key.
    * The map is `@transient lazy` (the `BpeTokenizer.TokenMemo` pattern):
    * each deserialized task closure builds its own, so no locks. It holds
    * at most [[ReferenceMemo.BudgetSamples]] samples (4 MB); a key that
    * would overflow the budget is synthesized uncached.
    *
    * Returned arrays are SHARED across rows and must be treated as
    * read-only — `WavCodec.snrDb`, the one consumer, only reads them. */
  private[validate] final class ReferenceMemo extends Serializable {
    @transient private lazy val cache =
      new java.util.HashMap[(Double, Int, Int), Array[Short]](1 << 10)
    @transient private var cached = 0

    /** Samples currently held (never above the budget). */
    def cachedSamples: Int = cached

    def samples(key: (Double, Int, Int)): Array[Short] = {
      val hit = cache.get(key)
      if (hit != null) hit
      else {
        val (freq, ms, sr) = key
        val s = WavCodec.synthSineSamples(freq, ms, sr)
        if (s.length <= ReferenceMemo.BudgetSamples - cached) {
          cache.put(key, s)
          cached += s.length
        }
        s
      }
    }
  }

  private[validate] object ReferenceMemo {
    /** 2^21 s16 samples = 4 MB per task: the generator's 880 keys at the
      * 50 ms cap total ≈ 0.96 M samples, under half the budget. */
    val BudgetSamples: Int = 1 << 21
  }

  /** THE decode-and-measure UDF: decode the payload, look up the reference
    * PCM for the clip's own id in a per-task [[ReferenceMemo]], return the
    * SNR in dB (−∞ on any decode failure or malformed id). Single
    * definition shared by [[check]] and the fused [[ValidationSuite]] so
    * the standalone check the oracle validates can never diverge from the
    * suite's inlined copy. */
  def snrUdf(maxSynthMs: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val memo = new ReferenceMemo
    udf { (clipId: String, bytes: Array[Byte], codec: String) =>
      try {
        val i = clipId.stripPrefix("clip-").toLong
        val (_, decoded) = AudioCodec.decode(bytes, codec)
        WavCodec.snrDb(
          memo.samples(ClipsGenerator.referenceKey(i, maxSynthMs)), decoded)
      } catch { case _: Exception => Double.NegativeInfinity }
    }
  }

  /** (clip_id, codec, snr_db, snr_ok, transcript_ok) for the sampled subset.
    * `catalog` provides reference transcripts (joined broadcast/SMJ by
    * Catalyst+AQE based on size). */
  def check(clips: DataFrame, catalog: DataFrame, sampleEvery: Int = 100,
      snrThresholdDb: Double = DefaultSnrThresholdDb,
      maxSynthMs: Int = 50,
      codecThresholdsDb: Map[String, Double] = DefaultCodecThresholdsDb)
      : DataFrame = {
    val sampled =
      clips.where(SampleFilter.sampledOrAll(col("clip_id"), sampleEvery))
    val floor = thresholdExpr(col("codec"), snrThresholdDb, codecThresholdsDb)
    sampled
      .join(catalog.withColumnRenamed("transcript", "ref_transcript"),
        Seq("clip_id"), "left_outer")
      .withColumn("snr_db",
        snrUdf(maxSynthMs)(col("clip_id"), col("bytes"), col("codec")))
      .select(
        col("clip_id"), col("codec"),
        col("snr_db"),
        floor.as("snr_threshold_db"),
        (col("snr_db") >= floor).as("snr_ok"),
        (col("transcript") === col("ref_transcript")).as("transcript_ok"))
  }

  /** Per-codec pass/fail roll-up of the sampled invariant. */
  def summary(clips: DataFrame, catalog: DataFrame, sampleEvery: Int = 100,
      snrThresholdDb: Double = DefaultSnrThresholdDb,
      maxSynthMs: Int = 50,
      codecThresholdsDb: Map[String, Double] = DefaultCodecThresholdsDb)
      : DataFrame =
    check(clips, catalog, sampleEvery, snrThresholdDb, maxSynthMs,
      codecThresholdsDb)
      .groupBy(col("codec"))
      .agg(
        count(lit(1)).as("sampled_rows"),
        coalesce(sum(when(!col("snr_ok"), 1L).otherwise(0L)), lit(0L))
          .as("snr_failures"),
        coalesce(sum(when(!coalesce(col("transcript_ok"), lit(false)), 1L)
          .otherwise(0L)), lit(0L)).as("transcript_failures"),
        round(min(col("snr_db")), 3).as("min_snr_db"))
}
