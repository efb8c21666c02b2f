package graft.io

import graft.audio.{AdpcmCodec, FlacCodec, G711Codec, WavCodec}
import graft.spec._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types._

/** One row of the north-rule input table (`BASELINE.json` input_hint):
  * `(clip_id:string, bytes:binary, sr_hz:int32, dur_ms:int32, codec:string,
  * transcript:string)`. */
final case class Clip(
    clip_id: String,
    bytes: Array[Byte],
    sr_hz: Int,
    dur_ms: Int,
    codec: String,
    transcript: String,
)

/** Deterministic synthetic clips table per FIXTURES.md §1 — a pure function
  * of the row index (seed-42 word list), so any executor can re-derive the
  * reference signal for the decode invariant and runs are reproducible
  * across parallelism levels (the N-vs-4N scaling evidence requires
  * identical input).
  *
  * Generation is `spark.range(n).mapPartitions` — embarrassingly parallel,
  * no shuffle, no driver materialization; at 10^12 rows this is exactly how
  * a synthetic load generator would run on a cluster.
  */
object ClipsGenerator {

  /** All five labels carry REAL payloads in their declared format:
    * WAV/PCM, from-scratch FLAC (lossless), the two genuinely LOSSY G.711
    * companding codecs (≈34-39 dB clean SNR), and — since v6 — IMA ADPCM
    * ([[graft.audio.AdpcmCodec]], clean SNR 12.7-50 dB over this
    * generator's (freq, sr) space). ADPCM sits BELOW the 30 dB global
    * invariant by nature, which is exactly why the invariant carries
    * per-codec floors ([[graft.validate.AudioInvariantCheck
    * .DefaultCodecThresholdsDb]]: adpcm_ima → 8 dB): real pipelines set
    * the floor per codec, and the bands are measured, not assumed —
    * AdpcmBandSweep: clean ≥ 12.65 dB, duplicate-id rows 15.1-19.0 dB
    * (pass by design; caught by transcript equality + uniqueness instead),
    * byte-zeroed corrupt rows ≤ 2.5 dB. */
  val Codecs: Array[String] =
    Array("pcm_s16le", "flac", "pcm_mulaw", "pcm_alaw", "adpcm_ima")
  val SampleRates: Array[Int] = Array(8000, 22050, 44100, 48000)

  /** Seeded word list (seed=42 convention, TESTDATA.md). */
  val Words: Array[String] = Array(
    "the", "audio", "clip", "speech", "noise", "signal", "sample", "frame",
    "voice", "sound", "token", "word", "quiet", "loud", "clear", "model",
    "data", "test", "batch", "wave", "tone", "pitch", "echo", "mono")

  /** 64-bit mix (splitmix64 finalizer) — deterministic pseudo-hash of i. */
  def mix(i: Long): Long = {
    var z = i + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e9b5L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def clipId(i: Long): String = f"clip-$i%012d"

  /** 60% mass on 16000 Hz (the hot key for salting exercises), rest spread. */
  def srHz(i: Long): Int =
    if (i % 10 < 6) 16000 else SampleRates(((i / 10) % 4).toInt)

  def durMs(i: Long): Int = (200 + (i * 37) % 9800).toInt

  /** Codec skewed 65/15/10/5/5 — the hot-partition axis. */
  def codec(i: Long): String = {
    val p = math.floorMod(mix(i), 100L)
    if (p < 65) Codecs(0) else if (p < 80) Codecs(1)
    else if (p < 90) Codecs(2) else if (p < 95) Codecs(3) else Codecs(4)
  }

  def transcript(i: Long): String = {
    val len = (1 + i % 12).toInt
    val sb = new StringBuilder
    var k = 0
    while (k < len) {
      if (k > 0) sb.append(' ')
      sb.append(Words(math.floorMod(mix(i * 31 + k), Words.length.toLong).toInt))
      k += 1
    }
    sb.toString
  }

  def freqHz(i: Long): Double = 220.0 + (i % 880)

  /** Every input of clip i's reference synthesis: `(freqHz, cappedMs,
    * srHz)`. `maxSynthMs` caps the synthesized signal length so bulk
    * generation stays ~O(KB)/row (the dur_ms COLUMN keeps its nominal
    * value; payload and reference use the same cap, so the invariant is
    * exact). Two ids with equal keys have identical references — the
    * decode invariant memoizes on this key. */
  def referenceKey(i: Long, maxSynthMs: Int): (Double, Int, Int) =
    (freqHz(i), math.min(durMs(i), maxSynthMs), srHz(i))

  /** Reference PCM for clip i — what the decode invariant compares against,
    * and the signal every payload encodes. */
  def referenceSamples(i: Long, maxSynthMs: Int): Array[Short] = {
    val (freq, ms, sr) = referenceKey(i, maxSynthMs)
    WavCodec.synthSineSamples(freq, ms, sr)
  }

  /** [[referenceSamples]] in the pcm_s16le (RIFF) container. */
  def referenceBytes(i: Long, maxSynthMs: Int): Array[Byte] =
    WavCodec.wrapPcm16(srHz(i), referenceSamples(i, maxSynthMs))

  /** Payload bytes for clip i, in the row's declared codec — every label
    * encodes for real: flac rows carry FLAC streams (from-scratch
    * [[FlacCodec]], lossless — exact signal at the SNR cap), pcm_mulaw /
    * pcm_alaw rows carry G.711-companded bytes ([[G711Codec]], lossy —
    * finite ≈34-39 dB SNR vs the same reference), pcm_s16le rows the WAV
    * container. */
  def payloadBytes(i: Long, maxSynthMs: Int): Array[Byte] = {
    val sr = srHz(i)
    val samples = referenceSamples(i, maxSynthMs)
    codec(i) match {
      case "flac" => FlacCodec.encode(sr, samples)
      case "pcm_mulaw" => G711Codec.encodeMuLaw(sr, samples)
      case "pcm_alaw" => G711Codec.encodeALaw(sr, samples)
      case "adpcm_ima" => AdpcmCodec.encode(sr, samples)
      case _ => WavCodec.wrapPcm16(sr, samples)
    }
  }

  /** Planted QUIET variant of clip i (q56 quality census): the same tone
    * shape at amplitude 0.02 (−37 dBFS RMS — under the −30 quiet line,
    * above the silence floor), PCM container. Pure function of i like
    * every other plant, so the oracle predicts the band by id arithmetic. */
  def quietBytes(i: Long, maxSynthMs: Int): Array[Byte] =
    WavCodec.synthSine(freqHz(i), math.min(durMs(i), maxSynthMs), srHz(i),
      amplitude = 0.02)

  /** Planted HARD-CLIPPED variant of clip i (q56): amplitude 1.5 sine
    * CLAMPED to the s16 rails (synthSineSamples would wrap on overflow —
    * real clipping saturates), ~53% of samples at the rail. */
  def clippedBytes(i: Long, maxSynthMs: Int): Array[Byte] = {
    val sr = srHz(i)
    val ms = math.min(durMs(i), maxSynthMs)
    val n = math.max(0, (sr.toLong * ms / 1000).toInt)
    val out = new Array[Short](n)
    val scale = 1.5 * Short.MaxValue
    var k = 0
    while (k < n) {
      val v = math.round(math.sin(2.0 * math.Pi * freqHz(i) * k / sr) * scale)
      out(k) = math.max(Short.MinValue.toLong,
        math.min(Short.MaxValue.toLong, v)).toShort
      k += 1
    }
    WavCodec.wrapPcm16(sr, out)
  }

  /** Planted PADDED variant of clip i (q59 trim census): `leadMs` of
    * digital silence, the clean tone, `trailMs` of silence — the
    * un-endpointed recording a VAD-lite trim pass repairs. PCM container;
    * pad lengths are ≥ 2.5× the 5 ms trim threshold at every sample
    * rate. */
  def paddedBytes(i: Long, maxSynthMs: Int, leadMs: Int,
      trailMs: Int): Array[Byte] = {
    val sr = srHz(i)
    val body = WavCodec.synthSineSamples(
      freqHz(i), math.min(durMs(i), maxSynthMs), srHz(i))
    val lead = (sr.toLong * leadMs / 1000).toInt
    val trail = (sr.toLong * trailMs / 1000).toInt
    val out = new Array[Short](lead + body.length + trail)
    System.arraycopy(body, 0, out, lead, body.length)
    WavCodec.wrapPcm16(sr, out)
  }

  /** Planted HIGH-CREST impulse variant of clip i (q72 gain census): a
    * single ±24000 spike over a ±20 dither floor (above the silence line,
    * far below quiet-signal level) at a FIXED 16 kHz — 400 samples at the
    * 25 ms cap, so the crest factor peak/rms ≈ √400 = 20, double the
    * crest-10 would-clip boundary at the −20 dBFS target (crest margin is
    * √n-bounded for impulsive signals, which is why the rate is pinned to
    * the table's hot key rather than inheriting 8 kHz rows' √200 ≈ 14).
    * Gaining this clip to target drives the spike ~2× past the rail — the
    * shape a blind normalizer clips. PCM container; spike position and
    * dither signs are pure functions of i. */
  def impulseBytes(i: Long, maxSynthMs: Int): Array[Byte] = {
    val sr = 16000
    val ms = math.min(durMs(i), maxSynthMs)
    val n = math.max(1, (sr.toLong * ms / 1000).toInt)
    val out = new Array[Short](n)
    var k = 0
    while (k < n) {
      out(k) = (if (mix(i + k) % 2 == 0) 20 else -20).toShort
      k += 1
    }
    out((math.floorMod(mix(i), n.toLong)).toInt) =
      (if (mix(i) % 2 == 0) 24000 else -24000).toShort
    WavCodec.wrapPcm16(sr, out)
  }

  /** Planted ALL-SILENCE variant of clip i (q59): the same duration shape,
    * every sample zero — a dead channel. */
  def silentBytes(i: Long, maxSynthMs: Int): Array[Byte] = {
    val sr = srHz(i)
    val ms = math.min(durMs(i), maxSynthMs)
    WavCodec.wrapPcm16(sr, new Array[Short](math.max(0,
      (sr.toLong * ms / 1000).toInt)))
  }

  /** Build one clean clip. */
  def clip(i: Long, maxSynthMs: Int = 50): Clip =
    Clip(clipId(i), payloadBytes(i, maxSynthMs), srHz(i), durMs(i),
      codec(i), transcript(i))

  /** Error injection per FIXTURES.md §1: null transcript (i%1000==7),
    * duplicate clip_id (i%5000==11 reuses i-1's id), out-of-range
    * sr_hz=96000 (i%5000==13), plus corrupted audio bytes (i%5000==17,
    * truncated signal → SNR fail) and a transcript perturbation
    * (i%5000==19 → catalog mismatch). */
  def injectErrors(c: Clip, i: Long): Clip = {
    var out = c
    if (i % 1000 == 7) out = out.copy(transcript = null)
    if (i % 5000 == 11 && i > 0) out = out.copy(clip_id = clipId(i - 1))
    if (i % 5000 == 13) out = out.copy(sr_hz = 96000)
    if (i % 5000 == 17) out = out.copy(bytes = {
      val b = out.bytes.clone()
      // zero the back half of the payload past the header region: WAV rows
      // decode fine with a collapsed SNR; flac rows hit a frame CRC/sync
      // mismatch and fail decode (−inf SNR); G.711 rows decode the zeroed
      // bytes to near-full-scale garbage (µ-law 0x00 ↦ −32124) — either
      // way the invariant flags exactly these rows
      var k = 44 + (b.length - 44) / 2
      while (k < b.length) { b(k) = 0; k += 1 }
      b
    })
    if (i % 5000 == 19) out = out.copy(transcript = out.transcript + " corrupted")
    out
  }

  /** The distributed table. */
  def clips(spark: SparkSession, n: Long, numPartitions: Int = 32,
      withErrors: Boolean = false, maxSynthMs: Int = 50): Dataset[Clip] = {
    import spark.implicits._
    spark.range(0, n, 1, numPartitions).as[Long].map { i =>
      val c = clip(i, maxSynthMs)
      if (withErrors) injectErrors(c, i) else c
    }
  }

  /** Referential catalog `(clip_id, transcript)` from the same generator —
    * with a deterministic 0.1% subset DROPPED (i%1000==3) so the referential
    * check has true orphans to find. */
  def catalog(spark: SparkSession, n: Long, numPartitions: Int = 32): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, numPartitions).as[Long]
      .filter(i => i % 1000 != 3)
      .map(i => (clipId(i), transcript(i)))
      .toDF("clip_id", "transcript")
  }

  /** The declarative spec for the clips table — the full constraint suite of
    * FIXTURES.md §1 (north rule: nullability, range, regex, set membership;
    * uniqueness via `isUnique`; referential + drift + decode handled by the
    * dedicated checks). */
  val spec: TableSpec = TableSpec("clips", Seq(
    ColumnSpec("clip_id", StringType, isUnique = true,
      constraints = Seq(Pattern("^clip-[0-9]{12}$"))),
    ColumnSpec("bytes", BinaryType),
    ColumnSpec("sr_hz", IntegerType,
      constraints = Seq(Minimum(8000), Maximum(48000),
        InSet(Seq(8000, 16000, 22050, 44100, 48000)))),
    ColumnSpec("dur_ms", IntegerType,
      constraints = Seq(ExclusiveMinimum(0), Maximum(30000))),
    ColumnSpec("codec", StringType,
      constraints = Seq(InSet(Codecs.toSeq))),
    ColumnSpec("transcript", StringType,
      constraints = Seq(MinLength(1)))),
    keyCols = Seq("clip_id"), partitionCols = Seq("codec"))
}
