package bench4

import graft.io.ClipsGenerator
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The clips input of the suite and resume workloads: the program's own
  * FIXTURES.md §1 generator (`ClipsGenerator.clip` + `injectErrors`) over
  * the id range `[offset, offset + n)`, written as a codec-partitioned
  * parquet table plus its referential catalog. */
object ClipsInput {
  /** Payload length cap, shared by the generator and the suite config. */
  val MaxSynthMs = 25
  /** The partition the resume workload edits after its manifest is written. */
  val EditedCodec = "pcm_alaw"
  /** Edited rows get an empty transcript (a `min_length` violation). */
  val EditEvery = 50

  /** Seed → id offset. A multiple of 10^7 keeps every residue the index
    * rules use (mod 1000, 5000, 40, 9800) fixed, so each seed sees the same
    * kinds and amounts of planted errors while the codec draw and the
    * sampled subset change with the ids. */
  def offset(seed: Long): Long = 10000000L * (1 + math.floorMod(seed, 90000L))

  /** The generator index `i` of a row, parsed back from `clip-%012d`. */
  def index: Column = substring(col("clip_id"), 6, 12).cast("long")

  /** The edit the resume workload finds since its manifest was written:
    * every [[EditEvery]]-th row of [[EditedCodec]] gets an empty transcript. */
  def edit(clips: DataFrame): DataFrame =
    clips.withColumn("transcript",
      when(col("codec") === EditedCodec && index % EditEvery === 0, lit(""))
        .otherwise(col("transcript")))

  def clips(spark: SparkSession, off: Long, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(off, off + n, 1, parts).as[Long].map { i =>
      ClipsGenerator.injectErrors(ClipsGenerator.clip(i, MaxSynthMs), i)
    }.toDF()
  }

  def catalog(spark: SparkSession, off: Long, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(off, off + n, 1, parts).as[Long]
      .filter(i => i % 1000 != 3)
      .map(i => (ClipsGenerator.clipId(i), ClipsGenerator.transcript(i)))
      .toDF("clip_id", "transcript")
  }

  /** Writes `clips/` and `catalog/` under `dir`; with `withEdit`, also
    * `clips_edit/`: the same table with [[EditedCodec]]'s partition
    * rewritten by [[edit]] and the other partitions' files copied unchanged. */
  def write(spark: SparkSession, dir: String, off: Long, n: Long,
      withEdit: Boolean): Unit = {
    val parts = spark.sparkContext.defaultParallelism
    clips(spark, off, n, parts).write.partitionBy("codec").parquet(s"$dir/clips")
    catalog(spark, off, n, parts).write.parquet(s"$dir/catalog")
    if (withEdit) {
      val src = new java.io.File(s"$dir/clips")
      val dst = new java.io.File(s"$dir/clips_edit")
      src.listFiles().filter(f => f.isDirectory && f.getName != s"codec=$EditedCodec")
        .foreach { d =>
          val out = new java.io.File(dst, d.getName)
          out.mkdirs()
          d.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
            java.nio.file.Files.copy(f.toPath, new java.io.File(out, f.getName).toPath)
          }
        }
      edit(spark.read.parquet(s"$dir/clips").where(col("codec") === EditedCodec))
        .drop("codec")
        .write.parquet(s"$dir/clips_edit/codec=$EditedCodec")
    }
  }
}

/** Expected suite results per codec partition, from the FIXTURES.md §1
  * index rules alone (the benchmark's own derivation, not the program's). */
final case class CodecTruth(total: Long, errors: Long, orphans: Long,
    sampled: Long, snrFailures: Long, transcriptFailures: Long,
    nullTranscripts: Long, badRates: Long, minDur: Int, maxDur: Int,
    editedErrors: Long)

final case class ClipsTruth(byCodec: Map[String, CodecTruth],
    duplicateKeys: Set[String]) {

  /** Every (column.constraint) counter the suite reports, with the count
    * the index rules predict for `codec`. */
  def violations(codec: String): Map[String, Long] = {
    val t = byCodec(codec)
    val zero = Seq("clip_id.not_null", "clip_id.pattern", "bytes.not_null",
      "sr_hz.not_null", "sr_hz.minimum", "dur_ms.not_null",
      "dur_ms.exclusive_minimum", "dur_ms.maximum", "codec.not_null",
      "codec.in_set", "transcript.min_length").map(_ -> 0L)
    (zero ++ Seq("sr_hz.maximum" -> t.badRates, "sr_hz.in_set" -> t.badRates,
      "transcript.not_null" -> t.nullTranscripts)).toMap
  }
}

object ClipsTruth {
  val Codecs: Seq[String] = Seq("pcm_s16le", "flac", "pcm_mulaw", "pcm_alaw", "adpcm_ima")

  /** splitmix64 finalizer: the FIXTURES.md §1 "hash(i)" behind the codec mix. */
  private def mix(i: Long): Long = {
    var z = i + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e9b5L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def codec(i: Long): Int = {
    val p = math.floorMod(mix(i), 100L)
    if (p < 65) 0 else if (p < 80) 1 else if (p < 90) 2 else if (p < 95) 3 else 4
  }

  private def id(i: Long): String = "clip-%012d".format(i)

  /** Spark's `xxhash64` of a string key (seed 42), as the sampler uses it. */
  private def xxhash(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  def derive(off: Long, n: Long, sampleEvery: Int): ClipsTruth = {
    val k = Codecs.size
    val total, errors, orphans, sampled, snr, tr, nulls, rates, edited =
      new Array[Long](k)
    val minDur = Array.fill(k)(Int.MaxValue)
    val maxDur = Array.fill(k)(Int.MinValue)
    val dups = Set.newBuilder[String]
    var i = off
    while (i < off + n) {
      val c = codec(i)
      val dup = i % 5000 == 11
      val nullT = i % 1000 == 7
      val badRate = i % 5000 == 13
      val orphan = i % 1000 == 3
      val dur = (200 + (i * 37) % 9800).toInt
      total(c) += 1
      if (nullT) nulls(c) += 1
      if (badRate) rates(c) += 1
      if (nullT || badRate) errors(c) += 1
      if (nullT || badRate || i % ClipsInput.EditEvery == 0) edited(c) += 1
      if (orphan) orphans(c) += 1
      if (dup) dups += id(i - 1)
      minDur(c) = math.min(minDur(c), dur)
      maxDur(c) = math.max(maxDur(c), dur)
      val key = if (dup) i - 1 else i
      if (sampleEvery <= 1 || math.floorMod(xxhash(id(key)), sampleEvery.toLong) == 0) {
        sampled(c) += 1
        // corrupt payloads fail everywhere; a duplicated id decodes a tone
        // 1 Hz off its claim, which fails every codec's floor but ADPCM's
        if (i % 5000 == 17 || (dup && c != 4)) snr(c) += 1
        if (nullT || orphan || dup || i % 5000 == 19) tr(c) += 1
      }
      i += 1
    }
    ClipsTruth(Codecs.indices.map { c =>
      Codecs(c) -> CodecTruth(total(c), errors(c), orphans(c), sampled(c),
        snr(c), tr(c), nulls(c), rates(c), minDur(c), maxDur(c), edited(c))
    }.toMap, dups.result())
  }
}
