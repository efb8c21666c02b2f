package bench4

import graft.audio.{AudioCodec, WavCodec}
import graft.checkpoint.ManifestCheckpoint
import graft.dedup.Dedup
import graft.io.ClipsGenerator
import graft.sketch.TDigest
import graft.validate._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Timed calls into the public functions of the clip-side layers (`io`,
  * `validate`, `audio`, `sketch`, `checkpoint`). Every call collects a small
  * result or sends a wide one to a noop sink. */
object ClipLayers {
  private val spec = ClipsGenerator.spec

  def measure(spark: SparkSession, clips: DataFrame, catalog: DataFrame,
      sampleEvery: Int, off: Long, n: Long): Map[String, Double] = {
    val cfg = ValidationSuite.Config(maxSynthMs = ClipsInput.MaxSynthMs,
      sampleEvery = sampleEvery)
    Map(
      "io.scan_s" -> Timed.seconds { Timed.noop(clips); Timed.noop(catalog) },
      "validate.suite_s" -> Timed.seconds(
        ValidationSuite.run(clips, catalog, spec, cfg).collect()),
      "validate.row_constraints_s" -> Timed.seconds(
        RowValidator.validate(clips, spec).summary.collect()),
      "validate.referential_s" -> Timed.seconds(
        ReferentialCheck.summary(clips, catalog, "clip_id", Seq("codec")).collect()),
      "validate.uniqueness_s" -> Timed.seconds(
        UniquenessCheck.duplicateKeys(clips, Seq("clip_id")).collect()),
      "validate.drift_digest_s" -> Timed.seconds(
        DriftCheck.digestPerGroup(clips, "dur_ms", Seq("codec")).collect()),
      "validate.audio_invariant_s" -> Timed.seconds(
        AudioInvariantCheck.summary(clips, catalog, sampleEvery = 1,
          maxSynthMs = ClipsInput.MaxSynthMs).collect()),
    ) ++ AudioLayer.measure(clips) ++ SketchLayer.measure(off, n)
  }

  /** One manifest cycle in a fresh directory: full run over `base`, then
    * the pending diff, a one-partition resume and a no-op over `edited`. */
  def checkpoint(spark: SparkSession, base: DataFrame, edited: DataFrame,
      work: String): Map[String, Double] = {
    val root = new java.io.File(work, "layer-ckpt")
    org.apache.commons.io.FileUtils.deleteDirectory(root)
    val manifest = s"$root/manifest"
    val out = s"$root/out"
    def run(df: DataFrame) = ManifestCheckpoint.runResumable(spark, df, spec, manifest, out)
    Map(
      "checkpoint.fingerprint_s" -> Timed.seconds(
        ManifestCheckpoint.fingerprints(base, "codec").collect()),
      "checkpoint.full_s" -> Timed.seconds(run(base)),
      "checkpoint.pending_s" -> Timed.seconds(
        ManifestCheckpoint.pendingPartitions(spark, edited, "codec", manifest)),
      "checkpoint.resume_one_s" -> Timed.seconds(run(edited)),
      "checkpoint.noop_s" -> Timed.seconds(run(edited)))
  }
}

/** Codec, reference-synthesis and SNR costs on one driver thread over a
  * fixed sample of the workload's own payloads. */
object AudioLayer {
  val PerCodec = 200
  val Passes = 7

  private def medianUs(ops: Int)(body: => Unit): Double = {
    body // warm
    val us = (1 to Passes).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e3 / ops
    }.sorted
    us(us.size / 2)
  }

  def measure(clips: DataFrame): Map[String, Double] = {
    // planted duplicate-id and corrupt rows are left out of the sample
    val id = ClipsInput.index
    val clean = clips.where(!(id % 5000).isin(10, 11, 17))
    val samples = ClipsTruth.Codecs.map { c =>
      c -> clean.where(col("codec") === c).select(id.as("i"), col("bytes"))
        .limit(PerCodec).collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    }
    val decodeUs = samples.map { case (c, xs) =>
      s"audio.decode_us.$c" -> medianUs(xs.length)(xs.foreach(x => AudioCodec.decode(x._2, c)))
    }
    val all = samples.flatMap(_._2)
    val refs = all.map(x => WavCodec.decodePcm16(
      ClipsGenerator.referenceBytes(x._1, ClipsInput.MaxSynthMs))._2)
    val decoded = samples.flatMap { case (c, xs) => xs.map(x => AudioCodec.decode(x._2, c)._2) }
    decodeUs.toMap ++ Map(
      "audio.reference_synth_us" -> medianUs(all.length)(all.foreach(x =>
        WavCodec.decodePcm16(ClipsGenerator.referenceBytes(x._1, ClipsInput.MaxSynthMs)))),
      "audio.snr_us" -> medianUs(refs.length)(refs.indices.foreach(k =>
        WavCodec.snrDb(refs(k), decoded(k)))))
  }
}

/** t-digest add, merge and serialization costs over the workload's
  * `dur_ms` values (the suite's drift column). */
object SketchLayer {
  val Passes = 5

  def measure(off: Long, n: Long): Map[String, Double] = {
    val values = (off until off + math.min(n, 200000L))
      .map(i => (200 + (i * 37) % 9800).toDouble).toArray
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    def addAll(from: Int, until: Int): TDigest = {
      val d = TDigest(100.0); var k = from
      while (k < until) { d.add(values(k)); k += 1 }
      d
    }
    addAll(0, values.length)
    val addNs = median((1 to Passes).map { _ =>
      val t0 = System.nanoTime(); addAll(0, values.length)
      (System.nanoTime() - t0).toDouble / values.length
    })
    val parts = 32
    val step = values.length / parts
    val digests = (0 until parts).map(p => addAll(p * step, (p + 1) * step))
    val mergeUs = median((1 to Passes).map { _ =>
      val acc = TDigest(100.0)
      val t0 = System.nanoTime(); digests.foreach(acc.merge)
      (System.nanoTime() - t0) / 1e3 / parts
    })
    val serdeUs = median((1 to Passes).map { _ =>
      val t0 = System.nanoTime(); digests.foreach(d => TDigest.fromBytes(d.toBytes))
      (System.nanoTime() - t0) / 1e3 / parts
    })
    Map("sketch.tdigest_add_ns" -> addNs, "sketch.tdigest_merge_us" -> mergeUs,
      "sketch.tdigest_serde_us" -> serdeUs)
  }
}

/** Signature, exact, candidate and verified-pair stages of the dedup layer. */
object DocLayers {
  private def counted(df: DataFrame): (Double, Long) = {
    val obs = Observation()
    val s = Timed.seconds(Timed.noop(df.observe(obs, count(lit(1)).as("n"))))
    (s, obs.get("n").asInstanceOf[Long])
  }

  def measure(docs: DataFrame): Map[String, Double] = {
    val sig = Timed.seconds(Timed.noop(docs.select(col("id"),
      Dedup.minhashSignature(Dedup.shingleSet(col("text"), 3), 64).as("sig"))))
    val exact = Timed.seconds(Timed.noop(docs.select("id")
      .join(Dedup.exactKeep(docs, "id", "text").select("id"), Seq("id"), "left_anti")))
    val (candS, cand) = counted(Dedup.minhashCandidates(docs, "id", "text"))
    val (nearS, near) = counted(Dedup.minhashNearDups(docs, "id", "text"))
    Map("dedup.signature_s" -> sig, "dedup.exact_s" -> exact,
      "dedup.candidates_s" -> candS, "dedup.neardup_s" -> nearS,
      "dedup.candidate_pairs" -> cand.toDouble, "dedup.verified_pairs" -> near.toDouble,
      "dedup.verify_yield" -> (if (cand == 0) 0.0 else near.toDouble / cand))
  }
}
