package bench4

import graft.checkpoint.ManifestCheckpoint
import graft.dedup.Dedup
import graft.io.ClipsGenerator
import graft.sketch.TDigest
import graft.validate.{UniquenessCheck, ValidationSuite}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Result of one timed iteration: wall and process-CPU seconds of the
  * library calls, and whether the outputs matched ground truth. */
final case class Outcome(wallS: Double, cpuS: Double, ok: Boolean)

object Timed {
  def apply[T](body: => T): (T, Double, Double) = {
    val c0 = Proc.cpuNs
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9, (Proc.cpuNs - c0) / 1e9)
  }

  def seconds(body: => Any): Double = apply(body)._2

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** One benchmark workload: its input, its setup, and the closed-loop
  * iteration that calls the library and checks the result. */
trait Workload {
  def name: String
  /** Input rows at the workload's stated size (the `rows_per_s` numerator). */
  def rows: Long
  /** Derives the expected results from the seed alone. */
  def deriveTruth(): Unit
  def generate(spark: SparkSession, dir: String): Unit
  /** Register the input and do the workload's own setup work. */
  def register(spark: SparkSession, dir: String, work: String): Unit
  def iterate(spark: SparkSession, t: Tracer): Outcome
  /** Per-layer timings of this workload's layers on its own input. */
  def layers(spark: SparkSession, work: String): Map[String, Double]
}

object Workloads {
  val Names: Seq[String] = Seq("suite-scan", "suite-decode", "curate-dedup", "resume-edit")

  def make(name: String, seed: Long): Workload = name match {
    case "suite-scan" => new SuiteWorkload(name, seed, 300000L, 100)
    case "suite-decode" => new SuiteWorkload(name, seed, 100000L, 1)
    case "curate-dedup" => new DedupWorkload(seed, 10000)
    case "resume-edit" => new ResumeWorkload(seed, 300000L)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }
}

/** `ValidationSuite.run` (collected) plus `UniquenessCheck.duplicateKeys`
  * over a codec-partitioned clips table and its catalog. */
final class SuiteWorkload(val name: String, seed: Long, val rows: Long,
    sampleEvery: Int) extends Workload {
  private val off = ClipsInput.offset(seed)
  lazy val truth: ClipsTruth = ClipsTruth.derive(off, rows, sampleEvery)
  private var clips: DataFrame = _
  private var catalog: DataFrame = _

  def deriveTruth(): Unit = truth

  def generate(spark: SparkSession, dir: String): Unit =
    ClipsInput.write(spark, dir, off, rows, withEdit = false)

  def register(spark: SparkSession, dir: String, work: String): Unit = {
    clips = spark.read.parquet(s"$dir/clips")
    catalog = spark.read.parquet(s"$dir/catalog")
  }

  /** The timed frames, in call order. */
  def suiteFrame: DataFrame = ValidationSuite.run(clips, catalog,
    ClipsGenerator.spec, ValidationSuite.Config(
      maxSynthMs = ClipsInput.MaxSynthMs, sampleEvery = sampleEvery))
  def duplicatesFrame: DataFrame = UniquenessCheck.duplicateKeys(clips, Seq("clip_id"))

  def iterate(spark: SparkSession, t: Tracer): Outcome = {
    val ((summary, dups), wall, cpu) = t.timed {
      (t.span("validate", "suite")(suiteFrame.collect()),
        t.span("validate", "uniqueness")(duplicatesFrame.collect()))
    }
    Outcome(wall, cpu, Checks.suite(summary, dups, truth))
  }

  def layers(spark: SparkSession, work: String): Map[String, Double] =
    ClipLayers.measure(spark, clips, catalog, sampleEvery, off, rows) ++
      ClipLayers.checkpoint(spark, clips, ClipsInput.edit(clips), work)
}

/** `Dedup.cascade`: exact (`exactKeep` anti-join), then MinHash near-dups
  * (`minhashNearDups`). */
final class DedupWorkload(seed: Long, n: Int) extends Workload {
  val name = "curate-dedup"
  def rows: Long = n
  lazy val corpus: Corpus = Corpus.draw(seed, n)
  private var docs: DataFrame = _

  def deriveTruth(): Unit = corpus
  /** Ids the MinHash stage removed in the latest iteration. */
  var lastNearRemoved: Set[Long] = Set.empty

  def generate(spark: SparkSession, dir: String): Unit = Corpus.write(spark, dir, corpus)

  def register(spark: SparkSession, dir: String, work: String): Unit =
    docs = Corpus.read(spark, dir)

  def stages(onNear: DataFrame => Unit): Seq[(String, DataFrame => DataFrame)] = Seq(
    "exact" -> (sv => sv.select("id")
      .join(Dedup.exactKeep(sv, "id", "text").select("id"), Seq("id"), "left_anti")),
    // the larger id of every verified pair goes: a family whose pairs are
    // all found keeps exactly its smallest id. The ids are materialized here
    // so the check can read them without re-running detection.
    "minhash" -> { sv =>
      val r = Dedup.minhashNearDups(sv, "id", "text").select(col("id_b").as("id"))
        .localCheckpoint()
      onNear(r)
      r
    })

  def iterate(spark: SparkSession, t: Tracer): Outcome = {
    var near: DataFrame = null
    val (report, wall, cpu) = t.timed {
      t.span("dedup", "cascade")(Dedup.cascade(docs, "id", stages(r => near = r)).collect())
    }
    lastNearRemoved = near.collect().map(_.getLong(0)).toSet
    Outcome(wall, cpu, Checks.dedup(report, lastNearRemoved, corpus))
  }

  def layers(spark: SparkSession, work: String): Map[String, Double] = {
    val io = Timed.seconds(Timed.noop(docs))
    DocLayers.measure(docs) ++ Map(
      "io.scan_s" -> io,
      "dedup.missed_dups" -> Checks.missedDups(lastNearRemoved, corpus).toDouble)
  }
}

/** `ManifestCheckpoint.runResumable` after one codec partition was edited
  * since the manifest was written, then a no-op re-run. */
final class ResumeWorkload(seed: Long, val rows: Long) extends Workload {
  val name = "resume-edit"
  private val off = ClipsInput.offset(seed)
  lazy val truth: ClipsTruth = ClipsTruth.derive(off, rows, 100)
  def deriveTruth(): Unit = truth
  private var base: DataFrame = _
  private var edited: DataFrame = _
  private var catalog: DataFrame = _
  private var manifest: String = _
  private var out: String = _
  private var baseline: Set[String] = Set.empty

  def generate(spark: SparkSession, dir: String): Unit =
    ClipsInput.write(spark, dir, off, rows, withEdit = true)

  private def files(d: String): Set[String] =
    Option(new java.io.File(d).list()).map(_.toSet).getOrElse(Set.empty)

  /** Registers the input and writes the manifest with a full run over the
    * unedited table; every iteration starts from the manifest this leaves. */
  def register(spark: SparkSession, dir: String, work: String): Unit = {
    base = spark.read.parquet(s"$dir/clips")
    edited = spark.read.parquet(s"$dir/clips_edit")
    catalog = spark.read.parquet(s"$dir/catalog")
    manifest = s"$work/ckpt/manifest"
    out = s"$work/ckpt/out"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$work/ckpt"))
    val all = ManifestCheckpoint.runResumable(spark, base, ClipsGenerator.spec, manifest, out)
    require(all.sorted == ClipsTruth.Codecs.sorted, s"full run processed $all")
    baseline = files(manifest)
  }

  def iterate(spark: SparkSession, t: Tracer): Outcome = {
    files(manifest).diff(baseline).foreach(f => new java.io.File(manifest, f).delete())
    val ((resumed, noop), wall, cpu) = t.timed {
      (t.span("checkpoint", "resume_one")(
        ManifestCheckpoint.runResumable(spark, edited, ClipsGenerator.spec, manifest, out)),
        t.span("checkpoint", "noop")(
          ManifestCheckpoint.runResumable(spark, edited, ClipsGenerator.spec, manifest, out)))
    }
    val entries = ManifestCheckpoint.latestEntries(spark.read.parquet(manifest)).collect()
    Outcome(wall, cpu, Checks.resume(resumed, noop, entries, truth))
  }

  def layers(spark: SparkSession, work: String): Map[String, Double] =
    ClipLayers.measure(spark, base, catalog, 100, off, rows) ++
      ClipLayers.checkpoint(spark, base, edited, work)
}

/** Ground-truth comparisons. Each returns false on any mismatch and prints
  * the first one to stderr. */
object Checks {
  private def fail(msg: String): Boolean = { System.err.println(s"[bench4] check failed: $msg"); false }

  private def eq(what: String, got: Any, want: Any): Boolean =
    got == want || fail(s"$what: got $got, want $want")

  def suite(summary: Array[Row], dups: Array[Row], truth: ClipsTruth): Boolean = {
    val byCodec = summary.map(r => r.getAs[String]("codec") -> r).toMap
    eq("codecs", byCodec.keySet, truth.byCodec.keySet) && truth.byCodec.forall {
      case (c, t) =>
        val r = byCodec(c)
        val digest = TDigest.fromBytes(r.getAs[Array[Byte]]("drift_digest"))
        val errRate = if (t.total == 0) 0.0 else t.errors.toDouble / t.total
        eq(s"$c total", r.getAs[Long]("total_rows"), t.total) &&
        eq(s"$c errors", r.getAs[Long]("error_rows"), t.errors) &&
        eq(s"$c valid", r.getAs[Long]("valid_rows"), t.total - t.errors) &&
        eq(s"$c orphans", r.getAs[Long]("orphan_rows"), t.orphans) &&
        eq(s"$c sampled", r.getAs[Long]("sampled_rows"), t.sampled) &&
        eq(s"$c snr failures", r.getAs[Long]("snr_failures"), t.snrFailures) &&
        eq(s"$c transcript failures", r.getAs[Long]("transcript_failures"),
          t.transcriptFailures) &&
        eq(s"$c violations", r.getAs[scala.collection.Map[String, Long]](
          "violations_by_constraint").toMap, truth.violations(c)) &&
        eq(s"$c error rate", r.getAs[Double]("error_rate"), errRate) &&
        eq(s"$c success rate", r.getAs[Double]("success_rate"), 1.0 - errRate) &&
        eq(s"$c passed", r.getAs[Boolean]("passed"),
          t.errors == 0 && t.orphans == 0 && t.snrFailures == 0 &&
            t.transcriptFailures == 0) &&
        eq(s"$c digest count", digest.count, t.total) &&
        eq(s"$c digest range", (digest.minValue, digest.maxValue),
          (t.minDur.toDouble, t.maxDur.toDouble))
    } && eq("duplicate keys",
      dups.map(r => r.getString(0) -> r.getLong(1)).toMap,
      truth.duplicateKeys.map(_ -> 2L).toMap)
  }

  def missedDups(nearRemoved: Set[Long], c: Corpus): Long =
    c.families.map(f => f.size - f.count(nearRemoved) - 1L).sum

  def dedup(report: Array[Row], nearRemoved: Set[Long], c: Corpus): Boolean = {
    val stages = report.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val members = c.families.flatten.toSet
    val n = c.docs.size.toLong
    eq("stages", stages.map(_._1), Seq("exact", "minhash")) &&
    eq("exact removals", stages.head._2, c.copies.toLong) &&
    eq("exact survivors", stages.head._3, n - c.copies) &&
    eq("near removals", stages(1)._2, nearRemoved.size.toLong) &&
    eq("near survivors", stages(1)._3, n - c.copies - nearRemoved.size) &&
    eq("removed outside families", nearRemoved.diff(members).size, 0) &&
    c.families.tail.forall(f => eq(s"keepers in family of ${f.size}",
      f.size - f.count(nearRemoved), 1))
  }

  def resume(resumed: Seq[String], noop: Seq[String], entries: Array[Row],
      truth: ClipsTruth): Boolean = {
    val e = entries.map(r => r.getAs[String]("partition_value") -> r).toMap
    val t = truth.byCodec(ClipsInput.EditedCodec)
    val r = e(ClipsInput.EditedCodec)
    eq("resumed", resumed, Seq(ClipsInput.EditedCodec)) &&
    eq("no-op", noop, Nil) &&
    eq("manifest partitions", e.keySet, truth.byCodec.keySet) &&
    eq("edited content rows", r.getAs[Long]("content_rows"), t.total) &&
    eq("edited total", r.getAs[Long]("total_rows"), t.total) &&
    eq("edited errors", r.getAs[Long]("error_rows"), t.editedErrors) &&
    eq("edited valid", r.getAs[Long]("valid_rows"), t.total - t.editedErrors) &&
    truth.byCodec.forall { case (c, ct) => c == ClipsInput.EditedCodec ||
      eq(s"$c errors", e(c).getAs[Long]("error_rows"), ct.errors) }
  }
}
