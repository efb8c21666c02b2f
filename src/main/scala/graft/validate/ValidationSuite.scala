package graft.validate

import graft.spec.TableSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The fused full-constraint-suite pass — the engine's 100 TB entry point.
  *
  * Running each check as its own action means scanning the table once PER
  * CHECK (6+ scans) and paying per-job scheduling latency 6+ times; at
  * 10^12 rows that is 6 × 100 TB of I/O. This operator computes, in ONE
  * scan + ONE narrow-key shuffle:
  *
  *   1. row-constraint summary (total/error/valid, per-constraint counters)
  *   2. referential integrity vs the catalog (orphan counts; the same join
  *      also yields the reference transcript for the invariant check)
  *   3. distribution-drift t-digests of a numeric column per partition
  *      (+ KS/PSI vs an optional reference digest)
  *   4. the sampled audio-decode invariant (SNR vs the id's reference PCM,
  *      memoized per task on its synthesis key; transcript equality)
  *
  * all grouped by the spec's partition columns. Uniqueness needs a shuffle
  * keyed by clip_id rather than by partition, so it stays a second,
  * keys-only job ([[UniquenessCheck]]); violation ROWS (not counts) are a
  * third, column-pruned pass only when materialized.
  *
  * Shuffle discipline: the wide `bytes` column is consumed by the sampled
  * decode UDF inside the scan projection and DROPPED before the join —
  * only ~100 B/row of scalars ever enter the exchange (SURVEY.md §7.4
  * risk 5). The catalog side is projected to (key, transcript). AQE picks
  * SMJ vs broadcast from runtime sizes.
  */
object ValidationSuite {

  final case class Config(
      driftCol: String = "dur_ms",
      sampleEvery: Int = 100,
      snrThresholdDb: Double = AudioInvariantCheck.DefaultSnrThresholdDb,
      /** Per-codec floor overrides (see AudioInvariantCheck
        * .DefaultCodecThresholdsDb — lossy codecs have intrinsic clean-SNR
        * ceilings, so the floor is a property of the codec). */
      codecSnrThresholdsDb: Map[String, Double] =
        AudioInvariantCheck.DefaultCodecThresholdsDb,
      maxSynthMs: Int = 50,
      referenceDigest: Option[Array[Byte]] = None,
      ksThreshold: Double = 0.1,
      psiThreshold: Double = 0.2,
      digestCompression: Double = 100.0,
      /** Set when the catalog may contain duplicate keys; the dedup
        * compiles to a SortAggregate (first() per key), which is wasted
        * work for the usual curated-unique catalog. */
      dedupCatalog: Boolean = false,
      /** Column bindings — the suite works on any spec'd table, these name
        * the audio payload, its codec tag, and the text column compared
        * against the catalog (which must carry the same text column name). */
      payloadCol: String = "bytes",
      codecCol: String = "codec",
      transcriptCol: String = "transcript",
  )

  /** Per-partition suite summary: one output row per partition-column
    * combination carrying every check's result. */
  def run(clips: DataFrame, catalog: DataFrame, spec: TableSpec,
      cfg: Config = Config()): DataFrame = {
    require(spec.keyCols.size == 1, "suite expects a single key column")
    val key = spec.keyCols.head
    val parts = spec.partitionCols

    // ---- scan projection: violation array + sampled decode, then DROP bytes
    val (annotated0, checks, missing) = RowValidator.annotate(clips, spec)
    val snr = AudioInvariantCheck.snrUdf(cfg.maxSynthMs) // shared definition
    val sampled = SampleFilter.sampledOrAll(col(key), cfg.sampleEvery)
    val narrowCols: Seq[Column] =
      (key +: parts).distinct.map(col) ++ Seq(
        col(RowValidator.ViolationsCol),
        DriftCheck.digestInput(col(cfg.driftCol)).as("_drift_val"),
        when(sampled, snr(col(key), col(cfg.payloadCol), col(cfg.codecCol)))
          .as("_snr_db"),
        AudioInvariantCheck.thresholdExpr(col(cfg.codecCol),
          cfg.snrThresholdDb, cfg.codecSnrThresholdsDb).as("_snr_floor"),
        col(cfg.transcriptCol).as("_transcript"))
    val narrow = annotated0.select(narrowCols: _*)

    // ---- referential join on projected key (also brings ref transcript)
    val cat0 = catalog.select(col(key), col(cfg.transcriptCol).as("_ref_transcript"))
    val cat = if (cfg.dedupCatalog) cat0.dropDuplicates(Seq(key)) else cat0
    val joined = narrow.join(cat, Seq(key), "left_outer")

    // ---- one aggregation: summary + per-check counters + digest + audio
    val nChecks = checks.size + missing.size
    val checkIds = checks.map(_.qualified) ++
      missing.map(m => s"$m.missing_required_column")
    val failed = filter(col(RowValidator.ViolationsCol), _.isNotNull)
    val digestAgg = DriftCheck.digestUdaf(cfg.digestCompression)
    val aggs: Seq[Column] = Seq(
      count(lit(1)).as("total_rows"),
      coalesce(sum(when(size(failed) > 0, 1L).otherwise(0L)), lit(0L))
        .as("error_rows"),
      coalesce(sum(when(col("_ref_transcript").isNull, 1L).otherwise(0L)), lit(0L))
        .as("orphan_rows"),
      digestAgg(col("_drift_val")).as("drift_digest"),
      coalesce(sum(when(col("_snr_db").isNotNull, 1L).otherwise(0L)), lit(0L))
        .as("sampled_rows"),
      coalesce(sum(when(col("_snr_db") < col("_snr_floor"), 1L).otherwise(0L)),
        lit(0L)).as("snr_failures"),
      coalesce(sum(when(col("_snr_db").isNotNull &&
        !(col("_transcript") <=> col("_ref_transcript")), 1L).otherwise(0L)),
        lit(0L)).as("transcript_failures")) ++
      (if (nChecks > 0) Seq(map_from_arrays(
        array(checkIds.map(lit): _*),
        array((0 until nChecks).map(i => coalesce(
          sum(when(col(RowValidator.ViolationsCol)(i).isNotNull, 1L)
            .otherwise(0L)), lit(0L))): _*)).as("violations_by_constraint"))
      else Nil)
    val grouped =
      if (parts.nonEmpty) joined.groupBy(parts.map(col): _*).agg(aggs.head, aggs.tail: _*)
      else joined.agg(aggs.head, aggs.tail: _*)

    // ---- per-group drift verdict vs the reference digest (shared UDF)
    val finish = cfg.referenceDigest match {
      case None => grouped
      case Some(refBytes) =>
        grouped.withColumn("_d",
          DriftCheck.evalUdf(refBytes, cfg.ksThreshold, cfg.psiThreshold)(
            col("drift_digest")))
          .withColumn("ks", col("_d._1"))
          .withColumn("psi", col("_d._2"))
          .withColumn("drifted", col("_d._3"))
          .drop("_d")
    }
    finish
      .withColumn("valid_rows", col("total_rows") - col("error_rows"))
      .withColumn("error_rate",
        when(col("total_rows") === 0, 0.0)
          .otherwise(col("error_rows").cast("double") / col("total_rows")))
      .withColumn("success_rate", lit(1.0) - col("error_rate"))
      .withColumn("passed",
        col("error_rows") === 0 && col("orphan_rows") === 0 &&
          col("snr_failures") === 0 && col("transcript_failures") === 0)
  }
}
