package graft.queries

import graft.SparkEntry.{tbl, clipCount, clipsSql, catalogSql, clipOk}
import graft.io.{ClipsGenerator, OracleTables}
import graft.streaming.AvailableNow
import graft.validate._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming monitors (`graft.streaming`). Each one drains its stream
  * with Trigger.AvailableNow into local rows (`AvailableNow.drain`);
  * single-batch processing makes the stateful emissions deterministic,
  * equal to the batch SQL its oracle runs. */
object StreamingQueries {

  /** State partitions for the BOUNDED-group streaming monitors (windowed
    * aggregations over window × codec/band — tens of live groups at any
    * corpus size, because windows close under the watermark and the
    * category axes are fixed): sized to the state bound, not the host —
    * see [[graft.streaming.AvailableNow]]'s scaladoc for the measured
    * rationale.
    * Key-scale monitors (q35/q87) deliberately do NOT use this. */
  val BoundedMonitorStateParts = 4

  /** The materialized clips table as a file-source STREAM (the ingest shape
    * of the north-rule pipeline): schema from the parquet footer, all files
    * in one micro-batch so stateful per-batch emission is deterministic. */
  private def clipsStream(s: SparkSession, n: Long): DataFrame = {
    OracleTables.ensure(s, n)
    val path = OracleTables.clipsPath(n)
    s.readStream.schema(s.read.parquet(path).schema)
      .option("maxFilesPerTrigger", "1000000")
      .parquet(path)
  }

  val cases: Seq[QueryCase] = Seq(
    // Streaming family through the oracle gate (round-3 verdict #3): the
    // flatMapGroupsWithState duplicate monitor (StreamingDedup
    // .duplicateCounts — custom event-time state, bounded by watermark +
    // idle horizon) runs over the clips table read as a FILE STREAM with
    // Trigger.AvailableNow and lands in a memory sink. All files are
    // processed in ONE micro-batch (maxFilesPerTrigger above the file
    // count), so each duplicated clip_id emits exactly one (key, count)
    // row = its total count — deterministically equal to the batch
    // groupBy-count the oracle runs. Event time is a constant literal (the
    // clips table carries no timestamp; a constant is a valid event time
    // and exercises the same watermark + state machinery).
    // Oracle: batch twin of the single-batch streaming duplicate monitor:
    // with all files in one micro-batch, flatMapGroupsWithState emits one row
    // per recurring key carrying its total count — exactly this groupBy
    QueryCase("q35_streaming_dup_counts", (s, dir) => {
      AvailableNow.drain(s, "q35", "append") { c =>
        val stream = clipsStream(c, clipCount(dir))
          .select(col("clip_id"),
            lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
        graft.streaming.StreamingDedup.duplicateCounts(
          stream, "clip_id", "ts").toDF()
      }.rows.select(col("key").as("clip_id"), col("dup_count"))
    }, Some(sfDir =>
      s"""SELECT clip_id, COUNT(*) AS dup_count FROM ${clipsSql(sfDir)}
         |GROUP BY clip_id HAVING COUNT(*) > 1""".stripMargin)),

    // Streaming referential monitor (StreamingValidator.orphanStream):
    // stream-static left-anti against the transcript catalog — STATELESS,
    // so the result is deterministic under any micro-batching and equals
    // q23's batch anti-join exactly.
    // Oracle: the streaming referential monitor is stateless stream-static
    // left-anti ⇒ identical to the batch anti-join
    QueryCase("q36_streaming_orphans", (s, dir) => {
      val n = clipCount(dir)
      AvailableNow.drain(s, "q36", "append") { c =>
        graft.streaming.StreamingValidator.orphanStream(
          clipsStream(c, n).select(col("clip_id")),
          OracleTables.catalog(c, n), Seq("clip_id"),
          broadcastCatalog = true)
      }.rows
    }, Some(sfDir =>
      s"""SELECT clip_id FROM ${clipsSql(sfDir)} c WHERE NOT EXISTS
         | (SELECT 1 FROM ${catalogSql(sfDir)} k WHERE k.clip_id = c.clip_id)""".stripMargin)),

    // Streaming windowed violation-rate monitor
    // (StreamingValidator.violationRateByWindow): the full clips constraint
    // suite as a watermarked per-(hour-window × codec) error-rate stream.
    // Event time is derived deterministically from dur_ms (the clips table
    // carries no timestamp; base epoch 1704067200 is hour-aligned, so
    // Spark's epoch-aligned tumbling windows equal DuckDB date_trunc).
    // Complete output mode + single batch ⇒ every window's final counts,
    // independent of watermark progression (append mode would hold back
    // unfinalized windows).
    // Oracle: batch twin of the windowed violation-rate monitor: same derived
    // event time (hour-aligned base epoch ⇒ tumbling windows = date_trunc),
    // same constraint suite as q20's clipOk predicate
    QueryCase("q37_streaming_window_rates", (s, dir) => {
      AvailableNow.drain(s, "q37", "complete",
          statePartitions = BoundedMonitorStateParts) { c =>
        val stream = clipsStream(c, clipCount(dir))
          .withColumn("ts",
            timestamp_seconds(lit(1704067200L) +
              coalesce(col("dur_ms").cast("long"), lit(-1L))))
        graft.streaming.StreamingValidator.violationRateByWindow(
          stream, ClipsGenerator.spec, "ts", "1 hour", "10 minutes")
      }.rows.select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hr"),
          col("codec"), col("total_rows"), col("error_rows"),
          col("error_rate"))
    }, Some(sfDir =>
      s"""WITH c AS (
         | SELECT *, $clipOk AS ok,
         |   make_timestamp((1704067200::BIGINT
         |     + CAST(COALESCE(dur_ms, -1) AS BIGINT)) * 1000000::BIGINT) AS ts
         | FROM ${clipsSql(sfDir)}
         |)
         |SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hr,
         |  codec, COUNT(*) AS total_rows,
         |  CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT) AS error_rows,
         |  CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         |    AS error_rate
         |FROM c GROUP BY 1, 2""".stripMargin)),

    // Streaming drift monitor through the oracle gate (round 5 — the one
    // streaming monitor q35-q37 left unpinned at the driver level). Same
    // verdict-pinning design as q34: the reference t-digest is trained in
    // batch on the unshifted table, the STREAM replays the table with
    // pcm_mulaw durations shifted +5000 ms (ks ≈ 0.5+ for that codec,
    // ≈ 0.01 for the rest — far from the 0.1 threshold on both sides, so
    // sketch error cannot flip any verdict), and the windowed streaming
    // t-digest aggregation (bounded ObjectHashAggregate state, one sketch
    // per window x codec) must reproduce exactly the oracle's rule-derived
    // verdict. Constant event time + Complete mode + single AvailableNow
    // batch = one deterministic emission per codec (Append would hold the
    // unclosed window back, as in q37). ks/psi numbers are sketch-specific
    // and deliberately dropped; the VERDICT is the oracle-comparable fact.
    // Oracle: streaming drift verdict: the planted +5000 ms shift on
    // pcm_mulaw sits at ks ≈ 0.5+ (others ≈ 0.01) vs the 0.1 threshold, so
    // the rule-derived verdict is exact; the single constant-timestamp window
    // is the hour it falls in (q34 pins the same sketch verdict against exact
    // CDFs in batch; this gates the STREAMING aggregation path)
    QueryCase("q43_streaming_drift", (s, dir) => {
      val n = clipCount(dir)
      val clips = OracleTables.clips(s, n)
      val ref = DriftCheck.digest(clips, "dur_ms")
      AvailableNow.drain(s, "q43", "complete",
          statePartitions = BoundedMonitorStateParts) { c =>
        val stream = clipsStream(c, n)
          .withColumn("dur_ms",
            when(col("codec") === "pcm_mulaw", col("dur_ms") + 5000)
              .otherwise(col("dur_ms")))
          .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
        graft.streaming.StreamingDrift.monitor(
          stream, "ts", "dur_ms", Seq("codec"), ref,
          windowDuration = "1 hour", watermarkDelay = "10 minutes")
      }.rows.select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hr"),
          col("codec"), col("drifted"))
    }, Some(sfDir =>
      s"""SELECT '2024-01-01 00:00:00' AS hr, codec,
         |  (codec = 'pcm_mulaw') AS drifted
         |FROM ${clipsSql(sfDir)} GROUP BY codec""".stripMargin)),

    // Streaming quality census (round 7) — q56's reference-free band
    // census at INGEST time: per event-time window × codec, counts per
    // quality band, decoded and banded by the EXACT batch operators
    // (shared statsUdf/bandCol definitions — the two paths cannot drift).
    // No plants needed: the stream carries the generator's injections,
    // whose reference-free signatures are the measured q56 classes
    // (zeroed pcm → half_silent, flac → undecodable, µ-law → clipped,
    // A-law → dc_bias, ADPCM → half_silent; everything else nominal).
    // Single AvailableNow batch + Complete mode = deterministic emission
    // = the batch SQL the oracle runs (the q35-q37/q43 discipline).
    // Oracle: the q56 corrupt-class signatures (measured, QualityBandSweep)
    // under the constant event hour — no plants, the stream's own injections
    QueryCase("q61_streaming_quality", (s, dir) => {
      val n = clipCount(dir)
      AvailableNow.drain(s, "q61", "complete",
          statePartitions = BoundedMonitorStateParts) { c =>
        val stream = clipsStream(c, n)
          .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
        graft.streaming.StreamingCensus.quality(
          stream, "ts", windowDuration = "1 hour",
          watermarkDelay = "10 minutes")
      }.rows.select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hr"),
          col("codec"), col("band"), col("clips"))
    }, Some(sfDir =>
      s"""SELECT '2024-01-01 00:00:00' AS hr, codec,
         |  CASE WHEN m = 17 THEN
         |    CASE codec WHEN 'flac' THEN 'undecodable'
         |         WHEN 'pcm_mulaw' THEN 'clipped'
         |         WHEN 'pcm_alaw' THEN 'dc_bias'
         |         ELSE 'half_silent' END
         |  ELSE 'nominal' END AS band,
         |  COUNT(*) AS clips
         |FROM (SELECT codec, CAST(substr(clip_id, 6) AS BIGINT) % 5000 AS m
         |      FROM ${clipsSql(sfDir)})
         |GROUP BY codec, band""".stripMargin)),

    // Streaming ingest classification vs a frozen corpus store (round 7)
    // — q51's incremental-dedup shape at STREAM time: every arriving doc
    // fingerprinted and classified against the corpus (fingerprint,
    // keeper) store via a stream-static left join (stateless — no state
    // store involvement; with the store bucketed the static side reads in
    // place and only the arriving batch moves). The store freezes the
    // doc_id<250 half, the stream replays the whole table: fingerprints
    // landing in the frozen half (incl. organic cross-half duplicate
    // texts — the join is by CONTENT, not id) count dup_of_corpus, the
    // rest new. Shared fingerprint definition with the batch path; q61's
    // constant-hour + Complete + AvailableNow determinism discipline.
    // Oracle: the q51 fingerprint recipe by CONTENT against the frozen
    // doc_id<250 half, under the constant event hour; NULL text → NULL fp →
    // new
    QueryCase("q70_streaming_ingest", (s, dir) => {
      import graft.dedup.Dedup
      import graft.streaming.StreamingIngest
      AvailableNow.drain(s, "q70", "complete",
          statePartitions = BoundedMonitorStateParts) { c =>
        val docs = tbl(c, dir, "documents")
        val store = Dedup.fingerprintStore(
          docs.where(col("doc_id") < 250), "doc_id", "text")
        // documents.parquet is a single FILE; the file-stream source needs
        // a directory, so stream the sf dir gated to just that file
        val path = s"$dir/documents.parquet"
        val stream = c.readStream.schema(c.read.parquet(path).schema)
          .option("maxFilesPerTrigger", "1000000")
          .option("pathGlobFilter", "documents.parquet")
          .parquet(dir)
          .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
        StreamingIngest.classifyCounts(stream, "text", store,
          "ts", windowDuration = "1 hour", watermarkDelay = "10 minutes")
      }.rows.select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hr"),
          col("status"), col("docs"))
    }, Some(_ =>
      """WITH corpus AS (
        | SELECT DISTINCT
        |   MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')))) AS fp
        | FROM documents WHERE doc_id < 250
        |), d AS (
        | SELECT MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')))) AS fp
        | FROM documents
        |)
        |SELECT '2024-01-01 00:00:00' AS hr,
        |  CASE WHEN c.fp IS NOT NULL THEN 'dup_of_corpus'
        |       ELSE 'new' END AS status,
        |  COUNT(*) AS docs
        |FROM d LEFT JOIN corpus c ON d.fp = c.fp
        |GROUP BY status""".stripMargin)),

    // Multi-batch out-of-order streaming replay (round 8) — the watermark
    // gate the single-batch AvailableNow monitors can't exercise: events
    // replay as SIX micro-batches (one file per batch, mtime-pinned
    // order), with two planted late classes — %13==11 rows arrive 25 min
    // stale (dropped by the watermark once batches 2-3 have advanced it;
    // kept-but-old in batches 0-1 where no watermark exists yet) and
    // %17==3 rows 8 min stale (inside the horizon — always accepted,
    // proving out-of-order merge into live windows). Two trailing flush
    // batches finalize every real window under append mode. The oracle
    // replays the MEASURED Spark semantics (LateReplaySpec pins them):
    // lagged late-filter watermark = max event over batches ≤ b−2 minus
    // the 5-minute delay, drop iff window end ≤ that; it predicts every
    // finalized (window, key) count AND the dropped late-GROUP total
    // (Spark's aggregation drop metric counts post-shuffle partial
    // aggregates — distinct late (window, key) groups per batch).
    // Oracle: the measured watermark state machine replayed in SQL: per-batch
    // event maxima, the one-batch-LAGGED late-filter watermark (max over
    // batches ≤ b−2, minus the delay — NULL for batches 0-1, where nothing
    // can drop), drop iff window end ≤ it, finalized counts over the
    // survivors plus the dropped total. Event times are engineered so a
    // window end (:00) never equals a watermark (:30 − 5 min) — the ≤-vs-<
    // comparator ambiguity cannot bite.
    QueryCase("q81_streaming_late_replay", (s, dir) => {
      import graft.streaming.LateReplay
      val i = col("event_id")
      val minute = (i % 4) * 10 + (i % 7) +
        when(i % 13 === 11, -25).when(i % 17 === 3, -8).otherwise(0)
      val data = tbl(s, dir, "events").where(i.isNotNull).select(
        (i % 4).as("batch"),
        concat(lit("u"), (i % 5)).as("k"),
        timestamp_seconds(minute.cast("long") * 60 + 30 + 1767268800L)
          .as("ts"))
      val flush = s.range(2).select((col("id") + 4).as("batch"),
        lit("flush").as("k"),
        timestamp_seconds((lit(120) + col("id") * 5) * 60 + 30 + 1767268800L)
          .as("ts"))
      // windowCounts returns local rows, so the replay input (a full copy
      // of the events table) is deleted as soon as it returns
      AvailableNow.withScratchDir("latereplay") { replayDir =>
        LateReplay.writeBatches(data.unionByName(flush), "batch", "k", "ts",
          replayDir)
        LateReplay.windowCounts(s, replayDir, "1 minute", "5 minutes",
          statePartitions = BoundedMonitorStateParts)
          .where(col("kind") =!= "window" || col("k") =!= "flush")
      }
    }, Some(_ =>
      """WITH rows0 AS (
        | SELECT event_id % 4 AS batch,
        |   'u' || CAST(event_id % 5 AS VARCHAR) AS k,
        |   1767268800 + ((event_id % 4) * 10 + (event_id % 7)
        |     + CASE WHEN event_id % 13 = 11 THEN -25
        |            WHEN event_id % 17 = 3 THEN -8 ELSE 0 END) * 60 + 30
        |     AS sec
        | FROM events WHERE event_id IS NOT NULL
        | UNION ALL SELECT 4, 'flush', 1767268800 + 120 * 60 + 30
        | UNION ALL SELECT 5, 'flush', 1767268800 + 125 * 60 + 30
        |),
        |bmax AS (SELECT batch, MAX(sec) AS mx FROM rows0 GROUP BY batch),
        |wm AS (SELECT batch,
        |         MAX(mx) OVER (ORDER BY batch
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) - 300
        |           AS lag_wm
        |       FROM bmax),
        |flagged AS (
        | SELECT r.batch, r.k, (r.sec // 60) * 60 AS ws,
        |   CASE WHEN w.lag_wm IS NOT NULL
        |     AND ((r.sec // 60) + 1) * 60 <= w.lag_wm
        |     THEN 1 ELSE 0 END AS dropped
        | FROM rows0 r JOIN wm w ON r.batch = w.batch)
        |SELECT 'window' AS kind, k,
        |  strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M:%S')
        |    AS window_start,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM flagged WHERE dropped = 0 AND k <> 'flush'
        |GROUP BY k, ws
        |UNION ALL
        |SELECT 'late_dropped_groups', NULL, NULL,
        |  CAST(COUNT(*) AS BIGINT)
        |FROM (SELECT DISTINCT batch, k, ws FROM flagged WHERE dropped = 1)
        |""".stripMargin)),

    // Streaming content dedup (round 8) — q83's acoustic fingerprint at
    // INGEST time: the same recording arriving re-encoded (different
    // codec, container, rate — zero shared bytes) is caught as a
    // duplicate WHILE it streams in, by keying the stateful dup monitor
    // on the content fingerprint instead of the id. Composition: the
    // decode+FFT fingerprint UDF is a stateless per-row projection in
    // front of q35's flatMapGroupsWithState fold; state stays one
    // (count, last-seen) pair per fingerprint. Same exclusions as q83.
    // Oracle: q83's cluster arithmetic, duplicates only — the streaming
    // monitor must surface exactly the multi-clip fingerprints with their
    // counts
    QueryCase("q87_streaming_content_dedup", (s, dir) => {
      val n = clipCount(dir)
      val id = expr("CAST(substring(clip_id, 6, 12) AS BIGINT)")
      val trueI = when(
        col("dur_ms") =!= (lit(200) + (id * 37) % 9800).cast("int"), id + 1)
        .otherwise(id)
      val srTrue = when(trueI % 10 < 6, lit(16000)).otherwise(
        element_at(array(lit(8000), lit(22050), lit(44100), lit(48000)),
          ((trueI / 10) % 4).cast("int") + 1))
      val fpU = udf((b: Array[Byte], c: String) =>
        graft.audio.ContentFingerprint.fingerprint(b, c))
      AvailableNow.drain(s, "q87", "append") { c =>
        val stream = clipsStream(c, n)
          .where(id % 5000 =!= 17)
          .where(!(col("codec") === "adpcm_ima" && srTrue === 8000))
          .select(fpU(col("bytes"), col("codec")).as("fingerprint"),
            lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
        graft.streaming.StreamingDedup.duplicateCounts(
          stream, "fingerprint", "ts").toDF()
      }.rows.select(col("key").as("fingerprint"), col("dup_count"))
    }, Some(sfDir =>
      s"""WITH t AS (
         | SELECT clip_id, codec,
         |   CASE WHEN dur_ms <> 200 + (p * 37) % 9800 THEN p + 1 ELSE p END
         |     AS i
         | FROM (SELECT clip_id, codec, dur_ms,
         |         CAST(substr(clip_id, 6) AS BIGINT) AS p FROM ${clipsSql(sfDir)})
         | WHERE p % 5000 <> 17),
         |e AS (
         | SELECT codec,
         |   CASE WHEN i % 10 < 6 THEN 16000
         |        ELSE [8000, 22050, 44100, 48000][CAST((i // 10) % 4 AS INT)
         |          + 1] END AS sr,
         |   'tone:' || CAST(220 + i % 880 AS VARCHAR) || ':d1' AS fingerprint
         | FROM t)
         |SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS dup_count
         |FROM e WHERE NOT (codec = 'adpcm_ima' AND sr = 8000)
         |GROUP BY fingerprint HAVING COUNT(*) > 1""".stripMargin)),
  )
}
