package graft.queries

import graft.SparkEntry.{tbl, clipCount, clipsSql, catalogSql, clipOk, snrFailPred}
import graft.cast.CastPlanner
import graft.io.{ClipsGenerator, OracleTables}
import graft.spec._
import graft.text.TextAnalysis
import graft.validate._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table-validation queries: row constraints, uniqueness, referential
  * integrity, column profiles, drift and the decode-based clip censuses,
  * over operators from `graft.validate`, `graft.spec` and `graft.cast`.
  * q27-q29 use plain Spark aggregates: the top-k, hourly-bucket and
  * histogram shapes the profiles and drift checks build on. */
object ValidateQueries {

  /** documents table spec: all columns required (FIXTURES.md shapes). */
  private val documentsSpec = TableSpec("documents", Seq(
    ColumnSpec("doc_id", LongType),
    ColumnSpec("text", StringType),
    ColumnSpec("lang", StringType),
    ColumnSpec("source", StringType),
    ColumnSpec("n_chars", LongType)),
    keyCols = Seq("doc_id"), partitionCols = Seq("lang"))

  val cases: Seq[QueryCase] = Seq(
    // RowValidator summary (§2.4 #43-45): per-partition pass/fail counts
    QueryCase("q01_null_summary", (s, dir) => {
      val run = RowValidator.validate(tbl(s, dir, "documents"), documentsSpec)
      run.summary.select(col("lang"), col("total_rows"), col("error_rows"),
        col("valid_rows"))
    }, Some(_ =>
      """SELECT lang, COUNT(*) AS total_rows,
        | CAST(SUM(CASE WHEN doc_id IS NULL OR text IS NULL OR lang IS NULL
        |   OR source IS NULL OR n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS error_rows,
        | COUNT(*) - CAST(SUM(CASE WHEN doc_id IS NULL OR text IS NULL
        |   OR lang IS NULL OR source IS NULL OR n_chars IS NULL THEN 1 ELSE 0
        |   END) AS BIGINT) AS valid_rows
        |FROM documents GROUP BY lang""".stripMargin)),

    // Range constraint violations (§2.5), north-rule violation shape
    QueryCase("q02_range_violations", (s, dir) => {
      val c = Maximum(0.05)
      tbl(s, dir, "lineitem")
        .where(!c.holds(col("l_discount")))
        .select(col("l_orderkey"), col("l_linenumber"),
          lit("maximum").as("constraint_id"),
          col("l_discount").as("observed_value"))
    }, Some(_ =>
      """SELECT l_orderkey, l_linenumber, 'maximum' AS constraint_id,
        | l_discount AS observed_value
        |FROM lineitem WHERE NOT (l_discount <= 0.05)""".stripMargin)),

    // UniquenessCheck (§2.5 is_unique enforcement): duplicate keys
    QueryCase("q03_unique_violations", (s, dir) =>
      UniquenessCheck.duplicateKeys(tbl(s, dir, "orders"), Seq("o_custkey")),
      Some(_ =>
        """SELECT o_custkey, COUNT(*) AS dup_count FROM orders
          |GROUP BY o_custkey HAVING COUNT(*) > 1""".stripMargin)),

    // UniquenessCheck on a true PK — expected empty (negative control)
    QueryCase("q04_unique_pk_clean", (s, dir) =>
      UniquenessCheck.duplicateKeys(tbl(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber")),
      Some(_ =>
        """SELECT l_orderkey, l_linenumber, COUNT(*) AS dup_count FROM lineitem
          |GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1""".stripMargin)),

    // ReferentialCheck orphans (north rule): orders with no lineitems
    QueryCase("q05_ref_orphans", (s, dir) => {
      val catalog = tbl(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"))
      ReferentialCheck.orphans(tbl(s, dir, "orders"), catalog, Seq("o_orderkey"))
    }, Some(_ =>
      """SELECT o_orderkey FROM orders o WHERE NOT EXISTS
        | (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)""".stripMargin)),

    // ReferentialCheck per-group summary
    QueryCase("q06_ref_summary", (s, dir) => {
      val catalog = tbl(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"))
      ReferentialCheck.summary(tbl(s, dir, "orders"), catalog, "o_orderkey",
        Seq("o_orderstatus"))
    }, Some(_ =>
      """SELECT o_orderstatus, COUNT(*) AS total_rows,
        | CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM lineitem l
        |   WHERE l.l_orderkey = o.o_orderkey) THEN 1 ELSE 0 END) AS BIGINT)
        |   AS orphan_rows
        |FROM orders o GROUP BY o_orderstatus""".stripMargin)),

    // ColumnStats profile (north rule "column stats"), oracle-safe subset
    QueryCase("q07_colstats", (s, dir) =>
      ColumnStats.profile(tbl(s, dir, "lineitem"), Seq("l_quantity"),
        Seq("l_returnflag"))
        .select(col("l_returnflag"), col("total_rows"),
          col("l_quantity_min").as("q_min"), col("l_quantity_max").as("q_max"),
          round(col("l_quantity_avg"), 6).as("q_avg")),
      Some(_ =>
        """SELECT l_returnflag, COUNT(*) AS total_rows, MIN(l_quantity) AS q_min,
          | MAX(l_quantity) AS q_max, ROUND(AVG(l_quantity), 6) AS q_avg
          |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // CastPlanner (§2.3 #31-41): stringified columns → typed, strict
    QueryCase("q08_cast_roundtrip", (s, dir) => {
      val raw = tbl(s, dir, "events").select(
        col("event_id"),
        col("user_id").cast(StringType).as("uid_str"),
        date_format(col("ts"), "yyyy-MM-dd").as("d_str"),
        when(col("event_type") === "error", "yes").otherwise("no").as("is_err"))
      val spec = TableSpec("events_cast", Seq(
        ColumnSpec("event_id", LongType),
        ColumnSpec("uid_str", LongType),
        ColumnSpec("d_str", DateType), // default %Y-%m-%d
        ColumnSpec("is_err", BooleanType,
          boolTrueString = "yes", boolFalseString = "no")))
      // date re-rendered as ISO string: parquet DATE vs DuckDB DATE hash
      // representations differ across readers; strings are unambiguous
      CastPlanner(raw, spec)
        .select(col("event_id"), col("uid_str"),
          date_format(col("d_str"), "yyyy-MM-dd").as("d_iso"), col("is_err"))
    }, Some(_ =>
      """SELECT event_id, CAST(TRIM(CAST(user_id AS VARCHAR)) AS BIGINT) AS uid_str,
        | STRFTIME(CAST(STRFTIME(ts, '%Y-%m-%d') AS DATE), '%Y-%m-%d') AS d_iso,
        | (event_type = 'error') AS is_err
        |FROM events""".stripMargin)),

    // Windowed top-k (deterministic tiebreak): heaviest users per event type
    QueryCase("q27_topk_users", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = tbl(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("n").desc, col("user_id"))
      counts.withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
    }, Some(_ =>
      """SELECT event_type, user_id, n, rn FROM (
        | SELECT event_type, user_id, COUNT(*) AS n,
        |  ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY COUNT(*) DESC, user_id) AS rn
        | FROM events GROUP BY event_type, user_id) WHERE rn <= 3""".stripMargin)),

    // Event-time bucketing (hourly) — the batch shape of the streaming
    // violation-rate monitor; timestamps rendered as ISO strings for
    // reader-independent hashing
    QueryCase("q28_events_hourly", (s, dir) =>
      tbl(s, dir, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")),
          "yyyy-MM-dd HH:mm:ss").as("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("total_value")),
      Some(_ =>
        """SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hr,
          | event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value
          |FROM events GROUP BY 1, 2""".stripMargin)),

    // Fixed-width histogram — the binned-density piece of drift detection
    QueryCase("q29_histogram", (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy(floor(col("l_quantity") / 5.0).cast(LongType).as("bin"))
        .agg(count(lit(1)).as("n")),
      Some(_ =>
        """SELECT CAST(FLOOR(l_quantity / 5.0) AS BIGINT) AS bin, COUNT(*) AS n
          |FROM lineitem GROUP BY bin""".stripMargin)),

    // Multi-column per-group profile (ColumnStats over orders)
    QueryCase("q30_orders_profile", (s, dir) =>
      ColumnStats.profile(tbl(s, dir, "orders"), Seq("o_totalprice"),
        Seq("o_orderstatus"))
        .select(col("o_orderstatus"), col("total_rows"),
          col("o_totalprice_nulls").as("price_nulls"),
          round(col("o_totalprice_min"), 2).as("price_min"),
          round(col("o_totalprice_max"), 2).as("price_max"),
          round(col("o_totalprice_avg"), 4).as("price_avg")),
      Some(_ =>
        """SELECT o_orderstatus, COUNT(*) AS total_rows,
          | CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          |   AS price_nulls,
          | ROUND(MIN(o_totalprice), 2) AS price_min,
          | ROUND(MAX(o_totalprice), 2) AS price_max,
          | ROUND(AVG(o_totalprice), 4) AS price_avg
          |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // Full row-constraint suite → per-codec pass/fail summary
    QueryCase("q20_clips_validate_summary", (s, dir) => {
      val clips = OracleTables.clips(s, clipCount(dir))
      RowValidator.validate(clips, ClipsGenerator.spec)
        .summary.drop("violations_by_constraint")
    }, Some(sfDir =>
      s"""WITH c AS (SELECT *, $clipOk AS ok FROM ${clipsSql(sfDir)})
         |SELECT codec, COUNT(*) AS total_rows,
         |  CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT) AS error_rows,
         |  COUNT(*) - CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT) AS valid_rows,
         |  CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS error_rate,
         |  1.0 - CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS success_rate,
         |  (SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) = 0) AS passed
         |FROM c GROUP BY codec""".stripMargin)),

    // North-rule violation rows (clip_id, constraint_id, observed_value)
    // Oracle: every (column, constraint) check enumerated — the full
    // violation scan
    QueryCase("q21_clips_violations", (s, dir) =>
      RowValidator.validate(OracleTables.clips(s, clipCount(dir)),
        ClipsGenerator.spec).violations,
      Some(sfDir =>
        s"""WITH c AS (SELECT * FROM ${clipsSql(sfDir)})
           |SELECT clip_id, codec, 'clip_id' AS column_name, 'not_null' AS constraint_id,
           |  CAST(NULL AS VARCHAR) AS observed_value FROM c WHERE clip_id IS NULL
           |UNION ALL
           |SELECT clip_id, codec, 'clip_id', 'pattern', clip_id FROM c
           | WHERE clip_id IS NOT NULL AND NOT regexp_matches(clip_id, '^clip-[0-9]{12}$$')
           |UNION ALL
           |SELECT clip_id, codec, 'bytes', 'not_null', CAST(NULL AS VARCHAR) FROM c
           | WHERE bytes IS NULL
           |UNION ALL
           |SELECT clip_id, codec, 'sr_hz', 'not_null', CAST(NULL AS VARCHAR) FROM c
           | WHERE sr_hz IS NULL
           |UNION ALL
           |SELECT clip_id, codec, 'sr_hz', 'minimum', CAST(sr_hz AS VARCHAR) FROM c
           | WHERE sr_hz IS NOT NULL AND NOT (sr_hz >= 8000)
           |UNION ALL
           |SELECT clip_id, codec, 'sr_hz', 'maximum', CAST(sr_hz AS VARCHAR) FROM c
           | WHERE sr_hz IS NOT NULL AND NOT (sr_hz <= 48000)
           |UNION ALL
           |SELECT clip_id, codec, 'sr_hz', 'in_set', CAST(sr_hz AS VARCHAR) FROM c
           | WHERE sr_hz IS NOT NULL AND sr_hz NOT IN (8000, 16000, 22050, 44100, 48000)
           |UNION ALL
           |SELECT clip_id, codec, 'dur_ms', 'not_null', CAST(NULL AS VARCHAR) FROM c
           | WHERE dur_ms IS NULL
           |UNION ALL
           |SELECT clip_id, codec, 'dur_ms', 'exclusive_minimum', CAST(dur_ms AS VARCHAR) FROM c
           | WHERE dur_ms IS NOT NULL AND NOT (dur_ms > 0)
           |UNION ALL
           |SELECT clip_id, codec, 'dur_ms', 'maximum', CAST(dur_ms AS VARCHAR) FROM c
           | WHERE dur_ms IS NOT NULL AND NOT (dur_ms <= 30000)
           |UNION ALL
           |SELECT clip_id, codec, 'codec', 'not_null', CAST(NULL AS VARCHAR) FROM c
           | WHERE codec IS NULL
           |UNION ALL
           |SELECT clip_id, codec, 'codec', 'in_set', codec FROM c
           | WHERE codec IS NOT NULL AND codec NOT IN ('pcm_s16le','flac','pcm_mulaw','pcm_alaw','adpcm_ima')
           |UNION ALL
           |SELECT clip_id, codec, 'transcript', 'not_null', CAST(NULL AS VARCHAR) FROM c
           | WHERE transcript IS NULL
           |UNION ALL
           |SELECT clip_id, codec, 'transcript', 'min_length', transcript FROM c
           | WHERE transcript IS NOT NULL AND NOT (length(transcript) >= 1)""".stripMargin)),

    // is_unique enforcement on clip_id (injected duplicates found)
    QueryCase("q22_clips_unique", (s, dir) =>
      UniquenessCheck.duplicateKeys(OracleTables.clips(s, clipCount(dir)),
        Seq("clip_id")),
      Some(sfDir =>
        s"""SELECT clip_id, COUNT(*) AS dup_count FROM ${clipsSql(sfDir)}
           |GROUP BY clip_id HAVING COUNT(*) > 1""".stripMargin)),

    // Salted two-phase uniqueness (round-4 verdict #6: the skew weapon was
    // unit-pinned but never driver-gated): partial counts on (key, salt)
    // then a final sum per key — bounded per-reducer load even when one
    // key dominates a quadrillion rows. Must equal q22's plain groupBy
    // exactly; shares its oracle.
    // Oracle: the salted two-phase aggregate and the bucketed-table groupBy
    // are alternate PHYSICAL plans for the same logical count — both must
    // reproduce the plain duplicate scan exactly
    QueryCase("q38_clips_unique_salted", (s, dir) =>
      UniquenessCheck.duplicateKeysSalted(OracleTables.clips(s, clipCount(dir)),
        Seq("clip_id")),
      Some(sfDir =>
        s"""SELECT clip_id, COUNT(*) AS dup_count FROM ${clipsSql(sfDir)}
           |GROUP BY clip_id HAVING COUNT(*) > 1""".stripMargin)),

    // Uniqueness over the BUCKETED emulated-Iceberg table (round-4 verdict
    // #6): the bucket(n, clip_id) transform realized via native
    // bucketBy+sortBy means the groupBy-count reads pre-hash-partitioned
    // files and needs ZERO exchanges (PlanShapeSpec pins the plan; this
    // query driver-gates the VALUES). Written once per session + scale —
    // bench reps and repeated calls reuse the catalog table.
    QueryCase("q39_clips_unique_bucketed", (s, dir) => {
      val n = clipCount(dir)
      // keyed like the oracle tables — generator version + synth cap + n —
      // so a persistent metastore / leftover warehouse can never silently
      // serve a table built from a previous generator (round-5 advice)
      val key = s"v${OracleTables.GeneratorVersion}_ms${OracleTables.MaxSynthMs}_n$n"
      val tbl = s"graft_clips_bucketed_$key"
      if (!s.catalog.tableExists(tbl))
        graft.io.IcebergEmulation.writeBucketed(
          OracleTables.clips(s, n), ClipsGenerator.spec, tbl, buckets = 16,
          path = Some(s"${OracleTables.ScratchRoot}/graft-bucketed/$key"))
      UniquenessCheck.duplicateKeys(s.table(tbl), Seq("clip_id"))
    }, Some(sfDir =>
      s"""SELECT clip_id, COUNT(*) AS dup_count FROM ${clipsSql(sfDir)}
         |GROUP BY clip_id HAVING COUNT(*) > 1""".stripMargin)),

    // Referential integrity vs the transcript catalog (broadcast semi-join)
    QueryCase("q23_clips_ref_orphans", (s, dir) => {
      val n = clipCount(dir)
      ReferentialCheck.orphans(OracleTables.clips(s, n),
        OracleTables.catalog(s, n), Seq("clip_id"), broadcastCatalog = true)
    }, Some(sfDir =>
      s"""SELECT clip_id FROM ${clipsSql(sfDir)} c WHERE NOT EXISTS
         | (SELECT 1 FROM ${catalogSql(sfDir)} k WHERE k.clip_id = c.clip_id)""".stripMargin)),

    // Distribution drift per codec vs the reference dur_ms digest.
    // (The one remaining rows-only clips check: the t-digest sketch is not
    // SQL-expressible; its math is pinned by TDigestSpec property tests.)
    QueryCase("q24_clips_drift", (s, dir) => {
      val n = clipCount(dir)
      val clips = OracleTables.clips(s, n)
      val ref = DriftCheck.digest(clips, "dur_ms")
      DriftCheck.compareGroups(clips, "dur_ms", Seq("codec"), ref)
        .select(col("codec"), round(col("ks"), 4).as("ks"),
          round(col("psi"), 4).as("psi"), col("drifted"))
    }, None),

    // Drift EXACT twin (round-2 verdict #2): q24's t-digest verdict gets an
    // oracle by planting real drift (one codec's durations shifted +5000 ms)
    // and emitting (a) the EXACT binned KS per codec — integer-count math
    // DuckDB reproduces bit-for-bit — and (b) the t-digest KS verdict. The
    // oracle computes the same exact KS and the exact KS verdict; a hash
    // match therefore pins the sketch KS verdict against exact CDFs (drift
    // is planted far from the 0.1 threshold on both sides: pcm_mulaw ks≈0.5+,
    // other codecs ks≈0.01, so sketch error cannot flip the verdict). The
    // verdict column is deliberately KS-ONLY on BOTH sides — the combined
    // ks||psi verdict would make the hash depend on the sketch PSI, which
    // the oracle cannot compute (ln is engine-specific); the PSI branch is
    // pinned separately by ExactKsSpec's digest-agreement test.
    // Oracle: exact binned-KS drift + EXACT verdict: the Spark side reports
    // the t-digest verdict in `drifted`, so a hash match proves sketch ==
    // exact at the spec threshold (planted drift sits far from 0.1 on both
    // sides; the exact KS column itself is pure integer-count arithmetic,
    // portable)
    QueryCase("q34_clips_drift_exact", (s, dir) => {
      val n = clipCount(dir)
      val clips = OracleTables.clips(s, n)
      val cur = clips.withColumn("dur_ms",
        when(col("codec") === "pcm_mulaw", col("dur_ms") + 5000)
          .otherwise(col("dur_ms")))
      val ref = DriftCheck.digest(clips, "dur_ms")
      val sketch = DriftCheck.compareGroups(cur, "dur_ms", Seq("codec"), ref)
        .select(col("codec"), (col("ks") > 0.1).as("drifted"))
      DriftCheck.exactKsPerGroup(clips, cur, "dur_ms", Seq("codec"), 100.0)
        .join(sketch, Seq("codec"))
        .select(col("codec"), round(col("ks_exact"), 6).as("ks_exact"),
          col("drifted"))
    }, Some(sfDir =>
      s"""WITH cur AS (
         | SELECT codec,
         |   CASE WHEN codec = 'pcm_mulaw' THEN dur_ms + 5000 ELSE dur_ms END AS dur_ms
         | FROM ${clipsSql(sfDir)} WHERE dur_ms IS NOT NULL
         |), refh AS (
         | SELECT CAST(FLOOR(CAST(dur_ms AS DOUBLE) / 100.0) AS BIGINT) AS bin,
         |   COUNT(*) AS rn
         | FROM ${clipsSql(sfDir)} WHERE dur_ms IS NOT NULL GROUP BY 1
         |), curh AS (
         | SELECT codec, CAST(FLOOR(CAST(dur_ms AS DOUBLE) / 100.0) AS BIGINT) AS bin,
         |   COUNT(*) AS cn
         | FROM cur GROUP BY 1, 2
         |), bins AS (
         | SELECT DISTINCT bin FROM (SELECT bin FROM refh UNION ALL SELECT bin FROM curh)
         |), grid AS (
         | SELECT g.codec, b.bin, COALESCE(c.cn, 0) AS cn, COALESCE(r.rn, 0) AS rn
         | FROM (SELECT DISTINCT codec FROM curh) g
         | CROSS JOIN bins b
         | LEFT JOIN curh c ON c.codec = g.codec AND c.bin = b.bin
         | LEFT JOIN refh r ON r.bin = b.bin
         |), cdfs AS (
         | SELECT codec,
         |   ABS(CAST(SUM(cn) OVER (PARTITION BY codec ORDER BY bin) AS DOUBLE)
         |         / CAST(SUM(cn) OVER (PARTITION BY codec) AS DOUBLE)
         |     - CAST(SUM(rn) OVER (PARTITION BY codec ORDER BY bin) AS DOUBLE)
         |         / CAST(SUM(rn) OVER (PARTITION BY codec) AS DOUBLE)) AS d
         | FROM grid
         |)
         |SELECT codec, ROUND(MAX(d), 6) AS ks_exact, (MAX(d) > 0.1) AS drifted
         |FROM cdfs GROUP BY codec""".stripMargin)),

    // Audio-decode invariant (SNR≥30dB + transcript equality) on EVERY row
    // (sampleEvery=1): the oracle predicts which rows must fail from the
    // deterministic error-injection rules; the Spark side has to discover
    // them by actually decoding the WAV payloads. min_snr_db is dropped
    // from the query output (a decode measurement SQL cannot reproduce).
    // Oracle: expected outcomes: the injection rules say which rows
    // MUST fail decode under each codec's floor (see snrFailPred) — the Spark
    // side must find exactly them by decoding five real formats and measuring
    // SNR against the per-codec threshold
    QueryCase("q25_clips_audio_invariant", (s, dir) => {
      val n = clipCount(dir)
      AudioInvariantCheck.summary(OracleTables.clips(s, n),
        OracleTables.catalog(s, n), sampleEvery = 1, maxSynthMs = 25)
        .drop("min_snr_db")
    }, Some(sfDir =>
      s"""SELECT c.codec, COUNT(*) AS sampled_rows,
         |  CAST(SUM(CASE WHEN ${snrFailPred("c.")}
         |    THEN 1 ELSE 0 END) AS BIGINT) AS snr_failures,
         |  CAST(SUM(CASE WHEN (c.transcript = k.transcript) IS NOT TRUE
         |    THEN 1 ELSE 0 END) AS BIGINT) AS transcript_failures
         |FROM ${clipsSql(sfDir)} c LEFT JOIN ${catalogSql(sfDir)} k ON c.clip_id = k.clip_id
         |GROUP BY c.codec""".stripMargin)),

    // SNR-band census (round 5; per-codec floors round 6): decodes EVERY
    // row and buckets its SNR into capped-lossless (== 120 dB: exact
    // decode), finite-lossy-pass ([floor, 120): real quantization error
    // above the codec's own invariant floor), and fail (< floor, where
    // floor = 30 dB default / 8 dB for adpcm_ima). The oracle predicts all
    // three counts exactly from the codec label + the injection rules — so
    // a hash match proves end-to-end that (a) pcm/flac decode losslessly,
    // (b) EVERY clean G.711 row lands in [30, 120) and every clean or
    // duplicate-id adpcm_ima row in [8, 120) (the codecs are genuinely
    // lossy and genuinely good enough for their floors), and (c) exactly
    // the per-codec snrFailPred rows fail. The Spark side must discover
    // the bands by actually decoding five different compressed formats.
    // Oracle: the SNR bands are fully predictable from codec label +
    // injection rules under the per-codec floors: pcm/flac decode exactly
    // (cap), G.711 decodes with real quantization error (parameter-space
    // sweep mins 33.8/34.9 dB — always in [30, 120)), adpcm_ima decodes in
    // [12.65, ~50] dB clean and [15.1, 19.0] dB on duplicate-id rows — both
    // in [8, 120) — and exactly the per-codec snrFailPred rows land under
    // their floor; the Spark side must reproduce this by decoding
    QueryCase("q40_clips_snr_bands", (s, dir) => {
      val n = clipCount(dir)
      AudioInvariantCheck.check(OracleTables.clips(s, n),
        OracleTables.catalog(s, n), sampleEvery = 1, maxSynthMs = 25)
        .groupBy(col("codec"))
        .agg(
          sum(when(col("snr_db") === graft.audio.WavCodec.MaxSnrDb, 1L)
            .otherwise(0L)).as("capped_rows"),
          sum(when(col("snr_db") >= col("snr_threshold_db") &&
            col("snr_db") < graft.audio.WavCodec.MaxSnrDb, 1L)
            .otherwise(0L)).as("lossy_pass_rows"),
          sum(when(col("snr_db") < col("snr_threshold_db"), 1L).otherwise(0L))
            .as("fail_rows"))
    }, Some(sfDir =>
      s"""WITH c AS (
         | SELECT codec, ${snrFailPred("")} AS failpred
         | FROM ${clipsSql(sfDir)}
         |)
         |SELECT codec,
         |  CAST(SUM(CASE WHEN NOT failpred
         |    AND codec IN ('pcm_s16le','flac') THEN 1 ELSE 0 END) AS BIGINT)
         |    AS capped_rows,
         |  CAST(SUM(CASE WHEN NOT failpred
         |    AND codec IN ('pcm_mulaw','pcm_alaw','adpcm_ima') THEN 1 ELSE 0 END)
         |    AS BIGINT) AS lossy_pass_rows,
         |  CAST(SUM(CASE WHEN failpred THEN 1 ELSE 0 END) AS BIGINT)
         |    AS fail_rows
         |FROM c GROUP BY codec""".stripMargin)),

    // The fused one-scan suite (row constraints + referential + drift +
    // audio invariant in ONE pass) — the engine's 100 TB entry point
    QueryCase("q26_clips_suite_onepass", (s, dir) => {
      val n = clipCount(dir)
      ValidationSuite.run(OracleTables.clips(s, n),
        OracleTables.catalog(s, n), ClipsGenerator.spec,
        ValidationSuite.Config(sampleEvery = 1, maxSynthMs = 25))
        .drop("drift_digest", "violations_by_constraint")
    }, Some(sfDir =>
      s"""WITH c AS (SELECT *, $clipOk AS ok FROM ${clipsSql(sfDir)}),
         |j AS (
         | SELECT c.*, k.transcript AS ref_transcript
         | FROM c LEFT JOIN ${catalogSql(sfDir)} k ON c.clip_id = k.clip_id
         |)
         |SELECT codec, COUNT(*) AS total_rows,
         |  CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT) AS error_rows,
         |  CAST(SUM(CASE WHEN ref_transcript IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphan_rows,
         |  COUNT(*) AS sampled_rows,
         |  CAST(SUM(CASE WHEN ${snrFailPred("")}
         |    THEN 1 ELSE 0 END) AS BIGINT) AS snr_failures,
         |  CAST(SUM(CASE WHEN transcript IS DISTINCT FROM ref_transcript
         |    THEN 1 ELSE 0 END) AS BIGINT) AS transcript_failures,
         |  COUNT(*) - CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT) AS valid_rows,
         |  CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS error_rate,
         |  1.0 - CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS success_rate,
         |  (SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) = 0
         |    AND SUM(CASE WHEN ref_transcript IS NULL THEN 1 ELSE 0 END) = 0
         |    AND SUM(CASE WHEN ${snrFailPred("")} THEN 1 ELSE 0 END) = 0
         |    AND SUM(CASE WHEN transcript IS DISTINCT FROM ref_transcript
         |      THEN 1 ELSE 0 END) = 0) AS passed
         |FROM j GROUP BY codec""".stripMargin)),

    // Frequency-domain content census (round 5): decode EVERY row and
    // measure how much of its energy a tone at the frequency the clip's
    // own id claims (220 + id % 880 Hz) explains — the audio analog of a
    // content checksum, catching swapped / mislabeled / garbage payloads
    // WITHOUT the reference PCM the SNR invariant needs. The oracle
    // predicts all three bands per codec exactly from the injection rules
    // (corrupt non-flac rows decode to half-garbage → anomaly; corrupt
    // flac rows fail their CRC → decode_fail; everything else, including
    // 1 Hz-off duplicate-id rows, is the claimed tone → match); the Spark
    // side must earn them by decoding four codecs and projecting every
    // signal onto its claimed tone (margins swept in ToneProjectionSpec:
    // legit >= 0.9995 vs corrupt <= 0.537 at threshold 0.75).
    // Oracle: the tone-census bands follow the injection rules alone: rows at
    // index % 5000 == 17 carry byte-zeroed payloads (dup rows never collide
    // with that residue — they inherit id ≡ 10 (mod 5000) — so id identifies
    // them for every row); zeroed flac streams fail their frame CRC
    // (decode_fail), zeroed PCM/G.711 streams decode to half-garbage whose
    // claimed-tone projection collapses (anomaly), and every other payload IS
    // its claimed tone (match) — including duplicate-id rows, whose tone sits
    // 1 Hz off, unresolvable in a 25 ms window and by design left to the SNR
    // invariant. The Spark side must reproduce this by decode + projection
    // per row.
    QueryCase("q42_clips_tone_census", (s, dir) => {
      val n = clipCount(dir)
      FrequencyCheck.census(OracleTables.clips(s, n), sampleEvery = 1)
    }, Some(sfDir =>
      s"""WITH c AS (
         | SELECT codec,
         |   CAST(substr(clip_id, 6) AS BIGINT) % 5000 = 17 AS corrupt
         | FROM ${clipsSql(sfDir)}
         |)
         |SELECT codec,
         |  CAST(SUM(CASE WHEN NOT corrupt THEN 1 ELSE 0 END) AS BIGINT)
         |    AS tone_match_rows,
         |  CAST(SUM(CASE WHEN corrupt AND codec <> 'flac' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tone_anomaly_rows,
         |  CAST(SUM(CASE WHEN corrupt AND codec = 'flac' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS decode_fail_rows
         |FROM c GROUP BY codec""".stripMargin)),

    // Categorical-distribution drift (round-5 verdict #5): DriftCheck's
    // numeric KS/PSI can't see a MIX shifting (codec share, language
    // share). The planted shift relabels one fifth of the 16000 Hz
    // group's pcm_s16le rows to flac (id % 5 = 2) — a ~13-point share
    // swing in exactly one group; every other sr_hz group must read
    // NOT-drifted. The statistic (max per-category |share delta|) is
    // single-division integer math under an order-independent max, so the
    // oracle reproduces the doubles bit-for-bit (the q34 discipline).
    // Oracle: categorical mix drift: counts → shares → per-category |delta| →
    // order-independent max; the same relabel rule applied to the current
    // side, every arithmetic step mirrored so the doubles agree bitwise
    QueryCase("q45_categorical_drift", (s, dir) => {
      val n = clipCount(dir)
      val clips = OracleTables.clips(s, n)
      val cur = clips.withColumn("codec",
        when(expr("CAST(substr(clip_id, 6) AS BIGINT)") % 5 === 2 &&
          col("codec") === "pcm_s16le" && col("sr_hz") === 16000, "flac")
          .otherwise(col("codec")))
      DriftCheck.categoricalCompare(clips, cur, "codec", Seq("sr_hz"),
        maxShiftThreshold = 0.05)
    }, Some(sfDir =>
      s"""WITH refc AS (
         | SELECT sr_hz, codec AS cat, COUNT(*) AS ref_n
         | FROM ${clipsSql(sfDir)} GROUP BY 1, 2
         |), curc AS (
         | SELECT sr_hz,
         |   CASE WHEN CAST(substr(clip_id, 6) AS BIGINT) % 5 = 2
         |     AND codec = 'pcm_s16le' AND sr_hz = 16000
         |     THEN 'flac' ELSE codec END AS cat,
         |   COUNT(*) AS cur_n
         | FROM ${clipsSql(sfDir)} GROUP BY 1, 2
         |), grid AS (
         | SELECT COALESCE(r.sr_hz, c.sr_hz) AS sr_hz,
         |   COALESCE(r.cat, c.cat) AS cat,
         |   COALESCE(r.ref_n, 0) AS ref_n, COALESCE(c.cur_n, 0) AS cur_n
         | FROM refc r FULL OUTER JOIN curc c
         |   ON r.sr_hz = c.sr_hz AND r.cat = c.cat
         |), shifts AS (
         | SELECT sr_hz, cat,
         |   ABS(CAST(cur_n AS DOUBLE)
         |       / CAST(SUM(cur_n) OVER (PARTITION BY sr_hz) AS DOUBLE)
         |     - CAST(ref_n AS DOUBLE)
         |       / CAST(SUM(ref_n) OVER (PARTITION BY sr_hz) AS DOUBLE)) AS shift,
         |   COUNT(*) OVER (PARTITION BY sr_hz) AS n_cat
         | FROM grid
         |)
         |SELECT sr_hz, n_cat AS n_categories, shift AS max_share_shift,
         |  cat AS top_shift_category, shift > 0.05 AS drifted
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY sr_hz
         |        ORDER BY shift DESC, cat ASC) AS rn FROM shifts)
         |WHERE rn = 1""".stripMargin)),

    // Cross-modal transcript plausibility (round-5 verdict #8): transcript
    // token count vs dur_ms as a words-per-second band — the text↔audio
    // consistency check that needs NO decode (scan-only over two narrow
    // columns; the payload never loads). Null transcripts (the i%1000==7
    // injection) land in unscorable; the band edges catch rows whose two
    // modalities are individually valid but jointly impossible.
    // Oracle: words-per-second band from the stored columns alone — both
    // engines compute tokens * 1000 / dur_ms in double and bucket with the
    // same strict inequalities
    QueryCase("q46_transcript_plausibility", (s, dir) => {
      val n = clipCount(dir)
      CrossModalCheck.summary(OracleTables.clips(s, n), Seq("codec"))
    }, Some(sfDir =>
      s"""WITH c AS (
         | SELECT codec,
         |   CASE WHEN transcript IS NULL OR dur_ms IS NULL OR dur_ms <= 0
         |     THEN NULL
         |     ELSE CAST(LEN(STR_SPLIT(transcript, ' ')) AS DOUBLE)
         |       * CAST(1000.0 AS DOUBLE) / CAST(dur_ms AS DOUBLE) END AS wps
         | FROM ${clipsSql(sfDir)}
         |)
         |SELECT codec, COUNT(*) AS total_rows,
         |  CAST(SUM(CASE WHEN wps IS NOT NULL AND NOT wps < 0.5
         |    AND NOT wps > 40.0 THEN 1 ELSE 0 END) AS BIGINT) AS ok_rows,
         |  CAST(SUM(CASE WHEN wps < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS too_slow_rows,
         |  CAST(SUM(CASE WHEN wps > 40.0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS too_fast_rows,
         |  CAST(SUM(CASE WHEN wps IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS unscorable_rows
         |FROM c GROUP BY codec""".stripMargin)),

    // Language-mix drift over DERIVED labels (round-6 verdict next-round
    // #8): q13's lang-id heuristic feeds q45's categoricalCompare — zero
    // new operator code; proves the drift operator composes with computed
    // (not stored) categories. The plant overrides text with French
    // marker words for doc_id % 3 == 1 in source 'src3' only: exactly
    // src3's language mix shifts (every other source is byte-identical on
    // both sides, so its max shift is exactly 0.0 and top category falls
    // to the deterministic alphabetical tie-break).
    // Oracle: language-mix drift: the q13 lang-id recipe applied to both
    // sides (current = planted French override in src3), then the q45 grid
    // arithmetic grouped by source
    QueryCase("q55_langmix_drift", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val cur = docs.withColumn("text",
        when(col("source") === "src3" && col("doc_id") % 3 === 1,
          lit("le la les et des une est dans qui pas"))
          .otherwise(col("text")))
      def labeled(df: DataFrame): DataFrame =
        df.withColumn("lang_pred", TextAnalysis.langId(col("text")))
      DriftCheck.categoricalCompare(labeled(docs), labeled(cur),
        "lang_pred", Seq("source"), maxShiftThreshold = 0.05)
    }, Some(_ => {
      def langTable(rel: String): String =
        s"""(SELECT source,
           |  CASE WHEN regexp_matches(text, '[\\p{Han}\\p{Hiragana}\\p{Katakana}]') THEN 'zh'
           |       WHEN greatest(s_en, s_fr, s_es, s_de) > 0 THEN
           |         CASE WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
           |              WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
           |              WHEN s_en >= s_de THEN 'en'
           |              ELSE 'de' END
           |       ELSE 'und' END AS cat
           | FROM (
           |  SELECT source, text,
           |   len(list_filter(toks, x -> x IN ('the','and','of','to','is','in','that','it','was','for'))) AS s_en,
           |   len(list_filter(toks, x -> x IN ('le','la','les','et','des','une','est','dans','qui','pas'))) AS s_fr,
           |   len(list_filter(toks, x -> x IN ('el','los','las','una','que','por','con','para','es','del'))) AS s_es,
           |   len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','mit','von','zu'))) AS s_de
           |  FROM (SELECT source, text,
           |    list_transform(str_split(lower(text), ' '),
           |      x -> regexp_replace(x, '[^\\p{L}]', '', 'g')) AS toks FROM $rel)
           | ))""".stripMargin
      s"""WITH curd AS (
         | SELECT source,
         |   CASE WHEN source = 'src3' AND doc_id % 3 = 1
         |     THEN 'le la les et des une est dans qui pas'
         |     ELSE text END AS text
         | FROM documents
         |), refl AS (SELECT * FROM ${langTable("documents")}),
         |curl AS (SELECT * FROM ${langTable("curd")}),
         |refc AS (SELECT source, cat, COUNT(*) AS ref_n FROM refl GROUP BY 1, 2),
         |curc AS (SELECT source, cat, COUNT(*) AS cur_n FROM curl GROUP BY 1, 2),
         |grid AS (
         | SELECT COALESCE(r.source, c.source) AS source,
         |   COALESCE(r.cat, c.cat) AS cat,
         |   COALESCE(r.ref_n, 0) AS ref_n, COALESCE(c.cur_n, 0) AS cur_n
         | FROM refc r FULL OUTER JOIN curc c
         |   ON r.source = c.source AND r.cat = c.cat
         |), shifts AS (
         | SELECT source, cat,
         |   ABS(CAST(cur_n AS DOUBLE)
         |       / CAST(SUM(cur_n) OVER (PARTITION BY source) AS DOUBLE)
         |     - CAST(ref_n AS DOUBLE)
         |       / CAST(SUM(ref_n) OVER (PARTITION BY source) AS DOUBLE)) AS shift,
         |   COUNT(*) OVER (PARTITION BY source) AS n_cat
         | FROM grid
         |)
         |SELECT source, n_cat AS n_categories, shift AS max_share_shift,
         |  cat AS top_shift_category, shift > 0.05 AS drifted
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
         |        ORDER BY shift DESC, cat ASC) AS rn FROM shifts)
         |WHERE rn = 1""".stripMargin
    })),

    // Reference-FREE audio quality census (round 7): absolute signal
    // statistics over decoded PCM — RMS dBFS, hard-clip fraction, silence
    // fraction, DC ratio — banded into curation verdicts with NO golden
    // signal (the realistic 100 TB posture: AudioInvariantCheck needs a
    // reference PCM; most real ingest rows have none). The injected
    // corruption classes surface as distinct reference-free signatures,
    // each measured over the full feasible (freq, sr) space
    // (QualityBandSweep): zeroed pcm_s16le → half silence; zeroed flac →
    // decode failure; zeroed pcm_mulaw → a −32124 rail (clipping); zeroed
    // pcm_alaw → a loud DC constant; zeroed adpcm_ima → half silence
    // (zeroed block headers reset the predictor to 0). Plants add true
    // hard-clipping (amplitude 1.5, clamped — ≥49.5% of samples at the
    // rail) and a quiet clip (amplitude 0.02 → −37 dBFS). The oracle
    // predicts every band by id arithmetic; the Spark side EARNS it by
    // decoding all five formats and measuring.
    // Oracle: every band is a pure function of (id arithmetic, codec) —
    // measured over the full feasible parameter space by QualityBandSweep;
    // the Spark side earns these rows by decoding five formats and measuring
    // RMS/clip/silence/DC per clip
    QueryCase("q56_quality_census", (s, dir) => {
      val n = clipCount(dir)
      val clips = OracleTables.clips(s, n)
      val id = expr("CAST(substring(clip_id, 6, 12) AS BIGINT)")
      val quietU = udf((i: Long) => graft.io.ClipsGenerator.quietBytes(i, 25))
      val clipU = udf((i: Long) => graft.io.ClipsGenerator.clippedBytes(i, 25))
      val planted = clips
        .withColumn("bytes",
          when(id % 5000 === 21, quietU(id))
            .when(id % 5000 === 27, clipU(id))
            .otherwise(col("bytes")))
        .withColumn("codec",
          when(id % 5000 === 21 || id % 5000 === 27, lit("pcm_s16le"))
            .otherwise(col("codec")))
      graft.validate.QualityCensus.census(planted)
    }, Some(sfDir =>
      s"""WITH c AS (
         | SELECT CASE WHEN CAST(substr(clip_id, 6) AS BIGINT) % 5000
         |     IN (21, 27) THEN 'pcm_s16le' ELSE codec END AS codec,
         |   CAST(substr(clip_id, 6) AS BIGINT) % 5000 AS m,
         |   codec AS codec0
         | FROM ${clipsSql(sfDir)}
         |)
         |SELECT codec,
         |  CASE WHEN m = 21 THEN 'quiet'
         |       WHEN m = 27 THEN 'clipped'
         |       WHEN m = 17 THEN
         |         CASE codec0 WHEN 'flac' THEN 'undecodable'
         |              WHEN 'pcm_mulaw' THEN 'clipped'
         |              WHEN 'pcm_alaw' THEN 'dc_bias'
         |              ELSE 'half_silent' END
         |       ELSE 'nominal' END AS band,
         |  COUNT(*) AS clips
         |FROM c GROUP BY codec, band""".stripMargin)),

    // Container-metadata consistency census (round 7) — does the PAYLOAD
    // agree with the catalog? The generator's i%5000==13 injection makes
    // the sr_hz COLUMN lie (96000) while the bytes keep their true rate:
    // the range check (q02) flags the row, but only a decode proves which
    // side is lying. Spark earns each (codec, band) count by decoding the
    // container header of every row (five formats); zeroed-flac corrupt
    // rows (m=17) surface as undecodable, every other injection leaves
    // the container consistent. bytes never enter an exchange — only
    // (codec, band, count) triples do.
    // Oracle: every band is a pure function of (id arithmetic, codec): the
    // m=13 sr-column lie decodes fine but mismatches, zeroed-flac corrupt
    // rows fail decode, everything else (incl. zeroed pcm/G.711/ADPCM and
    // duplicate-id rows) keeps a consistent container
    QueryCase("q65_container_census", (s, dir) => {
      val n = clipCount(dir)
      val clips = OracleTables.clips(s, n)
      graft.validate.ContainerCheck.census(clips)
    }, Some(sfDir =>
      s"""SELECT codec,
         |  CASE WHEN m = 17 AND codec = 'flac' THEN 'undecodable'
         |       WHEN m = 13 THEN 'sr_mismatch'
         |       ELSE 'ok' END AS band,
         |  COUNT(*) AS clips
         |FROM (SELECT codec, CAST(substr(clip_id, 6) AS BIGINT) % 5000 AS m
         |      FROM ${clipsSql(sfDir)})
         |GROUP BY codec, band""".stripMargin)),

    // Resample-then-verify census (round 7) — the rate-unification REPAIR
    // step with its own verification: every clip is converted to the
    // 16 kHz model rate (deterministic exact-rational linear resampler)
    // and the claimed-tone projection re-runs on the CONVERTED signal, so
    // the census answers "which rows survive rate unification with their
    // content intact". Bands are measured over the full structural space
    // (ResampleSweep: clean ≥ 0.9928, corrupt ≤ 0.6928 or decode-fail,
    // threshold 0.85 at the midpoint); the oracle predicts every
    // (codec, band) count by id arithmetic, Spark EARNS it by decoding
    // five formats, resampling, and projecting. Conversion reads the rate
    // from the container, so the m=13 lying sr_hz column cannot skew it.
    // Oracle: every band a pure function of id arithmetic + codec under the
    // ResampleSweep-measured margins: corrupt flac fails decode, corrupt
    // pcm/G.711/ADPCM land ≤ 0.6928 < 0.85 (degraded), everything else —
    // incl. duplicate-id rows (1 Hz off, unresolvable) and m=13 rows
    // (conversion uses the container rate, not the lying column) — clears
    // 0.9928 ≥ 0.85
    QueryCase("q66_resample_census", (s, dir) => {
      val n = clipCount(dir)
      val clips = OracleTables.clips(s, n)
      graft.validate.ResampleCheck.census(clips)
    }, Some(sfDir =>
      s"""SELECT codec,
         |  CASE WHEN m = 17 AND codec = 'flac' THEN 'undecodable'
         |       WHEN m = 17 THEN 'degraded'
         |       ELSE 'resample_ok' END AS band,
         |  COUNT(*) AS clips
         |FROM (SELECT codec, CAST(substr(clip_id, 6) AS BIGINT) % 5000 AS m
         |      FROM ${clipsSql(sfDir)})
         |GROUP BY codec, band""".stripMargin)),

    // Embedding-column validation census (round 7) — the vector hygiene
    // scan before any ANN/near-dup stage trusts Array[Float] payloads: a
    // single NaN poisons every dot product, wrong dims crash the kernel,
    // zero vectors make cosine undefined, un-normalized vectors silently
    // re-weight similarity — and a NULL ELEMENT slides past every
    // three-valued-logic test to 'ok' unless banded explicitly. Plants by
    // vec_id residue (disjoint, so the oracle predicts every band by
    // pure id arithmetic): %97=23 NULL, %97=17 sliced to 32 dims,
    // %97=5 NaN at position 3, %97=31 NULL element at position 5,
    // %97=11 all-zero, %97=29 scaled 2× (norm 2 vs the 1e-3 unit
    // tolerance — organic vectors sit within 2e-7 of unit norm, measured
    // at all three sf). All native codegen'd HOFs (size/exists/
    // aggregate) — no UDF; only (band, count) pairs enter an exchange.
    // Oracle: disjoint residue plants → every band a pure function of vec_id;
    // organic rows are measured unit-norm (±2e-7) so they land ok
    QueryCase("q67_embedding_validate", (s, dir) => {
      import graft.validate.EmbeddingCheck
      val emb = tbl(s, dir, "embeddings")
      val m = col("vec_id") % 97
      val planted = emb.withColumn("embedding",
        when(m === 23, lit(null))
          .when(m === 17, slice(col("embedding"), 1, 32))
          .when(m === 5, transform(col("embedding"),
            (x, i) => when(i === 3, lit(Float.NaN)).otherwise(x)))
          .when(m === 31, transform(col("embedding"),
            (x, i) => when(i === 5, lit(null).cast("float")).otherwise(x)))
          .when(m === 11, transform(col("embedding"), _ => lit(0.0f)))
          .when(m === 29, transform(col("embedding"), x => x * 2.0f))
          .otherwise(col("embedding")))
      EmbeddingCheck.census(planted, "embedding", dim = 64)
    }, Some(_ =>
      """SELECT band, COUNT(*) AS vecs FROM (
        | SELECT CASE WHEN vec_id % 97 = 23 THEN 'null_vector'
        |   WHEN vec_id % 97 = 17 THEN 'wrong_dim'
        |   WHEN vec_id % 97 = 5 THEN 'non_finite'
        |   WHEN vec_id % 97 = 31 THEN 'null_element'
        |   WHEN vec_id % 97 = 11 THEN 'zero_vector'
        |   WHEN vec_id % 97 = 29 THEN 'not_unit_norm'
        |   ELSE 'ok' END AS band
        | FROM embeddings)
        |GROUP BY band""".stripMargin)),

    // Loudness-normalization planning census (round 7) — can each clip be
    // gained to the −20 dBFS model target? Blind gain ships re-amplified
    // silence, re-scaled flat-tops, and newly-clipped peaks; this census
    // routes each to its band BEFORE the gain pass. Margins measured over
    // the full structural space (GainSweep: every under-class ≤ 0.258 of
    // the rail boundary, the impulse plant at 2.00× over — no class
    // within 2× on either side). Plants by id residue (pcm container):
    // %5000=53 single-spike impulse (√400 crest at pinned 16 kHz →
    // would_clip), %5000=59 dead channel (silent), %5000=61 quiet tone
    // (gains +17 dB cleanly). Corrupt rows: µ-law rail → already_clipped,
    // flac → undecodable, the rest attenuate fine. The oracle predicts
    // every (codec, band) count by id arithmetic; Spark earns it by
    // decoding five formats and running the gain arithmetic per row.
    // Oracle: every band a pure function of (id arithmetic, codec) under the
    // GainSweep-measured margins: plants 53/59/61 land would_clip / silent /
    // normalize_ok on the forced pcm label; corrupt µ-law rails are
    // already_clipped, corrupt flac undecodable, every other row (incl.
    // corrupt pcm/A-law/ADPCM and duplicate ids) attenuates or gains cleanly
    QueryCase("q72_gain_census", (s, dir) => {
      val n = clipCount(dir)
      val clips = OracleTables.clips(s, n)
      val id = expr("CAST(substring(clip_id, 6, 12) AS BIGINT)")
      val impU = udf((i: Long) => graft.io.ClipsGenerator.impulseBytes(i, 25))
      val silU = udf((i: Long) => graft.io.ClipsGenerator.silentBytes(i, 25))
      val quiU = udf((i: Long) => graft.io.ClipsGenerator.quietBytes(i, 25))
      val planted = clips
        .withColumn("bytes",
          when(id % 5000 === 53, impU(id))
            .when(id % 5000 === 59, silU(id))
            .when(id % 5000 === 61, quiU(id))
            .otherwise(col("bytes")))
        .withColumn("codec",
          when(id % 5000 === 53 || id % 5000 === 59 || id % 5000 === 61,
            lit("pcm_s16le")).otherwise(col("codec")))
      graft.validate.GainCheck.census(planted)
    }, Some(sfDir =>
      s"""SELECT codec,
         |  CASE WHEN m = 53 THEN 'would_clip'
         |       WHEN m = 59 THEN 'silent'
         |       WHEN m = 61 THEN 'normalize_ok'
         |       WHEN m = 17 AND codec0 = 'flac' THEN 'undecodable'
         |       WHEN m = 17 AND codec0 = 'pcm_mulaw' THEN 'already_clipped'
         |       ELSE 'normalize_ok' END AS band,
         |  COUNT(*) AS clips
         |FROM (SELECT
         |    CASE WHEN CAST(substr(clip_id, 6) AS BIGINT) % 5000
         |      IN (53, 59, 61) THEN 'pcm_s16le' ELSE codec END AS codec,
         |    codec AS codec0,
         |    CAST(substr(clip_id, 6) AS BIGINT) % 5000 AS m
         |  FROM ${clipsSql(sfDir)})
         |GROUP BY codec, band""".stripMargin)),
  )
}
