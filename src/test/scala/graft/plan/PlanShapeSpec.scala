package graft.plan

import graft.TestSpark
import graft.dedup.Dedup
import graft.io.{ClipsGenerator, IcebergEmulation}
import graft.spec._
import graft.validate.{RowValidator, UniquenessCheck}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Plan-shape regression tests — the engine's core scale claims, pinned by
  * reading the physical plan instead of trusting the docs:
  *  1. constraint negations reach the parquet scan as PushedFilters,
  *  2. the wide binary payload is pruned from violation/summary scans,
  *  3. keys-only operators never shuffle payload columns.
  * A plan that silently regresses on any of these still passes every
  * value-level test but dies at 100 TB; this suite makes the regression a
  * test failure instead. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Clips parquet with the binary payload, written once for the suite. */
  lazy val clipsPath: String = {
    val p = Files.createTempDirectory("graft-planshape").toString + "/clips"
    IcebergEmulation.write(
      ClipsGenerator.clips(spark, 2000, numPartitions = 4, withErrors = true,
        maxSynthMs = 10).toDF(),
      ClipsGenerator.spec, p)
    p
  }

  private def planString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Shuffle output attributes with AQE off — AdaptiveSparkPlanExec hides
    * the exchanges from `collect` until stages materialize. */
  private def shuffleOutputs(mk: => org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try mk.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e.output.map(_.name).toSeq
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("range-constraint violation filter is pushed into the parquet scan") {
    val df = spark.read.parquet(clipsPath)
      .where(!Maximum(48000).holds(col("sr_hz")))
      .select("clip_id", "sr_hz")
    val plan = planString(df)
    // the negated maximum must appear as a pushed GreaterThan on sr_hz
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(plan.contains("GreaterThan(sr_hz,48000"),
      plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("violations and summary plans prune every unconstrained column") {
    val df = spark.read.parquet(clipsPath)
    // a spec whose payload column carries NO check: the scan must then skip
    // the binary column entirely. (With the full clips spec, bytes IS read —
    // but only because its NotNull check semantically requires it.)
    val spec = ClipsGenerator.spec.copy(columns = ClipsGenerator.spec.columns.map(c =>
      if (c.name == "bytes") c.copy(nullable = true, constraints = Nil) else c))
    val run = RowValidator.validate(df, spec)
    for (plan <- Seq(planString(run.violations), planString(run.summary))) {
      val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
      assert(readSchemas.nonEmpty, plan.take(2000))
      assert(!readSchemas.exists(_.contains("bytes")),
        s"unconstrained payload column read by a metadata-only check:\n${readSchemas.mkString("\n")}")
    }
  }

  test("uniqueness check shuffles projected keys only — no payload") {
    val shuffles = shuffleOutputs(
      UniquenessCheck.duplicateKeys(spark.read.parquet(clipsPath), Seq("clip_id")))
    assert(shuffles.nonEmpty)
    assert(!shuffles.exists(cols => cols.contains("bytes") || cols.contains("transcript")),
      s"payload in uniqueness shuffle: $shuffles")
  }

  test("exactKeep on keys-only consumer shuffles no text column") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val shuffles = shuffleOutputs(
      Dedup.exactKeep(docs, "doc_id", "text").select("doc_id"))
    assert(shuffles.nonEmpty)
    assert(!shuffles.exists(_.contains("text")),
      s"text column in exactKeep shuffle: $shuffles")
    // and it still computes the right thing
    assert(Dedup.exactKeep(docs, "doc_id", "text").select("doc_id").count() ===
      Dedup.exactKeep(docs, "doc_id", "text").count())
  }

  test("LSH bucket cap bounds a pathological duplicate bucket") {
    import spark.implicits._
    // 120 identical docs + 2 distinct near-dups: every band bucket of the
    // identical cluster has 120 members -> dropped at cap 50; the pair
    // outside the cluster survives
    val boiler = (1L to 120L).map(i => (i, "the same boilerplate text repeated here " * 3))
    val near = Seq(
      (200L, "a unique document about spark plans and exchanges today"),
      (201L, "a unique document about spark plans and exchanges tonight"))
    val docs = (boiler ++ near).toDF("doc_id", "text")
    val capped = Dedup.minhashCandidates(docs, "doc_id", "text", maxBucketSize = 50)
    val pairs = capped.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty && pairs.forall { case (a, b) => a >= 200 && b >= 200 },
      s"boilerplate cluster leaked past the cap: ${pairs.take(5).mkString(",")}")
    // monitoring view surfaces what was dropped
    val sig = Dedup.minhashCandidates(docs, "doc_id", "text", maxBucketSize = Int.MaxValue)
    assert(sig.count() >= 120L * 119 / 2) // uncapped: full quadratic cluster
    // and the capped candidate count is bounded far below quadratic
    assert(pairs.length < 100)
  }

  test("fused suite shuffles carry no binary payload (consumed in-scan)") {
    val clips = spark.read.parquet(clipsPath)
    val catalog = ClipsGenerator.catalog(spark, 2000, numPartitions = 4)
    val shuffles = shuffleOutputs(
      graft.validate.ValidationSuite.run(clips, catalog, ClipsGenerator.spec,
        graft.validate.ValidationSuite.Config(maxSynthMs = 10)))
    assert(shuffles.nonEmpty)
    assert(!shuffles.exists(_.contains("bytes")),
      s"payload entered a suite exchange: $shuffles")
  }

  test("tone census shuffles partial counts only — decode stays map-side") {
    val clips = spark.read.parquet(clipsPath)
    val shuffles = shuffleOutputs(
      graft.validate.FrequencyCheck.census(clips, sampleEvery = 1))
    assert(shuffles.nonEmpty)
    // the decode+projection UDF and the band classification must run
    // BEFORE the exchange: the shuffle carries (codec, partial sums), so
    // a 10^12-row census moves one row per codec per map task, never
    // payloads or per-row ratios
    assert(!shuffles.exists(s => s.contains("bytes") || s.contains("tone_ratio")),
      s"per-row data entered the census exchange: $shuffles")
  }

  test("cross-modal check reads two narrow columns — payload never scanned") {
    val clips = spark.read.parquet(clipsPath)
    val plan = planString(graft.validate.CrossModalCheck.summary(
      clips, Seq("codec")))
    val reads = plan.linesIterator.filter(_.contains("ReadSchema")).toList
    assert(reads.nonEmpty)
    // the whole check is transcript × dur_ms (+ the group column): a scan
    // that also reads `bytes` would turn a metadata check into a full
    // 100 TB payload read
    assert(!reads.exists(_.contains("bytes")),
      s"payload column entered the cross-modal scan:\n${reads.mkString("\n")}")
    assert(reads.exists(r => r.contains("transcript") && r.contains("dur_ms")),
      reads.mkString("\n"))
  }

  test("categorical drift shuffles counts per (group, category), never rows") {
    val clips = spark.read.parquet(clipsPath)
    val shifted = clips.withColumn("codec",
      when(col("sr_hz") === 16000, lit("flac")).otherwise(col("codec")))
    val shuffles = shuffleOutputs(
      graft.validate.DriftCheck.categoricalCompare(
        clips, shifted, "codec", Seq("sr_hz")))
    assert(shuffles.nonEmpty)
    // every exchange must carry either partial counts or the tiny
    // (group × category) grid — a row-carrying column (clip_id, bytes,
    // transcript) in any shuffle means the mix monitor stopped scaling
    assert(!shuffles.exists(s =>
      s.contains("bytes") || s.contains("clip_id") || s.contains("transcript")),
      s"row-level data entered a categorical-drift exchange: $shuffles")
  }

  test("decontamination never shuffles the corpus — broadcast suite, matched triples only") {
    // pre-parallelized corpus (localCheckpoint = leaf plan with 8
    // partitions): the scale case, where ensureParallelism's small-input
    // rebalance — the one exchange ALLOWED to carry text — is a no-op
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").repartition(8).localCheckpoint()
    val bench = docs.where(col("doc_id") % 50 === 7)
      .select(col("doc_id").as("bench_id"), col("text"))
    val shuffles = shuffleOutputs(Dedup.decontaminate(docs, "doc_id", "text",
      bench, "bench_id", "text", n = 5))
    // the corpus join must be a broadcast hash join: the only exchanges
    // allowed are (a) inside the SMALL benchmark side pre-broadcast and
    // (b) the post-match grouped aggregation — neither may carry `text`
    // (an exploded-corpus text shuffle is n× the corpus volume)
    assert(!shuffles.exists(_.contains("text")),
      s"corpus text entered a decontamination exchange: $shuffles")
    assert(shuffles.exists(_.exists(_.startsWith("doc_id"))),
      s"expected the matched-triples aggregation exchange: $shuffles")
  }

  test("split+sample summary is scan-only: counts are the only exchange") {
    import graft.sample.Sampling
    val clips = spark.read.parquet(clipsPath)
    val withSplit = Sampling.assignSplits(clips, "clip_id",
      Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
    val flag = Sampling.sampleFlag(clips, "clip_id", "codec",
      Map("flac" -> 0.5), defaultRate = 0.0625)
    val shuffles = shuffleOutputs(
      withSplit.groupBy(col("codec"), col("split"))
        .agg(count(lit(1)).as("total_rows"),
          sum(when(flag, 1L).otherwise(0L)).as("sampled_rows")))
    // one partial-agg exchange keyed (codec, split); no row-level column
    assert(shuffles.nonEmpty)
    assert(!shuffles.exists(s =>
      s.contains("bytes") || s.contains("clip_id") || s.contains("transcript")),
      s"row-level data entered the split/sample summary exchange: $shuffles")
    // and the underlying membership filter is a pure scan: zero exchanges
    assert(shuffleOutputs(Sampling.stratifiedSample(clips, "clip_id",
      "codec", Map("flac" -> 0.5), 0.0625)).isEmpty,
      "stratifiedSample must not shuffle — it is a per-row filter")
  }

  test("incremental dedup: corpus text never re-read, store side is fingerprints-only") {
    // the q51 ingest shape: the frozen corpus is represented ONLY by its
    // fingerprint store; the classification plan must (a) scan the
    // documents parquet exactly once — for the BATCH side — never for the
    // corpus, (b) read only (fingerprint, keeper_id) from the store, and
    // (c) shuffle no text column (ids/fingerprints only)
    val docsPath = "/root/testdata/sf0.001/documents.parquet"
    val docs = spark.read.parquet(docsPath)
    val storeDir = Files.createTempDirectory("graft-fpstore-pin").toString + "/store"
    Dedup.fingerprintStore(docs, "doc_id", "text").write.parquet(storeDir)
    val store = spark.read.parquet(storeDir)
    def classified = Dedup.incrementalExact(
      docs.where(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")),
      "doc_id", "text", store)
    val plan = planString(classified)
    val docScans = plan.linesIterator.count(_.contains("documents.parquet"))
    assert(docScans === 1,
      s"expected exactly one documents scan (the batch side), got $docScans:\n" +
        plan.linesIterator.filter(_.contains("parquet")).mkString("\n"))
    val storeReads = plan.linesIterator
      .filter(l => l.contains("store") && l.contains("ReadSchema")).toList
    assert(storeReads.nonEmpty, plan.take(2000))
    assert(!storeReads.exists(_.contains("text")),
      s"store scan reads more than fingerprints:\n${storeReads.mkString("\n")}")
    val shuffles = shuffleOutputs(classified)
    assert(!shuffles.exists(_.contains("text")),
      s"text entered an incremental-dedup exchange: $shuffles")
  }

  test("incremental near-dup: corpus text never read, only batch + stores feed the plan") {
    // the q58 ingest shape: the frozen corpus exists ONLY as its banded
    // signature store + shingle store; with the batch coming from its own
    // source, the classification plan must not touch the corpus parquet
    // at all, and no `text` column may enter any exchange (the batch's
    // shingle sets — the verify payload — may, text itself never)
    val docsPath = "/root/testdata/sf0.001/documents.parquet"
    val docs = spark.read.parquet(docsPath)
    val base = Files.createTempDirectory("graft-mhstore-pin").toString
    Dedup.minhashStore(docs, "doc_id", "text").write.parquet(s"$base/mh")
    Dedup.shingleStore(docs, "doc_id", "text").write.parquet(s"$base/sh")
    // write the batch at full parallelism: a real ingest batch arrives in
    // many partitions, so the small-input rebalance guard (which would
    // round-robin (doc_id, text) on a single-file toy input) stays a no-op
    docs.where(col("doc_id") < 30)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.parquet(s"$base/batch")
    def classified = Dedup.incrementalMinhash(
      spark.read.parquet(s"$base/batch"), "doc_id", "text",
      spark.read.parquet(s"$base/mh"), spark.read.parquet(s"$base/sh"))
    val plan = planString(classified)
    assert(!plan.contains("documents.parquet"),
      "corpus parquet entered the incremental near-dup plan:\n" +
        plan.linesIterator.filter(_.contains("parquet")).mkString("\n"))
    val shuffles = shuffleOutputs(classified)
    assert(!shuffles.exists(_.contains("text")),
      s"text entered an incremental near-dup exchange: $shuffles")
  }

  test("checkpoint resume runs a constant number of jobs (batched, not per-partition)") {
    val sc = spark.sparkContext
    val tmp = Files.createTempDirectory("graft-ckpt-jobs").toString
    val df = spark.read.parquet(clipsPath)
    sc.setJobGroup("ckpt-jobs", "checkpoint job-count regression")
    try {
      graft.checkpoint.ManifestCheckpoint.runResumable(spark, df,
        ClipsGenerator.spec, s"$tmp/manifest", s"$tmp/out")
    } finally sc.clearJobGroup()
    Thread.sleep(500) // status store is fed asynchronously
    val jobs = sc.statusTracker.getJobIdsForGroup("ckpt-jobs").length
    // 5 codec partitions; the round-1 per-partition loop ran ~2 jobs per
    // partition (+writes). Batched: pending-scan + violations write +
    // summary/fingerprint agg + manifest append ≈ 4-6 incl. AQE stages.
    assert(jobs > 0 && jobs <= 8, s"expected constant job count, got $jobs")
  }

  test("integral Long bound pushes down as a long filter (no lossy cast)") {
    // BigDecimal bounds must not regress pushdown: an integral bound stays
    // an integral literal, so the comparison reaches the scan unchanged
    val df = spark.read.parquet(clipsPath)
      .where(!Minimum(8000).holds(col("sr_hz")))
      .select("clip_id", "sr_hz")
    val pushed = planString(df).linesIterator
      .filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("LessThan(sr_hz,8000)"), pushed)
  }

  test("codec predicate prunes partitions on the emulated-Iceberg scan") {
    // SURVEY §4.2 claims partition pruning on the codec-partitioned layout;
    // pin it by reading the scan's PartitionFilters (a pruned scan carries
    // the codec predicate there, NOT in PushedFilters/data filters)
    val df = spark.read.parquet(clipsPath).where(col("codec") === "flac")
      .select("clip_id", "sr_hz")
    val scanLines = planString(df).linesIterator
      .filter(_.contains("PartitionFilters")).mkString("\n")
    assert(scanLines.contains("codec"), s"no partition filter:\n$scanLines")
    assert(scanLines.contains("= flac"), scanLines)
    // and the partition count actually shrinks: 1 of 5 codec dirs selected
    val scan = df.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scan.nonEmpty, "no FileSourceScanExec found")
    assert(scan.get.selectedPartitions.partitionCount === 1,
      s"expected 1 selected partition, got ${scan.get.selectedPartitions.partitionCount}")
  }

  /** The in-memory catalog forgets tables between JVMs but the warehouse
    * dir persists — clear both so a managed-table create never collides. */
  private def dropBucketedTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.io.File(s"/root/repo/target/test-warehouse/$name")
    if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
  }

  test("bucketed clips table: uniqueness check runs with ZERO exchanges") {
    // bucket-by-key is the 100 TB shape: the uniqueness groupBy's only
    // shuffle disappears because the scan's HashPartitioning(clip_id)
    // already satisfies the aggregation's required distribution
    val clips = ClipsGenerator.clips(spark, 2000, numPartitions = 4,
      withErrors = true, maxSynthMs = 10).toDF()
    dropBucketedTable("clips_bucketed_test")
    IcebergEmulation.writeBucketed(clips, ClipsGenerator.spec,
      "clips_bucketed_test", buckets = 4)
    val bucketed = spark.table("clips_bucketed_test")
    val shuffles = shuffleOutputs(
      UniquenessCheck.duplicateKeys(bucketed, Seq("clip_id")))
    assert(shuffles.isEmpty, s"bucketed uniqueness still shuffles: $shuffles")
    // and the answer matches the unbucketed path
    val viaBucketed = UniquenessCheck.duplicateKeys(bucketed, Seq("clip_id")).count()
    val viaPlain = UniquenessCheck.duplicateKeys(clips, Seq("clip_id")).count()
    assert(viaBucketed === viaPlain)
    assert(viaBucketed > 0) // injected duplicates exist
  }

  test("co-bucketed referential join runs with ZERO exchanges") {
    // clips and the transcript catalog bucketed the SAME way on clip_id:
    // the left-anti referential join is co-located — no shuffle on either
    // side (the fact-table side of this join is the big cost at 10^12 rows)
    val clips = ClipsGenerator.clips(spark, 2000, numPartitions = 4,
      withErrors = true, maxSynthMs = 10).toDF()
    val catalog = ClipsGenerator.catalog(spark, 2000, numPartitions = 4)
    val catSpec = graft.spec.TableSpec("catalog", Seq(
      graft.spec.ColumnSpec("clip_id", org.apache.spark.sql.types.StringType),
      graft.spec.ColumnSpec("transcript", org.apache.spark.sql.types.StringType)),
      keyCols = Seq("clip_id"))
    dropBucketedTable("cat_bucketed_test")
    IcebergEmulation.writeBucketed(catalog, catSpec, "cat_bucketed_test", buckets = 4)
    // clips_bucketed_test was written by the previous test; rewrite if absent
    if (!spark.catalog.tableExists("clips_bucketed_test")) {
      dropBucketedTable("clips_bucketed_test")
      IcebergEmulation.writeBucketed(clips, ClipsGenerator.spec,
        "clips_bucketed_test", buckets = 4)
    }
    // disable auto-broadcast: a stats-based BroadcastHashJoin would make
    // "zero shuffles" vacuously true without proving co-location — the
    // claim under test is the sort-merge join over pre-bucketed sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val shuffles = try shuffleOutputs(
      graft.validate.ReferentialCheck.orphans(
        spark.table("clips_bucketed_test"),
        spark.table("cat_bucketed_test").select("clip_id"),
        Seq("clip_id")))
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(shuffles.isEmpty, s"co-bucketed join still shuffles: $shuffles")
    // value equality vs the plain path
    val viaBucketed = graft.validate.ReferentialCheck.orphans(
      spark.table("clips_bucketed_test"),
      spark.table("cat_bucketed_test").select("clip_id"), Seq("clip_id")).count()
    val viaPlain = graft.validate.ReferentialCheck.orphans(
      clips, catalog.select("clip_id"), Seq("clip_id")).count()
    assert(viaBucketed === viaPlain)
    assert(viaBucketed > 0) // dropped catalog rows exist by construction
  }

  test("capBuckets adds no exchange beyond the uncapped self-join plan") {
    import spark.implicits._
    val docs = (1L to 40L).map(i =>
      (i, s"document number $i about spark exchanges and windows")).toDF("doc_id", "text")
    def exchanges(maxBucket: Int): Int = {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try Dedup.minhashCandidates(docs, "doc_id", "text", maxBucketSize = maxBucket)
        .queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e
        }.length
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    val capped = exchanges(50)
    val uncapped = exchanges(Int.MaxValue)
    // the window's partitionBy(bucketCols) exchange+sort is exactly what the
    // sort-merge self-join needs, so Catalyst reuses it (Dedup.capBuckets doc)
    assert(capped === uncapped,
      s"cap added exchanges: capped=$capped uncapped=$uncapped")
  }

  test("minhash verify computes shingle sets only above the candidate-id semi-join") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Dedup.minhashNearDups(docs, "doc_id", "text")
        .queryExecution.executedPlan
      // the O(len²) array_distinct projection: every instance must have the
      // left-semi join on the candidate ids below it, so shingle sets are
      // computed for candidate rows only
      val setProjects = plan.collect {
        case p: org.apache.spark.sql.execution.ProjectExec
            if p.projectList.exists(_.exists(
              _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ArrayDistinct])) => p
      }
      assert(setProjects.nonEmpty, s"no shingle-set projection:\n$plan")
      assert(setProjects.forall(_.collectFirst {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if j.joinType.sql == "LEFT SEMI" &&
              j.leftKeys.exists(_.references.exists(_.name == "doc_id")) => j
      }.isDefined), s"a shingle-set projection without the semi-join below it:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("oversizedBuckets reports dropped buckets for monitoring") {
    import spark.implicits._
    val df = Seq.fill(30)("k").zipWithIndex.map(_.swap).toDF("id", "k")
    val over = Dedup.oversizedBuckets(df, Seq("k"), maxBucket = 10).collect()
    assert(over.length === 1)
    assert(over.head.getAs[Long]("bucket_size") === 30L)
  }

  test("heavy hitters: the candidate semi-join sits below every exchange") {
    import spark.implicits._
    // the whole point of the sketch pass: the singleton tail dies at the
    // scan (broadcast left_semi against the candidate set — round 8
    // replaced the literal IN, whose codegen blows up past ~10⁴
    // candidates), so no exchange ever carries the full vocabulary — a
    // semi-join-free exchange means the exact pass regressed to the naive
    // full groupBy
    // localCheckpoint = leaf RDD plan; a LocalRelation would let the
    // optimizer evaluate the candidate filter at plan time and hide it
    val toks = (1 to 4000).map(i => s"tok${i % 37}").toDF("token")
      .repartition(4).localCheckpoint()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.sketch.HeavyHitters
        .overThreshold(toks, "token", threshold = 50L, k = 64)
        .queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty)
      assert(exchanges.forall(_.collectFirst {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if j.joinType.sql == "LEFT SEMI" => j
      }.isDefined),
        "an exchange without the broadcast candidate semi-join below it")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("bloom decontamination kills corpus n-grams map-side, pre-exchange") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").repartition(8).localCheckpoint()
    val bench = docs.where(col("doc_id") % 50 === 7)
      .select(col("doc_id").as("bench_id"), col("text"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Dedup.decontaminateBloom(docs, "doc_id", "text",
        bench, "bench_id", "text", n = 5)
        .queryExecution.executedPlan
      // the exploded corpus n-gram stream must pass the bloom UDF filter
      // BEFORE any exchange — at least one exchange subtree contains
      // explode + the UDF kill; a plan where the UDF sits above every
      // exchange shuffles the full n× token volume first
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty)
      val killed = exchanges.exists { e =>
        val hasGen = e.collectFirst {
          case g: org.apache.spark.sql.execution.GenerateExec => g
        }.isDefined
        val hasUdfFilter = e.collectFirst {
          case f: org.apache.spark.sql.execution.FilterExec
              if f.condition.toString.contains("UDF") => f
        }.isDefined
        hasGen && hasUdfFilter
      }
      assert(killed, "no exchange has explode + bloom-UDF filter below it")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
