package graft.dedup

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val base = "the quick brown fox jumps over the lazy dog and runs far away today"
  val near = "the quick brown fox jumps over the lazy cat and runs far away today"
  val other = "completely different content about spark distributed query engines here"

  lazy val docs = Seq(
    (1L, base), (2L, base), // exact dups
    (3L, near), // near dup of 1/2
    (4L, other),
    (5L, "The Quick Brown Fox jumps over the lazy dog and runs far away today"),
  ).toDF("doc_id", "text")

  test("exact dedup keeps smallest id per normalized-fingerprint group") {
    val kept = Dedup.exactKeep(docs, "doc_id", "text")
    // 1==2 exactly; 5 differs only by case → same normalized fingerprint
    assert(kept.select("doc_id").as[Long].collect().sorted === Array(1L, 3L, 4L))
  }

  test("shingle Jaccard: near pair high, unrelated pair ~0") {
    val sh = docs.select($"doc_id", Dedup.shingles($"text", 3).as("sh"))
    val a = sh.where($"doc_id" === 1).head().getSeq[String](1).toSet
    val b = sh.where($"doc_id" === 3).head().getSeq[String](1).toSet
    val c = sh.where($"doc_id" === 4).head().getSeq[String](1).toSet
    val jNear = a.intersect(b).size.toDouble / a.union(b).size
    assert(jNear > 0.5)
    assert(a.intersect(c).isEmpty)
  }

  test("minhash LSH finds near-dups, skips unrelated, verified by Jaccard") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // exact
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated
    // jaccard column is exact: the (1,2) pair scores 1.0
    val j12 = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .where($"id_a" === 1 && $"id_b" === 2).head().getAs[Double]("jaccard")
    assert(j12 === 1.0)
  }

  test("simhash: identical texts collide, near texts within small hamming") {
    val sims = docs.select($"doc_id", Dedup.simhashSig($"text", 64).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(1L) === sims(2L))
    assert(java.lang.Long.bitCount(sims(1L) ^ sims(3L)) <= 16)
    assert(java.lang.Long.bitCount(sims(1L) ^ sims(4L)) > 16)
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("embedding near-dups via hyperplane buckets + cosine verify") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.1f)),
      (2L, Seq(0.99f, 0.01f, 0.0f, 0.1f)), // near-parallel to 1
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(vecs, "vec_id", "embedding",
      dim = 4, cosThreshold = 0.95, planes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("simhash maxHamming=0 (single 64-bit chunk) finds exact-duplicate pairs") {
    // regression: (1L << 64) - 1 == 0 under Java's mod-64 shifts zeroed the
    // chunk mask, collapsing every row into one bucket (which the cap then
    // dropped, silently returning nothing)
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("jaccardScores scores corpus ids below the query id too") {
    // regression: an id_a < id_b pair-dedup filter silently dropped half
    // the (query, corpus) score space
    val scores = Dedup.jaccardScores(docs, docs.where($"doc_id" === 3),
      "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 3 is a near-dup of docs 1 and 2 (both BELOW the query id)
    assert(scores.contains((3L, 1L)) && scores.contains((3L, 2L)))
    assert(!scores.contains((3L, 3L))) // self-pair excluded
  }

  test("candidate generation is bucket-local (no O(n^2) pairs on real data)") {
    val docs500 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cands = Dedup.minhashCandidates(docs500, "doc_id", "text")
    val nPairs = cands.count()
    // 500 docs → 124,750 possible pairs; LSH must prune hard
    assert(nPairs < 20000, s"candidate explosion: $nPairs")
  }

  test("native MinHashSignature is bit-identical to the composed column form") {
    // the native expression must reproduce xxhash64(k, shingle) EXACTLY —
    // banding parameters and measured recall were derived from this family
    val docs500 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sh = Dedup.shingles(col("text"), 3)
    val both = docs500.select(col("doc_id"),
      Dedup.minhashSignature(sh, 64).as("nat"),
      Dedup.minhashSignatureColumnForm(sh, 64).as("hof")).collect()
    assert(both.length === 500)
    assert(both.forall(r => r.getSeq[Long](1) == r.getSeq[Long](2)),
      both.collect { case r if r.getSeq[Long](1) != r.getSeq[Long](2) =>
        r.getLong(0).toString }.take(3))
  }

  test("native MinHashSignature: interpreted eval agrees with codegen") {
    val df = Seq(Seq("a b c", "b c d"), Seq("x")).toDF("sh")
    val viaCodegen = df.select(Dedup.minhashSignature(col("sh"), 16))
      .collect().map(_.getSeq[Long](0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val viaEval = df.select(Dedup.minhashSignature(col("sh"), 16))
        .collect().map(_.getSeq[Long](0))
      assert(viaCodegen.toSeq === viaEval.toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("native WordShingles matches the composed column form on real docs") {
    val docs500 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val both = docs500.select(col("doc_id"),
      Dedup.shingles(col("text"), 3).as("nat"),
      Dedup.shinglesColumnForm(col("text"), 3).as("hof")).collect()
    assert(both.length === 500)
    assert(both.forall(r => r.getSeq[String](1) == r.getSeq[String](2)),
      both.collect { case r if r.getSeq[String](1) != r.getSeq[String](2) =>
        r.getLong(0).toString }.take(3))
  }

  test("native WordShingles edge rows: short/empty/null-token inputs") {
    import org.apache.spark.sql.graft.ColumnBridge
    def sh(n: Int) = ColumnBridge.column(
      WordShingles(ColumnBridge.expression(col("toks")), n))
    val df = Seq(
      Seq("a", "b"),          // fewer than n=3 → one joined shingle
      Seq[String](),          // empty → [""]
      Seq("a", null, "b", "c") // null skipped inside joins (concat_ws)
    ).toDF("toks")
    val got = df.select(sh(3)).collect().map(_.getSeq[String](0))
    assert(got(0) === Seq("a b"))
    assert(got(1) === Seq(""))
    // composed-form parity on the null-bearing row
    val hof = df.select(
      when(size(col("toks")) < 3, array(concat_ws(" ", col("toks"))))
        .otherwise(transform(sequence(lit(0), size(col("toks")) - 3),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(3))))))
      .collect().map(_.getSeq[String](0))
    assert(got.toSeq === hof.toSeq)
  }

  test("native SimHashSig is bit-identical to the composed xxhash64 form") {
    val docs500 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (bits <- Seq(64, 60)) {
      val both = docs500.select(col("doc_id"),
        Dedup.simhashSig(col("text"), bits).as("nat"),
        Dedup.simhashSigColumnForm(col("text"), bits,
          t => xxhash64(t)).as("hof")).collect()
      assert(both.forall(r => r.getLong(1) == r.getLong(2)),
        s"bits=$bits: " + both.collect {
          case r if r.getLong(1) != r.getLong(2) => r.getLong(0).toString
        }.take(3))
    }
  }

  test("simhashSig with a non-default hash keeps the composed path (md5 oracle family)") {
    // the md5 family must NOT silently switch to the native xxhash64 path
    val df = Seq("the quick brown fox").toDF("text")
    val md5Sig = df.select(Dedup.simhashSig(col("text"), 60,
      Dedup.TokenHashFamily.Custom(graft.text.TextAnalysis.md5Hash60))).head().getLong(0)
    val xxSig = df.select(Dedup.simhashSig(col("text"), 60)).head().getLong(0)
    assert(md5Sig !== xxSig) // different families, different signatures
  }

  test("native MinHashSignature: null shingle elements hash as bare seed") {
    // parity with xxhash64's null-skipping in the composed form
    val df = Seq((1L, Seq[String]("a", null, "b"))).toDF("id", "sh")
    val both = df.select(
      Dedup.minhashSignature(col("sh"), 8).as("nat"),
      Dedup.minhashSignatureColumnForm(col("sh"), 8).as("hof")).head()
    assert(both.getSeq[Long](0) == both.getSeq[Long](1))
  }

  test("composed inputs never execute at plan-construction time (r3 verdict #2)") {
    // ensureParallelism used to read queryExecution.toRdd.getNumPartitions,
    // which under AQE finalizes the physical plan — passing a DataFrame
    // containing joins/aggregations into jaccardScores/minhashNearDups
    // eagerly executed its shuffle stages while BUILDING the plan. The
    // helper now gates on scan-shaped plans; a composed input must run
    // ZERO jobs until an action is called.
    val sc = spark.sparkContext
    val composed = docs.groupBy(col("doc_id"))
      .agg(first(col("text")).as("text"))
    sc.setJobGroup("aqe-safe", "plan-construction job pin")
    val plan =
      try {
        val p = Dedup.jaccardScores(composed,
          composed.where(col("doc_id") < 2), "doc_id", "text", threshold = 0.2)
        assert(p.columns.contains("jaccard")) // plan fully constructed
        p
      } finally sc.clearJobGroup()
    // subquery hole (round-4 review): a Filter embedding a scalar subquery
    // is node-level narrow but still executes the subquery stage when AQE
    // finalizes — the gate must catch it via the expression walk
    docs.createOrReplaceTempView("aqe_docs")
    val withSubquery = spark.sql(
      "SELECT * FROM aqe_docs WHERE doc_id < (SELECT max(doc_id) FROM aqe_docs)")
    sc.setJobGroup("aqe-safe", "plan-construction job pin (subquery)")
    try {
      Dedup.jaccardScores(withSubquery,
        withSubquery.where(col("doc_id") < 2), "doc_id", "text", threshold = 0.2)
      ()
    } finally sc.clearJobGroup()
    Thread.sleep(500) // status store is fed asynchronously
    val jobs = sc.statusTracker.getJobIdsForGroup("aqe-safe")
    assert(jobs.isEmpty,
      s"plan construction ran ${jobs.length} job(s) — composed input executed eagerly")
    // and the composed-input pipeline still computes the right answer
    val got = plan.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Dedup.jaccardScores(docs, docs.where(col("doc_id") < 2),
      "doc_id", "text", threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === direct)
  }

  test("scan inputs still rebalance below-parallelism partitioning") {
    // the AQE gate must not disable the original purpose: a single-file
    // scan (1 partition) feeding the compute-dense signature stage widens
    // to the session's parallelism
    val docs500 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val scored = Dedup.jaccardScores(docs500,
      docs500.where(col("doc_id") < 2), "doc_id", "text", threshold = 0.99)
    val parts = scored.rdd.getNumPartitions
    assert(parts >= spark.sparkContext.defaultParallelism / 2,
      s"scan input stayed at $parts partitions")
  }

  test("cascade threads survivors: each stage sees only what the last kept") {
    // doc 2 is an exact dup of 1 (stage 1 removes it) AND a near-dup of 3
    // (stage 2 would also flag it) — the cascade must remove it ONCE, at
    // the first stage, and stage 2 must then pair 3 only against 1.
    // Stage 3 receives an id already removed at stage 1 (2L) plus an id it
    // was never shown (99L): both must be ignored by the inner match.
    val report = Dedup.cascade(docs, "doc_id", Seq(
      "exact" -> (sv => sv.join(
        Dedup.exactKeep(sv, "doc_id", "text").select("doc_id"),
        Seq("doc_id"), "left_anti")),
      "near" -> (sv => Dedup.minhashNearDups(sv, "doc_id", "text",
        threshold = 0.55, maxBucketSize = Int.MaxValue)
        .select(col("id_b").as("doc_id"))),
      "noisy" -> (sv => Seq(2L, 99L).toDF("doc_id"))))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("removed"), r.getAs[Long]("surviving"))).toMap
    // input {1,2,3,4,5}: exact removes {2,5} (fp groups {1,2,5}), near
    // removes 3 (pair 1-3: one word of 14 differs → trigram jaccard
    // 9/15 = 0.6 ≥ 0.55; threshold sits above the 0.5 of the case-variant
    // pair 1-5, which stage 1 already removed anyway), the noisy stage
    // removes nothing
    assert(report("exact") === ((2L, 3L)), report.toString)
    assert(report("near") === ((1L, 2L)), report.toString)
    assert(report("noisy") === ((0L, 2L)), report.toString)
  }

  test("cascade stage order changes who survives (composition is real)") {
    // run the same two stages in both orders over docs: exact-first keeps
    // {1, 4} ∪ near-survivors; near-first lets the near stage see the
    // exact dups (2 pairs with 1 at jaccard 1.0) before exact dedup runs
    val exactStage = "exact" -> ((sv: org.apache.spark.sql.DataFrame) =>
      sv.join(Dedup.exactKeep(sv, "doc_id", "text").select("doc_id"),
        Seq("doc_id"), "left_anti"))
    val nearStage = "near" -> ((sv: org.apache.spark.sql.DataFrame) =>
      Dedup.minhashNearDups(sv, "doc_id", "text",
        threshold = 0.55, maxBucketSize = Int.MaxValue)
        .select(col("id_b").as("doc_id")))
    val a = Dedup.cascade(docs, "doc_id", Seq(exactStage, nearStage))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("removed")).toMap
    val b = Dedup.cascade(docs, "doc_id", Seq(nearStage, exactStage))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("removed")).toMap
    // exact-first: exact removes {2,5}, near removes {3}. near-first: the
    // near stage sees the exact dups too and removes {2,3} (jaccard 1.0
    // and 0.6 vs doc 1; the case-variant 5 sits at 0.5 < 0.55 — shingles
    // are case-sensitive, fingerprints are not), leaving exact to remove
    // {5}. Same final survivor count, different per-stage attribution —
    // which is the composition fact a report must get right.
    assert(a("exact") + a("near") === b("near") + b("exact"))
    assert(a("exact") === 2L && b("exact") === 1L,
      s"near-first must steal removals from the exact stage: $a vs $b")
  }

  test("connected components: chains collapse, clusters separate, fixpoint is min id") {
    // a 6-chain (multiple propagation+compression rounds), a triangle, a
    // lone pair — three components keyed by their min ids
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // deterministic: a rerun (and a reordered/reversed pair list) agrees
    val shuffled = Seq((21L, 20L), (6L, 5L), (12L, 10L), (5L, 4L), (12L, 11L),
      (4L, 3L), (11L, 10L), (3L, 2L), (2L, 1L)).toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(shuffled, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap === comp)
    // empty pair list → empty result, no iteration
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "id_a", "id_b").isEmpty)
    // non-convergence within maxIters fails loudly, never returns a
    // wrong coarsening (a 6-chain needs >1 round)
    intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, "id_a", "id_b", maxIters = 1).count()
    }
    // NULL endpoints are rejected loudly, not silently disconnected
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(
        Seq((Some(1L), Some(2L)), (None, Some(3L)))
          .toDF("id_a", "id_b"), "id_a", "id_b")
    }
  }

  test("default skew cap is a no-op on the documents corpus (sf0.1)") {
    // the driver queries run minhash/simhash dedup with the DEFAULT cap —
    // the 100 TB configuration — while their oracles assert exact recall;
    // this pin is what licenses that: on the real corpus at the LARGEST
    // test scale no bucket comes near DefaultMaxBucketSize, so capped ≡
    // uncapped (at sf0.01 it is bounded a priori: 500 docs < 1000). The
    // q44 cascade corpus adds ≤30 planted rows with unique or
    // pair-local texts — it cannot push any bucket past the cap either.
    val real = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val maxMh = Dedup.minhashBanded(real, "doc_id", "text")
      .groupBy("_band", "_bandhash").count()
      .agg(max("count")).as[Long].head()
    assert(maxMh <= Dedup.DefaultMaxBucketSize,
      s"largest minhash band bucket $maxMh exceeds the default cap — " +
        "the capped driver queries would silently lose recall")
    val sh = Dedup.simhashBanded(real, "doc_id", "text", maxHamming = 3,
      bits = 60, family = Dedup.TokenHashFamily.Custom(
        graft.text.TextAnalysis.md5Hash60))
    val maxSh = sh.groupBy("_chunk", "_cv").count()
      .agg(max("count")).as[Long].head()
    assert(maxSh <= Dedup.DefaultMaxBucketSize,
      s"largest simhash chunk bucket $maxSh exceeds the default cap")
  }

  test("clusterKeepers closes detect -> cluster -> remove: one keeper per cluster") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("id_a", "id_b")
    val rep = Dedup.clusterKeepers(pairs, "id_a", "id_b")
      .collect().map(r => r.getAs[Long]("component_id") ->
        ((r.getAs[Long]("component_size"), r.getAs[Long]("keeper_id"),
          r.getAs[Long]("removed")))).toMap
    assert(rep === Map(1L -> ((6L, 1L, 5L)), 10L -> ((3L, 10L, 2L)),
      20L -> ((2L, 20L, 1L))))
    // keeper == component label for every cluster (the min-label invariant
    // the aggregate must reproduce, not assume)
    assert(rep.forall { case (cid, (_, keeper, _)) => cid == keeper })
    // the implied removal set: everything except each cluster's min
    assert(Dedup.nonKeeperIds(pairs, "id_a", "id_b").as[Long].collect().toSet
      === Set(2L, 3L, 4L, 5L, 6L, 11L, 12L, 21L))
  }

  test("nonKeeperIds composes as a cascade stage (cluster-keeper dedup)") {
    // pairs at 0.55 over docs: (1,2) j=1.0, (1,3)/(2,3) j=0.6 — one
    // cluster {1,2,3}, keeper 1 → the stage removes exactly {2,3}
    val report = Dedup.cascade(docs, "doc_id", Seq(
      "cluster" -> (sv => Dedup.nonKeeperIds(
        Dedup.minhashNearDups(sv, "doc_id", "text", threshold = 0.55),
        "id_a", "id_b").withColumnRenamed("id", "doc_id"))))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("removed"), r.getAs[Long]("surviving")))).toMap
    assert(report("cluster") === ((2L, 3L)), report.toString)
  }

  test("incrementalExact classifies an append batch against a frozen store") {
    // store over docs: fp(base) -> keeper 1 (docs 1,2,5 share the
    // normalized fingerprint), fp(near) -> 3, fp(other) -> 4
    val store = Dedup.fingerprintStore(docs, "doc_id", "text")
    assert(store.count() === 3L)
    val batch = Seq(
      // case variant of base: normalizes into the corpus → corpus keeper
      (100L, "THE QUICK BROWN FOX jumps over the lazy dog and runs far away today"),
      (101L, near), // verbatim corpus dup → keeper 3
      (102L, "a brand new document"), // first occurrence → new
      (103L, "a brand new document"), // batch-internal repeat → 102
      (104L, "another fresh one"), // new
      (105L, base), // corpus dup EVEN THOUGH 100 shares its fingerprint:
                    // the corpus copy outranks any batch-first claim
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalExact(batch, "doc_id", "text", store)
      .collect().map { r =>
        val dupOf = if (r.isNullAt(r.fieldIndex("dup_of"))) None
          else Some(r.getAs[Long]("dup_of"))
        r.getAs[Long]("doc_id") -> ((r.getAs[String]("status"), dupOf))
      }.toMap
    assert(out === Map(
      100L -> (("dup_of_corpus", Some(1L))),
      101L -> (("dup_of_corpus", Some(3L))),
      102L -> (("new", None)),
      103L -> (("dup_in_batch", Some(102L))),
      104L -> (("new", None)),
      105L -> (("dup_of_corpus", Some(1L)))), out.toString)
    // an empty store classifies everything by batch structure alone
    val cold = Dedup.incrementalExact(batch, "doc_id", "text",
      store.where(lit(false)))
    assert(cold.where(col("status") === "dup_of_corpus").isEmpty)
    // fp groups inside the batch: {100,105} (case-normalized base),
    // {102,103}, {101}, {104} → 4 firsts, 2 batch-internal dups
    assert(cold.where(col("status") === "new").count() === 4L)
    assert(cold.where(col("status") === "dup_in_batch").count() === 2L)
    // NULL-text rows have no content identity: two of them must NOT be
    // declared duplicates of each other (the window groups null
    // fingerprints; ungated, the second would land dup_in_batch and be
    // silently dropped downstream)
    val nulls = Dedup.incrementalExact(
      Seq((10L, null: String), (20L, null: String), (30L, "real text"))
        .toDF("doc_id", "text"),
      "doc_id", "text", store)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("status"), Option(r.get(2))))).toMap
    assert(nulls(10L) === (("new", None)))
    assert(nulls(20L) === (("new", None)))
    assert(nulls(30L)._1 === "new")
  }

  test("decontaminate flags n-gram overlap with a benchmark suite") {
    // suite = doc 1's text plus a short prompt under 4 tokens (whole-text
    // shingle fallback must still match doc 6). Mutated leaks — the
    // near-dup 3 AND the case-variant 5 (shingles are case-sensitive, but
    // only its leading words differ) — must flag on their shared tail
    // n-grams: catching partial leaks is the point of the n-gram form.
    val corpus = docs.unionByName(Seq((6L, "tiny prompt here")).toDF("doc_id", "text"))
    val bench = Seq((100L, base), (101L, "tiny prompt here")).toDF("bench_id", "btext")
    val hits = Dedup.decontaminate(corpus, "doc_id", "text",
      bench, "bench_id", "btext", n = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("benchmarks_hit"), r.getAs[Long]("ngrams_hit"))).toMap
    assert(hits.keySet === Set(1L, 2L, 3L, 5L, 6L),
      s"verbatim (1,2), mutated (3,5), short-prompt (6) — got $hits")
    assert(hits(1L) === ((1L, 11L))) // 14 tokens → 11 4-grams, all matched
    assert(hits(3L)._2 === 7L) // one mid-text token edit kills 4 of 11
    assert(hits(5L)._2 === 7L) // leading-case edit kills the first 4
    assert(hits(6L) === ((1L, 1L))) // whole-text fallback shingle
    // a clean corpus against the same suite flags nothing
    assert(Dedup.decontaminate(
      Seq((9L, other)).toDF("doc_id", "text"),
      "doc_id", "text", bench, "bench_id", "btext", n = 4).count() === 0L)
  }

  test("decontaminateBloom agrees with the exact path at ANY fpp") {
    val corpus = docs.unionByName(
      Seq((6L, "tiny prompt here")).toDF("doc_id", "text"))
    val bench = Seq((100L, base), (101L, "tiny prompt here"))
      .toDF("bench_id", "btext")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("benchmarks_hit"),
        r.getAs[Long]("ngrams_hit"))).toSet
    val exact = key(Dedup.decontaminate(corpus, "doc_id", "text",
      bench, "bench_id", "btext", n = 4))
    // fpp 0.5 floods the confirm join with false positives; the exact
    // equi-join must kill every one of them
    for (fpp <- Seq(0.01, 0.5)) {
      val bloom = key(Dedup.decontaminateBloom(corpus, "doc_id", "text",
        bench, "bench_id", "btext", n = 4, fpp = fpp))
      assert(bloom === exact, s"fpp=$fpp")
    }
    intercept[IllegalArgumentException] {
      Dedup.decontaminateBloom(corpus, "doc_id", "text",
        bench, "bench_id", "btext", n = 4, fpp = 1.5)
    }
  }

  test("containment catches an embedded prompt that Jaccard misses") {
    val prompt = "what is the capital of france answer paris"      // 8 toks
    val page = ("filler " * 40) + prompt + (" trailing" * 40)      // long doc
    val half = "what is the capital of"                            // 5 toks
    val corpus = Seq((1L, page), (2L, half), (3L, "unrelated text entirely"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, prompt)).toDF("bench_id", "btext")
    def run(tau: Double) = Dedup.decontaminateContainment(
      corpus, "doc_id", "text", bench, "bench_id", "btext",
      n = 4, minContainment = tau)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("ngrams_hit"), r.getAs[Long]("bench_ngrams"),
          r.getAs[Double]("containment"))).toMap
    val strict = run(0.8)
    // the page contains EVERY bench 4-gram (8 toks → 5 4-grams) despite
    // its Jaccard vs the prompt being ~5/90 — the asymmetric point
    assert(strict.keySet === Set(1L))
    assert(strict(1L) === ((5L, 5L, 1.0)))
    // the half-prompt doc (5 toks → 2 4-grams, both in bench) surfaces
    // only once the threshold admits partial containment-of-bench
    val loose = run(0.4)
    assert(loose.keySet === Set(1L, 2L))
    assert(loose(2L)._3 === 0.4) // 2 of 5 bench 4-grams, exactly 0.4
    intercept[IllegalArgumentException] {
      Dedup.decontaminateContainment(corpus, "doc_id", "text",
        bench, "bench_id", "btext", n = 4, minContainment = 0.0)
    }
  }

  test("line dedup: first (doc, pos) occurrence wins corpus-wide") {
    val docs = Seq(
      (1L, "alpha\nbeta\ngamma"),   // all first occurrences — not reported
      (2L, "beta\ndelta"),          // loses beta to doc 1
      (3L, "alpha\nbeta"),          // loses both → emptied
      (4L, "echo\necho"),           // within-doc dup: second echo removed
      (5L, "foxtrot")).toDF("doc_id", "text")
    val got = Dedup.lineDedupReport(docs, "doc_id", "text")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("line_count"), r.getAs[Long]("lines_removed"),
          r.getAs[Boolean]("emptied")))).toMap
    assert(got === Map(
      2L -> ((2L, 1L, false)),
      3L -> ((2L, 2L, true)),
      4L -> ((2L, 1L, false))),
      s"docs 1 and 5 keep everything and must not appear — got $got")
  }

  test("line dedup keeper is min(struct), not arrival order") {
    // doc 9 arrives first in the data but doc 2 owns the line: min(doc,pos)
    val docs = Seq((9L, "shared"), (2L, "shared\nown"))
      .toDF("doc_id", "text").repartition(4)
    val got = Dedup.lineDedupReport(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id")).toSeq
    assert(got === Seq(9L), s"doc 9 loses 'shared' to (2, 0) — got $got")
  }

  test("span dedup: repeated >=k-token span flagged in its non-first docs") {
    // a 6-token span shared by docs 1 and 2, embedded in otherwise
    // unrelated text; k=4 → 3 repeated shingles in doc 2 merge into ONE
    // 6-token interval. Doc 3 shares nothing.
    val span = "lorem ipsum dolor sit amet consectetur"
    val docs = Seq(
      (1L, s"alpha beta $span gamma delta"),
      (2L, s"one two three $span four five six"),
      (3L, "totally unrelated words live here forever and ever more"))
      .toDF("doc_id", "text").repartition(3)
    val got = Dedup.spanDedupReport(docs, "doc_id", "text", k = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("token_count"), r.getAs[Long]("spans_flagged"),
          r.getAs[Long]("tokens_flagged"), r.getAs[Boolean]("emptied"))))
      .toMap
    // min(struct) keeper: doc 1 owns the span (positions 2..7); doc 2's
    // copy at positions 3..8 is the flagged one
    assert(got === Map(2L -> ((12L, 1L, 6L, false))), s"got $got")
  }

  test("span dedup: within-doc repeat flags the second occurrence only") {
    val docs = Seq(
      (1L, "aa bb cc dd xx yy aa bb cc dd"), // self-repeat of a 4-token span
      (2L, "pp qq rr ss tt uu vv ww")).toDF("doc_id", "text")
    val got = Dedup.spanDedupReport(docs, "doc_id", "text", k = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("spans_flagged"), r.getAs[Long]("tokens_flagged"))))
      .toMap
    assert(got === Map(1L -> ((1L, 4L))), s"got $got")
  }

  test("span dedup: two disjoint repeated spans stay two spans; whole-doc " +
      "copy reads emptied") {
    val s1 = "red orange yellow green"
    val s2 = "north south east west"
    val docs = Seq(
      (1L, s"$s1 one two three four five $s2"),
      (2L, s"$s1 six seven eight nine ten $s2"), // two disjoint 4-token spans
      (3L, "winter spring summer autumn solstice equinox harvest frost"),
      (4L, "winter spring summer autumn solstice equinox harvest frost"))
      .toDF("doc_id", "text")
    val got = Dedup.spanDedupReport(docs, "doc_id", "text", k = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("spans_flagged"), r.getAs[Long]("tokens_flagged"),
          r.getAs[Boolean]("emptied")))).toMap
    assert(got === Map(
      2L -> ((2L, 8L, false)),   // the two spans do NOT merge across the gap
      4L -> ((1L, 8L, true))),   // verbatim copy → every token flagged
      s"got $got")
  }

  test("span dedup: adjacent repeated spans merge into one interval") {
    // doc 2 repeats doc 1's tokens 0..7 as two back-to-back 4-token spans
    // (positions 0 and 4 with k=4 are adjacent: 4 <= 0+4) → ONE span of 8
    val docs = Seq(
      (1L, "a1 a2 a3 a4 b1 b2 b3 b4 tail1 tail2 tail3"),
      (2L, "a1 a2 a3 a4 b1 b2 b3 b4 other1 other2 other3"))
      .toDF("doc_id", "text")
    val got = Dedup.spanDedupReport(docs, "doc_id", "text", k = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("spans_flagged"), r.getAs[Long]("tokens_flagged"))))
      .toMap
    assert(got === Map(2L -> ((1L, 8L))), s"got $got")
  }

  test("span dedup: docs shorter than k tokens are exempt") {
    val docs = Seq(
      (1L, "tiny dup"), (2L, "tiny dup"), // 2 tokens < k=4: no k-span
      (3L, "aaa bbb ccc ddd eee"), (4L, "aaa bbb ccc ddd eee"))
      .toDF("doc_id", "text")
    val got = Dedup.spanDedupReport(docs, "doc_id", "text", k = 4)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(got === Set(4L), s"got $got")
  }

  test("incrementalMinhash classifies an append batch against frozen stores") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "red orange yellow green blue indigo violet umber sable teal"))
      .toDF("doc_id", "text")
    val banded = Dedup.minhashStore(corpus, "doc_id", "text")
    val shSt = Dedup.shingleStore(corpus, "doc_id", "text")
    val batch = Seq(
      // verbatim corpus copy → near_dup_of_corpus, J = 1
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // one appended token → J = 8/9 vs doc 2
      (11L, "one two three four five six seven eight nine ten extra"),
      // fresh pair: first occurrence new, repeat dups against it
      (12L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"),
      (13L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"),
      // fresh singleton
      (14L, "completely different words entirely here nothing shared at all"),
      // matches corpus doc 1 AND batch doc 10 — the corpus copy outranks
      // the batch claim (same precedence as incrementalExact)
      (15L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalMinhash(batch, "doc_id", "text", banded, shSt)
      .collect().map { r =>
        val dupOf = if (r.isNullAt(r.fieldIndex("dup_of"))) None
          else Some(r.getAs[Long]("dup_of"))
        val j = if (r.isNullAt(r.fieldIndex("jaccard"))) None
          else Some(r.getAs[Double]("jaccard"))
        r.getAs[Long]("doc_id") -> ((r.getAs[String]("status"), dupOf, j))
      }.toMap
    assert(out === Map(
      10L -> (("near_dup_of_corpus", Some(1L), Some(1.0))),
      11L -> (("near_dup_of_corpus", Some(2L), Some(0.888889))),
      12L -> (("new", None, None)),
      13L -> (("near_dup_in_batch", Some(12L), Some(1.0))),
      14L -> (("new", None, None)),
      15L -> (("near_dup_of_corpus", Some(1L), Some(1.0)))), out.toString)
  }

  test("incrementalMinhash below-threshold candidates stay new") {
    // docs sharing SOME shingles (band collisions possible) but under the
    // 0.8 exact-Jaccard line must classify as new — the verify stage is
    // load-bearing, candidates alone are not matches
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon unrelated words follow here now"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalMinhash(batch, "doc_id", "text",
        Dedup.minhashStore(corpus, "doc_id", "text"),
        Dedup.shingleStore(corpus, "doc_id", "text"))
      .collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("status") === "new", out.head.toString)
  }

  test("incrementalMinhash in-batch matches are minhashNearDups' per-id_b minimum") {
    // chain 20 ~ 21 (J = 27/29) and 21 ~ 22 (J = 25/31); 20 vs 22 (J = 24/32)
    // is a band candidate below the 0.8 line. The corpus shares nothing, so
    // every match is in-batch.
    val words = (1 to 30).map(i => s"w$i")
    val d20 = words
    val d21 = words.init :+ "x30"
    val d22 = Seq("y1", "y2", "y3") ++ d21.drop(3)
    val batch = Seq(
      (20L, d20.mkString(" ")), (21L, d21.mkString(" ")),
      (22L, d22.mkString(" ")),
      (23L, "completely different words entirely here nothing shared at all"))
      .toDF("doc_id", "text")
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota"))
      .toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((20L, 22L)), s"no below-threshold candidate: $cands")
    val expected = Dedup.minhashNearDups(batch, "doc_id", "text")
      .groupBy($"id_b").agg(min(struct($"id_a", $"jaccard")).as("m"))
      .select($"id_b", $"m.id_a", $"m.jaccard").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val got = Dedup.incrementalMinhash(batch, "doc_id", "text",
        Dedup.minhashStore(corpus, "doc_id", "text"),
        Dedup.shingleStore(corpus, "doc_id", "text"))
      .where($"status" === "near_dup_in_batch")
      .select($"doc_id", $"dup_of", $"jaccard").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(expected === Map(21L -> ((20L, 0.931034)), 22L -> ((21L, 0.806452))),
      expected.toString)
    assert(got === expected)
  }

  test("line dedup: the first-occurrence rule is an aggregate, not a window") {
    // the physical plan must contain a partial (map-side) aggregate on the
    // line key and NO window operator — the skew-safety property the
    // scaladoc promises (a window would sort a hot boilerplate line
    // inside one task)
    val docs = Seq((1L, "a\nb"), (2L, "a")).toDF("doc_id", "text")
    val plan = Dedup.lineDedupReport(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window operator in plan:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("partial"),
      s"no partial aggregate in plan:\n$plan")
  }

  test("versionDiff classifies added/removed/changed; whitespace-only " +
      "edits and null-text stability read unchanged") {
    val v1 = Seq(
      (1L, Some("alpha beta")), (2L, Some("gamma delta")),
      (3L, Some("epsilon zeta")), (4L, (None: Option[String])),
      (5L, Some("kept verbatim"))).toDF("doc_id", "text")
    val v2 = Seq(
      (1L, Some("alpha  beta ")),      // normalization-equal → unchanged
      (2L, Some("gamma delta EDITED")), // changed
      // 3 dropped → removed
      (4L, (None: Option[String])),     // null both sides → unchanged
      (5L, Some("kept verbatim")),
      (6L, Some("fresh"))).toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) =
      Dedup.versionManifest(df, "doc_id", "text")
    val got = Dedup.versionDiff(m(v1), m(v2), "doc_id")
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(got === Map(2L -> "changed", 3L -> "removed", 6L -> "added"),
      s"got $got")
    val summary = Dedup.versionDiffSummary(m(v1), m(v2), "doc_id")
      .collect()
      .map(r => r.getAs[String]("status") -> r.getAs[Long]("docs")).toMap
    assert(summary === Map("added" -> 1L, "removed" -> 1L,
      "changed" -> 1L, "unchanged" -> 3L), s"got $summary")
  }

  test("versionDiff reads manifests only — no text scan in the diff plan") {
    // the contract: a snapshot diff must run from the persisted manifests
    // without re-reading either corpus version
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val m1 = Dedup.versionManifest(docs, "doc_id", "text").localCheckpoint()
    val m2 = Dedup.versionManifest(
      docs.where(col("doc_id") % 10 =!= 0), "doc_id", "text")
      .localCheckpoint()
    val plan = Dedup.versionDiff(m1, m2, "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan") && !plan.contains("documents.parquet"),
      s"diff plan re-reads a corpus:\n$plan")
    assert(!plan.toLowerCase.contains("text"),
      s"text column in the diff plan:\n$plan")
  }

  test("semantic decontamination flags a paraphrase-level cosine match " +
      "that shares no n-grams") {
    import graft.vector.Similarity
    // corpus vec 1 ≈ bench vec 100 (small perturbation, cos ≈ 0.999);
    // corpus vec 2 is orthogonal-ish. Text n-grams are irrelevant here —
    // the whole point is the vector space.
    def unit(xs: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(xs.map(x => x * x).sum)
      xs.map(_ / n)
    }
    val v1 = unit(Seq.tabulate(64)(i => math.sin(i + 1.0)))
    val v1p = unit(Seq.tabulate(64)(i => math.sin(i + 1.0) + 0.02))
    val v2 = unit(Seq.tabulate(64)(i => math.cos(3.0 * i + 0.5)))
    val corpus = Seq((1L, v1), (2L, v2)).toDF("vec_id", "embedding")
    val bench = Seq((100L, v1p)).toDF("bench_id", "embedding")
    val got = Dedup.decontaminateSemantic(corpus, "vec_id", "embedding",
      bench, "bench_id", "embedding", dim = 64, cosThreshold = 0.95)
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Long]("bench_id"), r.getAs[Double]("cosine")))
    assert(got.length === 1)
    assert(got.head._1 === 1L && got.head._2 === 100L)
    assert(got.head._3 > 0.99)
  }

  test("semantic decontamination: corpus never shuffles — the benchmark " +
      "probe is a broadcast join, pairs-only exchange") {
    import graft.vector.Similarity
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      .repartition(4).localCheckpoint()
    val bench = corpus.where(col("vec_id") < 5)
      .select((col("vec_id") + 1000L).as("bench_id"), col("embedding"))
      .localCheckpoint()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qe = Dedup.decontaminateSemantic(corpus, "vec_id", "embedding",
        bench, "bench_id", "embedding", dim = 64, cosThreshold = 0.9)
        .queryExecution
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      val shuffles = qe.executedPlan.collect { case e: ShuffleExchangeExec => e }
      // exactly one exchange: the final over-threshold pair dedup; its
      // rows carry no vector column
      assert(shuffles.length === 1, qe.executedPlan.toString)
      assert(!shuffles.head.output.exists(_.name.contains("_v")),
        s"vector column in the pair exchange: ${shuffles.head.output}")
      assert(qe.executedPlan.collectFirst {
        case j: BroadcastHashJoinExec => j
      }.isDefined, "benchmark probe is not a broadcast join")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("span dedup: first-occurrence rule is an aggregate, not a window; " +
      "shingle strings never enter the repeated-key exchange") {
    // same skew-safety discipline as line dedup: a boilerplate span
    // repeated 10⁹ times must collapse map-side, never sort in one task
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d x y"))
      .toDF("doc_id", "text")
    // AQE would hide the exchanges from `collect` until stages materialize
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qe = Dedup.spanDedupReport(docs, "doc_id", "text", k = 4)
        .queryExecution
      val plan = qe.executedPlan.toString
      assert(!plan.contains("Window"), s"window operator in plan:\n$plan")
      assert(plan.contains("partial_min") || plan.contains("partial"),
        s"no partial aggregate in plan:\n$plan")
      // the exchange key is the 128-bit hash pair, not the k-token string:
      // no shuffle output carries the _sh column
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val exchanges = qe.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      assert(exchanges.forall(!_.output.exists(_.name == "_sh")),
        "a shuffle carries the raw shingle string")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
