package graft.dedup

import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard verification, embedding-cosine.
  * All candidate generation is bucket-local (band hash / bit-chunk /
  * hyperplane bucket): no all-pairs O(n²) stage ever materializes — the only
  * quadratic work is INSIDE a bucket. Every bucketed self-join (minhash,
  * simhash, embedding, and the in-batch side of [[Dedup.incrementalMinhash]])
  * is the one private `bucketPairs`, and every exact pair verify (Jaccard,
  * cosine) is the one private `verifyPairs`. Each self-join is
  * skew-guarded by [[Dedup.capBuckets]]: buckets larger than `maxBucketSize`
  * are dropped (the standard LSH guard — one degenerate bucket of empty or
  * boilerplate documents would otherwise go quadratic at 10^12 rows). The
  * dropped buckets are observable via [[Dedup.oversizedBuckets]] for
  * monitoring; exact-fingerprint dedup already collapses identical docs, so
  * a dropped bucket means "a >cap cluster of near-identical text", which a
  * pipeline wants surfaced, not silently pair-joined. */
object Dedup {

  /** Default bucket-size cap: a bucket of b members generates b² candidate
    * pairs, so 1000 bounds any single bucket at ~10⁶ pairs regardless of
    * table size. */
  val DefaultMaxBucketSize = 1000

  /** Rebalance a frame whose partitioning is far below the session's
    * parallelism before a compute-dense per-row stage (signature hashing is
    * ~64 hashes/shingle — a single 2 MB parquet file would otherwise run
    * single-task). At scale the input's own partitioning already exceeds
    * core count and this is a no-op — no shuffle added.
    *
    * AQE safety (round-3 verdict #2): the helper only inspects SCAN-SHAPED
    * plans (leaves plus narrow Project/Filter). For those, finalizing the
    * adaptive plan via `queryExecution.toRdd` is free — there are no
    * exchange stages to materialize, so no job runs. A composed input
    * (joins/aggregations) is returned unchanged: under AQE, reading ITS
    * partition count would eagerly execute its shuffle stages at
    * plan-construction time, and such a plan is already
    * shuffle-partitions-wide anyway — rebalancing it is not this helper's
    * job. Pinned by DedupSpec's no-job-at-plan-time test. */
  private def ensureParallelism(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Project => LProject}
    // narrow nodes only, AND no subquery expressions anywhere: a Filter
    // whose condition embeds a scalar subquery would pass the node-level
    // shape test yet still execute the subquery stage when AQE finalizes
    // the plan (round-4 review)
    val scanShaped = df.queryExecution.optimizedPlan.collect { case n => n }
      .forall(n => (n.children.isEmpty ||
        n.isInstanceOf[LProject] || n.isInstanceOf[LFilter]) &&
        n.expressions.forall(e => !e.exists(_.isInstanceOf[SubqueryExpression])))
    if (!scanShaped) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.queryExecution.toRdd.getNumPartitions * 2 < target)
        df.repartition(target)
      else df
    }
  }

  /** Skew guard: keep only rows whose bucket has ≤ maxBucket members. The
    * window count shuffles+sorts by the bucket key — exactly the exchange +
    * sort the downstream sort-merge self-join needs, so Catalyst reuses
    * them (no extra shuffle vs. the uncapped plan). */
  private def capBuckets(df: DataFrame, bucketCols: Seq[String], maxBucket: Int): DataFrame = {
    val w = Window.partitionBy(bucketCols.map(col): _*)
    df.withColumn("_bucket_size", count(lit(1)).over(w))
      .where(col("_bucket_size") <= maxBucket)
      .drop("_bucket_size")
  }

  /** Monitoring view of what a cap would drop: (bucketCols..., bucket_size)
    * for buckets above the cap. Log/inspect this alongside any capped run —
    * a silent drop should never read as full coverage. */
  def oversizedBuckets(df: DataFrame, bucketCols: Seq[String], maxBucket: Int): DataFrame =
    df.groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("bucket_size"))
      .where(col("bucket_size") > maxBucket)

  // ---------------------------------------------------------------- exact

  /** Exact dedup on a normalized fingerprint. Returns the kept rows
    * (smallest id per duplicate group wins — deterministic). `idCol` MUST
    * be a unique row identifier (the usual dedup contract): with colliding
    * ids, "keeper by id" is ill-defined and every row sharing a keeper's id
    * is kept.
    *
    * Scale shape: keeper selection runs on a projected (fingerprint, id)
    * pair — the wide payload never enters that exchange — and the kept rows
    * come back via a left-semi join on the id, where Catalyst prunes the
    * payload from the join exchange too whenever the caller only consumes
    * key columns (q12 selects ids only ⇒ no text ever shuffles). */
  def exactKeep(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = df
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("_fp"))
      .groupBy(col("_fp"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** Cross-corpus LINE dedup report — the C4 rule (Raffel et al. 2020
    * §2.2 discard every repeated three-sentence span corpus-wide; modern
    * pipelines apply it per line): keep only the FIRST occurrence
    * (minimum (doc, position)) of every distinct line, report per-doc
    * removal counts for docs that lose at least one line:
    * (id, line_count, lines_removed, emptied).
    *
    * Scale shape: the first-occurrence rule is a `min(struct(id, pos))`
    * AGGREGATE, not a `row_number` window — partial aggregation collapses
    * a boilerplate line repeated 10^9 times to one candidate per map task,
    * where a window would sort the whole hot line inside a single task
    * (the q44/q50 degenerate-bucket lesson). Only (line, id, pos) tuples
    * ever shuffle — whole documents never do — and the join back is
    * line-keyed, so AQE's skew split covers the hot keys. */
  def lineDedupReport(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val firsts = lines.groupBy(col("line"))
      .agg(min(struct(col(idCol), col("pos"))).as("_keeper"))
    lines.join(firsts, Seq("line"))
      .withColumn("_removed",
        !(col(idCol) === col(s"_keeper.$idCol") &&
          col("pos") === col("_keeper.pos")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("line_count"),
        sum(when(col("_removed"), 1L).otherwise(0L)).as("lines_removed"))
      .where(col("lines_removed") > 0)
      .withColumn("emptied", col("lines_removed") === col("line_count"))
  }

  /** Span-level exact-substring dedup report — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499) ExactSubstr rule, the published operator between
    * line dedup ([[lineDedupReport]]) and whole-doc near-dup
    * ([[minhashNearDups]]): any ≥ `k`-token SPAN occurring more than once
    * corpus-wide keeps only its first occurrence — licenses, templates and
    * quoted passages that survive both neighbours (not whole lines, not
    * whole near-dup docs) are caught here.
    *
    * The paper builds a suffix array; the distributed re-expression is
    * overlapping k-token shingles with their positions: a repeated span of
    * length L ≥ k repeats all of its L−k+1 shingles, so flagging every
    * NON-FIRST occurrence of a repeated shingle and merging the flagged
    * positions per doc into maximal intervals recovers exactly the
    * repeated spans. Report: one row per doc losing at least one span —
    * (id, token_count, spans_flagged, tokens_flagged, emptied).
    *
    * Scale shape (the q57 discipline):
    *   - the shingle key shuffles as TWO independent xxhash64 values
    *     (128 bits — corpus-wide collision odds ~n²/2¹²⁹, vacuous at
    *     10¹² shingles), never the k-token string itself;
    *   - first occurrence is a `min(struct(id, pos))` AGGREGATE, not a
    *     window — partial aggregation collapses a boilerplate span
    *     repeated 10⁹ times map-side, and the `count > 1` filter shrinks
    *     the join side to repeated shingles only;
    *   - the join back is shingle-hash-keyed (AQE skew split covers hot
    *     keys); whole documents never shuffle — only (hash, id, pos);
    *   - the per-doc interval merge is a sorted `collect_list(pos)` +
    *     an `aggregate` HOF — state bounded by the doc's own flagged
    *     positions, no window, no driver involvement.
    * PlanShapeSpec pins no-Window. Docs shorter than k tokens carry no
    * k-token span and are exempt by construction. */
  def spanDedupReport(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    // docs with < k tokens carry no k-token span (and shingles()'s
    // short-doc whole-text branch must never fire here)
    val eligible = ensureParallelism(df)
      .where(size(TextAnalysis.tokens(col(textCol))) >= k)
    val sh = eligible
      .select(col(idCol),
        posexplode(shingles(col(textCol), k)).as(Seq("pos", "_sh")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        xxhash64(lit(0), col("_sh")).as("_h1"),
        xxhash64(lit(1), col("_sh")).as("_h2"))
    val repeated = sh.groupBy(col("_h1"), col("_h2"))
      .agg(min(struct(col(idCol), col("pos"))).as("_keeper"),
        count(lit(1)).as("_cnt"))
      .where(col("_cnt") > 1)
      .select(col("_h1"), col("_h2"), col("_keeper"))
    val flagged = sh.join(repeated, Seq("_h1", "_h2"))
      .where(!(col(idCol) === col(s"_keeper.$idCol") &&
        col("pos") === col("_keeper.pos")))
      .select(col(idCol), col("pos"))
    // per-doc merge of the flagged [pos, pos+k) windows into maximal
    // intervals: sorted positions + one aggregate HOF pass carrying
    // (spans, tokens-closed, current-start, current-exclusive-end)
    val zero = struct(lit(0L).as("spans"), lit(0L).as("tok"),
      lit(-1L).as("s"), lit(-1L).as("e"))
    val merged = flagged.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("_ps"))
      .withColumn("_m", aggregate(col("_ps"), zero,
        (acc, p) =>
          when(acc("s") < 0,
            struct(lit(1L).as("spans"), lit(0L).as("tok"),
              p.as("s"), (p + k).as("e")))
          .when(p <= acc("e"), // overlap or adjacency: extend the interval
            struct(acc("spans").as("spans"), acc("tok").as("tok"),
              acc("s").as("s"), (p + k).as("e")))
          .otherwise( // gap: close the interval, open a new one
            struct((acc("spans") + 1).as("spans"),
              (acc("tok") + acc("e") - acc("s")).as("tok"),
              p.as("s"), (p + k).as("e"))),
        acc => struct(acc("spans").as("spans"),
          when(acc("s") >= 0, acc("tok") + acc("e") - acc("s"))
            .otherwise(acc("tok")).as("tok"))))
      .select(col(idCol), col("_m.spans").as("spans_flagged"),
        col("_m.tok").as("tokens_flagged"))
    df.select(col(idCol),
        size(TextAnalysis.tokens(col(textCol))).cast("long")
          .as("token_count"))
      .join(merged, Seq(idCol))
      .withColumn("emptied", col("tokens_flagged") === col("token_count"))
  }

  // ------------------------------------------------------------- shingles

  /** Composed-column shingling — parity baseline for the native
    * [[WordShingles]] expression (DedupSpec pins equality). */
  private[dedup] def shinglesColumnForm(c: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(c)
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Word n-gram shingles (multiset — duplicates kept; min-hashing is
    * invariant to them and `array_distinct` is O(n²) per row). Use
    * [[shingleSet]] where true set semantics matter (exact Jaccard).
    * Native codegen expression over the tokenized column. */
  def shingles(c: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      WordShingles(ColumnBridge.expression(TextAnalysis.tokens(c)), n))
  }

  def shingleSet(c: Column, n: Int): Column = array_distinct(shingles(c, n))

  /** Exact Jaccard similarity of two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, 1.0).otherwise(inter / uni)
  }

  /** Exact n-gram Jaccard scores between a (small) query set and the
    * corpus — the brute-force ground truth the LSH pipeline is verified
    * against, and the primitive for "score these candidate docs against
    * everything". Every (query, corpus) pair except self-pairs is scored —
    * including corpus ids smaller than the query id (a `id_a < id_b`
    * dedup filter here would silently halve the scores). Queries are
    * broadcast; the corpus is never shuffled. Quadratic in
    * |queries|×|corpus|: use [[minhashNearDups]] for corpus-vs-corpus at
    * scale. */
  def jaccardScores(corpus: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleLen: Int = 3): DataFrame = {
    // rebalance first: a single-file corpus would otherwise evaluate every
    // (query × corpus) set-intersection on ONE task
    val c = ensureParallelism(corpus).select(col(idCol).as("id_b"),
      shingleSet(col(textCol), shingleLen).as("_sh_b"))
    val q = broadcast(queries.select(col(idCol).as("id_a"),
      shingleSet(col(textCol), shingleLen).as("_sh_a")))
    c.crossJoin(q)
      .where(col("id_a") =!= col("id_b"))
      .withColumn("jaccard", jaccard(col("_sh_a"), col("_sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  // ------------------------------------------------------------- minhash

  /** Composed-column MinHash signature: single-traversal `aggregate` whose
    * accumulator is the running-min vector, with xxhash64(seed, s) as the
    * seed-indexed hash family. (The naive form — one `array_min(
    * transform(...))` per seed — duplicates the shingle-array expression
    * `numHashes` times in the projection; Catalyst does not CSE across
    * higher-order-function lambdas, which measured 246 s vs ~4 s on 5k
    * docs.) Kept as the parity baseline for the native expression —
    * DedupSpec pins bit-equality. */
  private[dedup] def minhashSignatureColumnForm(shinglesCol: Column, numHashes: Int): Column =
    aggregate(
      shinglesCol,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, s) => zip_with(
        acc,
        transform(sequence(lit(0), lit(numHashes - 1)), i => xxhash64(i, s)),
        (a, b) => least(a, b)))

  /** MinHash signature via the native codegen expression
    * [[MinHashSignature]] — same xxhash64(k, shingle) family, bit-identical
    * signatures, primitive inner loop (the compute-dense stage of
    * corpus-scale dedup). */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      MinHashSignature(ColumnBridge.expression(shinglesCol), numHashes))
  }

  /** The exploded (id, band, band-hash) frame behind [[minhashCandidates]] —
    * exposed for the skew-cap audit: `oversizedBuckets(minhashBanded(...),
    * Seq("_band", "_bandhash"), cap)` reports exactly what the capped
    * candidate join would drop (DedupSpec pins it empty on the test
    * corpora, making capped ≡ uncapped there). */
  private[graft] def minhashBanded(df: DataFrame, idCol: String,
      textCol: String, shingleLen: Int = 3, numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sig = minhashSignature(shingles(col(textCol), shingleLen), numHashes)
    val bandHashes = array((0 until bands).map(b =>
      xxhash64(lit("band"), lit(b), slice(col("_sig"), b * r + 1, r))): _*)
    ensureParallelism(df)
      .select(col(idCol).as("_id"), sig.as("_sig"))
      .select(col("_id"), posexplode(bandHashes))
      .select(col("_id"), col("pos").as("_band"), col("col").as("_bandhash"))
  }

  /** The one bucketed self-join behind every LSH path: caps `banded` (an
    * exploded frame with an `_id` column) per bucket, joins it with itself
    * on `bucketCols` and keeps each pair once as `id_a < id_b`. Returns
    * `(id_a, carry_a..., id_b, carry_b...)`: every `carry` column comes out
    * suffixed `_a`/`_b`. Not deduped: a pair sharing several buckets
    * repeats, and each caller filters before its own `distinct`. */
  private def bucketPairs(banded: DataFrame, bucketCols: Seq[String],
      maxBucket: Int, carry: Seq[String] = Nil): DataFrame = {
    val capped = capBuckets(banded, bucketCols, maxBucket)
    def side(s: String): DataFrame = capped.select(bucketCols.map(col) ++
      (col("_id").as(s"id_$s") +: carry.map(c => col(c).as(s"${c}_$s"))): _*)
    side("a").join(side("b"), bucketCols)
      .where(col("id_a") < col("id_b"))
      .drop(bucketCols: _*)
  }

  /** The one exact pair verify: joins the two-column `(id, payload)` `side`
    * to both ends of the `(id_a, id_b)` candidates, scores the payloads,
    * keeps scores ≥ `threshold` and returns `(id_a, id_b, name)` rounded
    * to 6 places. */
  private def verifyPairs(cands: DataFrame, side: DataFrame,
      score: (Column, Column) => Column, name: String,
      threshold: Double): DataFrame = {
    val Array(id, p) = side.columns
    cands
      .join(side.select(col(id).as("id_a"), col(p).as(s"${p}_a")), Seq("id_a"))
      .join(side.select(col(id).as("id_b"), col(p).as(s"${p}_b")), Seq("id_b"))
      .withColumn(name, score(col(s"${p}_a"), col(s"${p}_b")))
      .where(col(name) >= threshold)
      .select(col("id_a"), col("id_b"), round(col(name), 6).as(name))
  }

  /** LSH candidate pairs: signatures banded into `bands`; docs sharing any
    * band hash become candidates. Returns (id_a, id_b) with id_a < id_b,
    * deduped. Collision probability for Jaccard s: 1-(1-s^r)^b. Buckets
    * larger than `maxBucketSize` are dropped (skew guard, see object doc). */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numHashes: Int = 64, bands: Int = 16,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    bucketPairs(minhashBanded(df, idCol, textCol, shingleLen, numHashes, bands),
      Seq("_band", "_bandhash"), maxBucketSize).distinct()

  /** MinHash LSH near-dup pairs, verified with exact shingle Jaccard:
    * (id_a, id_b, jaccard). The verify join re-reads only (id, text) —
    * and only for CANDIDATE rows: the exact-Jaccard stage needs shingle
    * SETS (the O(len²) `array_distinct` per row) only for ids appearing
    * in some LSH candidate pair, a tiny fraction of the corpus, so the
    * candidate-id set (materialized ids-only via `localCheckpoint`, the
    * cascade lineage discipline) is broadcast as a left-semi prefilter
    * under the set projection (guide §3.2's semi-join shape; PlanShapeSpec
    * pins it). The previous form computed shingle sets for EVERY corpus
    * row and fed them into both verify joins — two full-corpus set
    * materializations whose rows were then almost all discarded (measured
    * r9: see OPTIMIZATION_r09.md). Candidate ids are pair-bounded; a
    * corpus whose candidate set outgrows broadcast needs the
    * Bloom-prefilter variant instead (the decontaminateBloom shape). */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleLen: Int = 3,
      numHashes: Int = 64, bands: Int = 16,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val cands = minhashCandidates(df, idCol, textCol, shingleLen, numHashes,
      bands, maxBucketSize).localCheckpoint()
    val candIds = cands.select(col("id_a").as(idCol))
      .unionByName(cands.select(col("id_b").as(idCol))).distinct()
    val sh = ensureParallelism(df).join(broadcast(candIds), Seq(idCol), "left_semi")
      .select(col(idCol), shingleSet(col(textCol), shingleLen).as("_sh"))
    verifyPairs(cands, sh, jaccard, "jaccard", threshold)
  }

  // ------------------------------------------------------------- simhash

  /** Token-hash family for SimHash — an explicit ADT so the native-vs-
    * composed dispatch is a CASE match, not lambda reference identity
    * (round-3 advice: a structurally identical `t => xxhash64(t)` lambda
    * must not silently fall off the ~10× native path, and a refactor can't
    * break the dispatch without a test failing). */
  sealed trait TokenHashFamily extends Serializable
  object TokenHashFamily {
    /** `xxhash64(token)` — the fast default; runs on the native codegen
      * [[SimHashSig]] expression (bit-identical to the composed form,
      * pinned by DedupSpec). */
    case object XxHash64 extends TokenHashFamily
    /** Any other per-token hash (e.g. `TextAnalysis.md5Hash60` for the
      * DuckDB-reproducible 60-bit family) — runs the composed column
      * form. */
    final case class Custom(hash: Column => Column) extends TokenHashFamily
  }

  /** Composed-column SimHash — the generic-hash path (e.g. the 60-bit md5
    * family the q15 oracle recomputes) and the parity baseline for the
    * native expression: per-bit majority vote of ±1 in ONE traversal — the
    * aggregate accumulator is the bit-length vote vector, bit-tested
    * against a literal mask array (variable shifts aren't expressible,
    * constant masks are; and `bits` separate aggregates would re-hash
    * every token bits×). */
  private[dedup] def simhashSigColumnForm(c: Column, bits: Int,
      tokenHash: Column => Column): Column = {
    val masks = typedlit((0 until bits).map(k => 1L << k))
    // hash each token ONCE via transform (a lambda variable is a
    // materialized value, so the mask tests below don't re-hash)
    val votes = aggregate(
      transform(TextAnalysis.tokens(c), t => tokenHash(t)),
      array_repeat(lit(0), bits),
      (acc, h) => zip_with(acc, masks,
        (cnt, m) => cnt + when(h.bitwiseAND(m) =!= 0, 1).otherwise(-1)))
    aggregate(
      zip_with(votes, masks, (cnt, m) => when(cnt > 0, m).otherwise(0L)),
      lit(0L), (a, b) => a.bitwiseOR(b))
  }

  /** SimHash over token hashes.
    *
    * @param bits signature width (≤ 64; the default 64 uses xxhash64)
    * @param family per-token hash family: the default
    *   [[TokenHashFamily.XxHash64]] runs on the native codegen expression
    *   [[SimHashSig]] (primitive vote loop); pass
    *   `TokenHashFamily.Custom(TextAnalysis.md5Hash60)` with bits=60 for a
    *   hash an external SQL engine can reproduce (oracle-checkable). */
  def simhashSig(c: Column, bits: Int,
      family: TokenHashFamily = TokenHashFamily.XxHash64): Column =
    family match {
      case TokenHashFamily.XxHash64 =>
        import org.apache.spark.sql.graft.ColumnBridge
        ColumnBridge.column(
          SimHashSig(ColumnBridge.expression(TextAnalysis.tokens(c)), bits))
      case TokenHashFamily.Custom(hash) => simhashSigColumnForm(c, bits, hash)
    }

  /** Hamming distance between two simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** The exploded (id, sim, chunk, chunk-value) frame behind
    * [[simhashNearDups]] — exposed for the skew-cap audit (see
    * [[minhashBanded]]). */
  private[graft] def simhashBanded(df: DataFrame, idCol: String,
      textCol: String, maxHamming: Int = 3, bits: Int = 64,
      family: TokenHashFamily = TokenHashFamily.XxHash64): DataFrame = {
    val chunks = maxHamming + 1
    require(bits % chunks == 0, s"maxHamming+1=$chunks must divide bits=$bits")
    val bitsPer = bits / chunks
    // Java shifts are mod 64: (1L << 64) - 1 == 0, which would zero every
    // chunk value at maxHamming=0/bits=64 and collapse all rows into one
    // bucket (then the cap silently drops it)
    val chunkMask = if (bitsPer >= 64) -1L else (1L << bitsPer) - 1
    val withSig = ensureParallelism(df)
      .select(col(idCol).as("_id"), simhashSig(col(textCol), bits, family).as("_sim"))
    val chunkVals = array((0 until chunks).map(k =>
      shiftright(col("_sim"), k * bitsPer).bitwiseAND(lit(chunkMask))): _*)
    withSig.select(col("_id"), col("_sim"), posexplode(chunkVals))
      .select(col("_id"), col("_sim"), col("pos").as("_chunk"), col("col").as("_cv"))
  }

  /** SimHash near-dup pairs with Hamming ≤ maxHamming, found by the
    * pigeonhole chunk trick: split the `bits`-wide hash into `maxHamming+1`
    * chunks — any pair within the bound must agree on ≥1 whole chunk, so
    * bucketing by (chunk_idx, chunk_value) finds ALL of them (exact recall)
    * without an all-pairs join. Oversized chunk buckets are dropped
    * (skew guard — see object doc). */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bits: Int = 64,
      family: TokenHashFamily = TokenHashFamily.XxHash64,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    bucketPairs(simhashBanded(df, idCol, textCol, maxHamming, bits, family),
        Seq("_chunk", "_cv"), maxBucketSize, carry = Seq("_sim"))
      .select(col("id_a"), col("id_b"),
        hamming64(col("_sim_a"), col("_sim_b")).cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()

  // ------------------------------------------------- decontamination

  /** Benchmark/test-set DECONTAMINATION — flag corpus documents sharing any
    * word n-gram with a benchmark suite (the training-data hygiene step that
    * keeps eval answers out of the training set; the standard recipe is
    * exact n-gram overlap at n≈8-13). Returns one row per contaminated
    * corpus doc: `(idCol, benchmarks_hit, ngrams_hit)` — how many distinct
    * benchmark entries it collides with and on how many distinct n-grams.
    * Texts shorter than `n` tokens contribute their whole text as a single
    * shingle ([[shingles]] semantics), so a verbatim short benchmark prompt
    * still matches.
    *
    * Scale shape: the benchmark side is exploded to DISTINCT
    * (bench_id, ngram) pairs and BROADCAST — a benchmark suite is small by
    * definition (and deliberately forced: a shuffle join here would
    * repartition the exploded corpus, n× the corpus token volume). The
    * corpus side is a scan-only projection to (id, ngram) — the payload
    * never enters any exchange — filtered map-side by the broadcast hash
    * join; only MATCHED triples (rare by construction: random 8-gram
    * collisions are negligible) reach the grouped aggregation. One corpus
    * scan total, no corpus shuffle. */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchIdCol: String, benchTextCol: String,
      n: Int = 8): DataFrame =
    ngramHits(ngrams(ensureParallelism(corpus), col(idCol), textCol, n),
      broadcast(ngrams(benchmark, col(benchIdCol).as("_bench_id"),
        benchTextCol, n).distinct()), idCol)

  /** The `(id, _ng)` explode every n-gram decontamination variant runs on
    * both its corpus side and its suite side: one row per distinct
    * shingle of each text. */
  private def ngrams(df: DataFrame, id: Column, textCol: String,
      n: Int): DataFrame =
    df.select(id, explode(shingleSet(col(textCol), n)).as("_ng"))

  /** `(idCol, benchmarks_hit, ngrams_hit)` over the exact corpus × suite
    * n-gram equi-join — shared by [[decontaminate]] and
    * [[decontaminateBloom]], which differ only in how each side reaches
    * it. */
  private def ngramHits(cng: DataFrame, bng: DataFrame,
      idCol: String): DataFrame =
    cng.join(bng, Seq("_ng"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("_bench_id")).as("benchmarks_hit"),
        countDistinct(col("_ng")).as("ngrams_hit"))

  /** [[decontaminate]] for benchmark suites TOO BIG TO BROADCAST-JOIN —
    * same output, different scale path. The exact variant's broadcast
    * hash relation is every distinct (bench_id, ngram) pair; at ~100M
    * suite n-grams that is tens of GB per executor and the hint stops
    * working, while the alternative (shuffle join) repartitions the
    * exploded corpus — n× the corpus token volume through an exchange.
    *
    * This variant spends one pass over the suite building a Bloom filter
    * of its n-grams (~1.2 GB at 10⁹ entries / 1% fpp — broadcastable two
    * orders of magnitude past the hash relation's limit) and kills the
    * corpus n-gram stream MAP-SIDE at the scan: only the ≤ fpp false-
    * positive trickle plus true hits survive to the exact confirm join,
    * whose strategy is left to Catalyst/AQE (the filtered left side is
    * tiny, so even a shuffle join moves almost nothing — and the suite
    * side shuffles once instead of being broadcast). False positives
    * CANNOT reach the output: the confirm join is the same exact equi-join
    * as [[decontaminate]], so the two variants agree row-for-row at any
    * fpp — the bloom only decides how much work the join sees. */
  def decontaminateBloom(corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchIdCol: String, benchTextCol: String,
      n: Int = 8, fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1): $fpp")
    // materialize the exploded suite ONCE (eager localCheckpoint): it
    // feeds three consumers — the size count, the bloom build, and the
    // exact confirm join — and un-materialized each would re-run the
    // explode + shuffle-distinct over the full suite
    val bng = ngrams(benchmark, col(benchIdCol).as("_bench_id"), benchTextCol, n)
      .distinct()
      .localCheckpoint()
    val grams = bng.select("_ng").distinct()
    val expected = math.max(grams.count(), 1L)
    val bloom = grams.stat.bloomFilter("_ng", expected, fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((s: String) => s != null && bc.value.mightContain(s))
    val cng = ngrams(ensureParallelism(corpus), col(idCol), textCol, n)
      .where(mightContain(col("_ng"))) // map-side kill, no exchange above
    ngramHits(cng, bng, idCol) // exact confirm — strategy up to Catalyst
  }

  /** CONTAINMENT decontamination — the asymmetric complement of the
    * Jaccard family: a long web page embedding a short eval prompt has
    * near-zero Jaccard (the page's n-grams swamp the union) but
    * containment ≈ 1 measured on the BENCHMARK side
    * (|doc ∩ bench| / |bench|) — exactly the leak shape [[decontaminate]]'s
    * raw overlap counts surface but don't NORMALIZE, so a fixed count
    * threshold over- or under-flags depending on benchmark length. Emits
    * one row per (corpus doc, benchmark) pair clearing `minContainment`:
    * `(idCol, bench_id, ngrams_hit, bench_ngrams, containment)`.
    *
    * Scale shape: identical to [[decontaminate]] — broadcast distinct
    * (bench_id, ngram) pairs, scan-only corpus projection, only matched
    * pairs reach the aggregation; the per-benchmark sizes are a second
    * broadcast of O(suite) rows. The ratio is an exact integer division
    * in double (both engines compute hit/size from the same two ints), so
    * the threshold compare replays bit-for-bit in an oracle. */
  def decontaminateContainment(corpus: DataFrame, idCol: String,
      textCol: String, benchmark: DataFrame, benchIdCol: String,
      benchTextCol: String, n: Int = 8,
      minContainment: Double = 0.8): DataFrame = {
    require(minContainment > 0 && minContainment <= 1,
      s"minContainment must be in (0,1]: $minContainment")
    val bng = broadcast(ngrams(benchmark, col(benchIdCol).as("bench_id"),
      benchTextCol, n).distinct())
    val sizes = broadcast(bng.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("bench_ngrams")))
    ngrams(ensureParallelism(corpus), col(idCol), textCol, n)
      .join(bng, Seq("_ng"))
      .groupBy(col(idCol), col("bench_id"))
      .agg(countDistinct(col("_ng")).as("ngrams_hit"))
      .join(sizes, Seq("bench_id"))
      .withColumn("containment",
        col("ngrams_hit").cast("double") / col("bench_ngrams"))
      .where(col("containment") >= minContainment)
      .select(col(idCol), col("bench_id"), col("ngrams_hit"),
        col("bench_ngrams"), col("containment"))
  }

  /** SEMANTIC (embedding-space) decontamination — the evasion class the
    * n-gram family ([[decontaminate]]/[[decontaminateBloom]]/
    * [[decontaminateContainment]]) cannot catch: a PARAPHRASED eval prompt
    * shares no 8-gram with its source but lands within cosine τ of its
    * embedding. Flags every (corpus, benchmark) pair with cos ≥
    * `cosThreshold`: `(idCol, bench_id, cosine)`.
    *
    * Zero new kernel code: this is [[embeddingNearDups]]'s hyperplane-LSH +
    * exact-cosine-verify composition with an ASYMMETRIC small side. The
    * benchmark's `(table, bucket) → (bench_id, vector)` map is BROADCAST,
    * so the bucket match is a map-side broadcast hash join — the corpus
    * never shuffles, and each corpus row pays `tables` bucket probes
    * instead of |benchmark| dot products (the brute-force alternative).
    * The exact cosine runs inside the same map task (both vectors are in
    * hand); only over-threshold pairs — the contamination, vanishingly
    * rare by construction — enter the final dedup exchange, which
    * collapses multi-table collisions of the same pair.
    *
    * Capture: a pair at cosine s collides in ≥1 of `tables` tables with
    * probability 1-(1-(1-acos(s)/π)^planes)^tables — at the gated
    * configuration (planes=8, tables=16, τ=0.9) a τ-level pair misses with
    * p < 1e-4 and the q75 plants (cos ≈ 0.97) with p < 1e-9; the gated
    * corpus is verified exhaustively against the exact DuckDB scan. */
  def decontaminateSemantic(corpus: DataFrame, idCol: String, vecCol: String,
      benchmark: DataFrame, benchIdCol: String, benchVecCol: String,
      dim: Int, cosThreshold: Double = 0.95, planes: Int = 8,
      tables: Int = 16, seed: Long = 42L): DataFrame = {
    import graft.vector.Similarity
    val bench = broadcast(benchmark
      .select(col(benchIdCol).as("bench_id"), col(benchVecCol).as("_bv"))
      .select(col("bench_id"), col("_bv"),
        posexplode(Similarity.tableBuckets(col("_bv"), dim, planes, tables,
          seed)).as(Seq("_t", "_b"))))
    ensureParallelism(corpus)
      .select(col(idCol), col(vecCol).as("_cv"))
      .select(col(idCol), col("_cv"),
        posexplode(Similarity.tableBuckets(col("_cv"), dim, planes, tables,
          seed)).as(Seq("_t", "_b")))
      .join(bench, Seq("_t", "_b"))
      .withColumn("cosine", Similarity.cosine(col("_cv"), col("_bv")))
      .where(col("cosine") >= cosThreshold) // map-side: pre-exchange kill
      .groupBy(col(idCol), col("bench_id"))
      .agg(round(max(col("cosine")), 6).as("cosine"))
  }

  // ------------------------------------------------ connected components

  /** Connected components over an undirected near-dup PAIR list — the step
    * between pairwise detection (minhash/simhash/embedding emit pairs) and
    * actual dedup: transitive closure groups pairs into clusters so keeper
    * selection is per-CLUSTER (one survivor per group), not per-pair
    * (which over- or under-removes on chains like a~b, b~c). Returns
    * `(node, component)` for every id appearing in a pair, where
    * `component` is the smallest id in the node's component — the unique
    * fixpoint, so the output is deterministic regardless of execution
    * order. Ids NOT in any pair have no row (they are their own keepers).
    *
    * Algorithm: min-label propagation with per-round path compression
    * (label := label(label)) — the "hash-to-min" family from the public
    * MapReduce connected-components literature; compression makes long
    * chains collapse in O(log n) rounds instead of O(diameter). Each round
    * is two keyed joins + one min-aggregation over ids-only frames, and
    * each round's labels are materialized with an eager `localCheckpoint`
    * — the same lineage-truncation discipline as [[cascade]] (a persisted
    * iterative plan nests every prior round and blows up under AQE).
    * Convergence is checked exactly (any label changed?); a graph that
    * fails to converge within `maxIters` throws rather than returning a
    * wrong coarsening. Near-dup graphs at corpus scale are shallow
    * (members cluster around a seed doc), so rounds ≈ 3-5 in practice. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 25): DataFrame = {
    // materialize the raw pair list FIRST: the caller's `pairs` is
    // typically a whole detection pipeline (LSH + exact verify), and the
    // symmetrizing union below references it twice — un-materialized, the
    // pipeline's post-shuffle compute would execute once per branch
    val e0 = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .localCheckpoint()
    // a NULL endpoint cannot carry identity through the label joins — it
    // would silently break its edge's connectivity AND emit a junk
    // (null, null) row; fail loudly instead (cheap: e0 is a leaf)
    require(e0.where(col("src").isNull || col("dst").isNull).isEmpty,
      "connectedComponents: pair list contains NULL ids")
    val edges = e0
      .unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label")).localCheckpoint()
    var it = 0
    var converged = labels.isEmpty
    while (!converged && it < maxIters) {
      // every node has >= 1 edge and every node is labeled, so the inner
      // join + min covers the full node set; least() skips NULLs, so no
      // defensive coalesce is needed (and would obscure that invariant)
      val nbrMin = edges
        .join(labels.select(col("node").as("dst"), col("label").as("_nl")),
          Seq("dst"))
        .groupBy(col("src").as("node")).agg(min(col("_nl")).as("_mn"))
      // the pre-round label rides along as _old so the convergence answer
      // can be observed off the SAME materialization below — the previous
      // separate convergence join + isEmpty action cost one extra job per
      // round (round 9; results identical, the label math is unchanged)
      val stepped = labels.join(nbrMin, Seq("node"), "left_outer")
        .select(col("node"), col("label").as("_old"),
          least(col("label"), col("_mn")).as("label"))
        .localCheckpoint() // referenced twice by the compression self-join
      // path compression: label := label(label). Every label is an
      // existing node's id (starts as own id; only ever replaced by other
      // labels), so the lookup always matches — the left_outer + coalesce
      // is deliberate belt-and-braces: if that invariant ever broke, an
      // inner join would silently DROP the node, strictly worse than
      // keeping its uncompressed label
      val obs = org.apache.spark.sql.Observation()
      val compressed = stepped
        .join(stepped.select(col("node").as("label"), col("label").as("_ll")),
          Seq("label"), "left_outer")
        .select(col("node"), col("_old"),
          coalesce(col("_ll"), col("label")).as("label"))
        .observe(obs,
          sum(when(col("label") =!= col("_old"), 1L).otherwise(0L))
            .as("_changed"))
        .drop("_old")
        .localCheckpoint()
      // the checkpoint above IS the action the Observation rode; a NULL
      // sum means zero rows (possible only on an empty graph, already
      // handled by the loop guard) — read it as converged
      converged = Option(obs.get.apply("_changed"))
        .forall(_.asInstanceOf[Long] == 0L)
      labels = compressed
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — " +
          "raise maxIters (pathological graph diameter)")
    labels.select(col("node"), col("label").as("component"))
  }

  /** Cluster-keeper report — the step that turns [[connectedComponents]]'
    * clusters into an actual REMOVAL decision, closing the
    * detect → cluster → remove arc: one keeper per cluster, everything else
    * removed. Returns one row per cluster:
    * `(component_id, component_size, keeper_id, removed)`.
    *
    * The keeper policy is min-id — which by the min-label construction is
    * exactly the component label, so `keeper_id == component_id` always;
    * the column is still produced by a real `min` aggregate (computed, not
    * aliased) so the report would expose a future labeling change rather
    * than silently asserting the old invariant.
    *
    * Scale shape: inherits [[connectedComponents]]' ids-only frames; the
    * report adds ONE counting groupBy over (node, component) pairs —
    * clusters × members enter the exchange, never payloads. */
  def clusterKeepers(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .groupBy(col("component").as("component_id"))
      .agg(count(lit(1)).as("component_size"),
        min(col("node")).as("keeper_id"),
        (count(lit(1)) - 1).as("removed"))

  /** The removal set implied by per-cluster keeper selection: every
    * clustered id EXCEPT its cluster's minimum. Single column `id` —
    * directly composable as a [[cascade]] stage:
    * {{{
    * "cluster" -> (sv => Dedup.nonKeeperIds(
    *   Dedup.minhashNearDups(sv, idCol, textCol), "id_a", "id_b")
    *   .withColumnRenamed("id", idCol))
    * }}}
    * Ids in no pair never appear (they are their own keepers). The filter
    * is label != node — no extra join over [[connectedComponents]]. */
  def nonKeeperIds(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .where(col("node") =!= col("component"))
      .select(col("node").as("id"))

  // --------------------------------------------- incremental (append batch)

  /** Frozen-corpus fingerprint STORE: `(fingerprint, keeper_id)` — one row
    * per distinct normalized text, keeper = smallest corpus id. Build ONCE
    * from corpus text, persist (parquet / bucketed table / Iceberg), and
    * every future ingest batch dedups against the store WITHOUT re-reading
    * corpus text ([[incrementalExact]]). At 10^12 rows the store is the
    * only corpus-derived state an ingest pipeline keeps warm: fingerprints
    * + ids, a few % of corpus bytes. Persist it BUCKETED by `fingerprint`
    * (the [[graft.io.IcebergEmulation.writeBucketed]] discipline) and the
    * per-batch classification join needs no store-side exchange at all —
    * only the (small) batch shuffles. */
  def fingerprintStore(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus
      .select(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"), col(idCol))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keeper_id"))

  /** Per-doc content manifest of one corpus VERSION: `(idCol,
    * fingerprint)` — the normalized-content identity of every doc, the
    * snapshot artifact [[versionDiff]] consumes. Unlike
    * [[fingerprintStore]] (which collapses to one keeper per distinct
    * content), the manifest keeps every doc id, so two snapshots can be
    * diffed doc-by-doc. Persist it bucketed by `idCol` (the
    * `IcebergEmulation.writeBucketed` discipline) and the diff join runs
    * with zero exchange. */
  def versionManifest(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus.select(col(idCol),
      TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))

  /** Version-diff report between two corpus snapshots, computed from
    * their [[versionManifest]]s ALONE — neither corpus's text is read:
    * the dataset-card numbers a curation run publishes between releases.
    * One row per doc that differs: `(idCol, status, old_fingerprint,
    * new_fingerprint)` with status ∈ {'added', 'removed', 'changed'}.
    * Docs whose normalized content is identical (null-safe: a NULL-text
    * doc on both sides is unchanged) are omitted.
    *
    * Scale shape: one id-keyed full-outer join of two narrow (id, 32-char
    * fp) manifests — ~48 B/row, and zero-exchange when both manifests are
    * bucketed by id. At 10¹²-doc scale the diff never touches a payload
    * byte. */
  def versionDiff(oldManifest: DataFrame, newManifest: DataFrame,
      idCol: String): DataFrame =
    versionStatus(oldManifest, newManifest, idCol)
      .where(col("status") =!= "unchanged")

  /** One-row-per-status census over the same diff, INCLUDING 'unchanged'
    * — the headline release-notes table. Same manifests-only contract as
    * [[versionDiff]]. */
  def versionDiffSummary(oldManifest: DataFrame, newManifest: DataFrame,
      idCol: String): DataFrame =
    versionStatus(oldManifest, newManifest, idCol)
      .groupBy(col("status"))
      .agg(count(lit(1)).as("docs"))

  /** Every doc of either manifest with its status — `(idCol, status,
    * old_fingerprint, new_fingerprint)`, status ∈ {'added', 'removed',
    * 'changed', 'unchanged'} — from the one id-keyed full-outer join.
    * Unchanged is null-safe equality, so a NULL-text doc on both sides is
    * unchanged. */
  private def versionStatus(oldManifest: DataFrame, newManifest: DataFrame,
      idCol: String): DataFrame = {
    val o = oldManifest.select(col(idCol).as("_oid"),
      col("fingerprint").as("old_fingerprint"))
    val n = newManifest.select(col(idCol).as("_nid"),
      col("fingerprint").as("new_fingerprint"))
    o.join(n, col("_oid") === col("_nid"), "full_outer")
      .select(coalesce(col("_oid"), col("_nid")).as(idCol),
        when(col("_oid").isNull, "added")
          .when(col("_nid").isNull, "removed")
          .when(col("old_fingerprint") <=> col("new_fingerprint"), "unchanged")
          .otherwise("changed").as("status"),
        col("old_fingerprint"), col("new_fingerprint"))
  }

  /** Incremental (append-batch) exact dedup — the production ingest shape:
    * classify a NEW batch against an EXISTING corpus represented only by
    * its [[fingerprintStore]], handling batch-internal duplicates in the
    * same pass. Returns one row per batch row: `(idCol, status, dup_of)`
    * with status ∈ {'dup_of_corpus', 'dup_in_batch', 'new'}:
    *  - `dup_of_corpus`: fingerprint exists in the store (EVERY such batch
    *    row, including the batch's first occurrence — the corpus copy is
    *    the keeper); `dup_of` = the store's keeper id.
    *  - `dup_in_batch`: fingerprint is new to the corpus but repeated
    *    inside the batch and this is not its smallest batch id;
    *    `dup_of` = that smallest batch id (the batch keeper).
    *  - `new`: first occurrence of a fingerprint the corpus has never
    *    seen; `dup_of` is NULL. Exactly the 'new' rows (and their
    *    fingerprints) get appended to corpus + store afterwards.
    *
    * Scale shape: corpus text is NEVER read — the store is the whole
    * corpus-side input. The batch pays one fingerprint projection, one
    * batch-sized min-window on the fingerprint, and one join against the
    * store; with the store bucketed by fingerprint the join reads store
    * buckets in place and only the batch (tiny vs corpus) shuffles. */
  def incrementalExact(batch: DataFrame, idCol: String, textCol: String,
      store: DataFrame): DataFrame = {
    val wFp = Window.partitionBy(col("_fp"))
    val fp = batch
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("_fp"))
      .withColumn("_first_id", min(col(idCol)).over(wFp))
    fp.join(
        store.select(col("fingerprint").as("_fp"),
          col("keeper_id").as("_corpus_keeper")),
        Seq("_fp"), "left_outer")
      .select(col(idCol),
        // NULL-text rows have no content identity: the join's equality
        // never matches them against the corpus, but the window's
        // partitionBy GROUPS null fingerprints together — without the
        // guard, two unknown-content rows would be declared duplicates
        // of each other and one silently dropped downstream. They land
        // 'new'; q01's null checks own that hygiene.
        when(col("_fp").isNull, "new")
          .when(col("_corpus_keeper").isNotNull, "dup_of_corpus")
          .when(col(idCol) =!= col("_first_id"), "dup_in_batch")
          .otherwise("new").as("status"),
        when(col("_fp").isNull, lit(null))
          .when(col("_corpus_keeper").isNotNull, col("_corpus_keeper"))
          .when(col(idCol) =!= col("_first_id"), col("_first_id"))
          .as("dup_of"))
  }

  /** Frozen-corpus NEAR-dup banded-signature store — the LSH counterpart
    * of [[fingerprintStore]]: the exploded `(id, band, bandhash)` frame a
    * future ingest batch band-joins against ([[incrementalMinhash]]).
    * Build ONCE from corpus text and persist BUCKETED by `bandhash`, so
    * the per-batch candidate join reads store buckets in place — only the
    * (small) batch side shuffles. Size: `bands` longs + an id per corpus
    * doc, a tiny fraction of corpus bytes. */
  def minhashStore(corpus: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numHashes: Int = 64, bands: Int = 16,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    // the cap applies at store-BUILD time: a degenerate corpus bucket
    // (boilerplate cluster sharing one (band, bandhash)) persisted
    // uncapped would fan every colliding batch row out against all its
    // members at ingest — the hot-bucket blowup capBuckets exists to
    // stop, reintroduced on the corpus side. Same monitoring contract as
    // the online path: run [[oversizedBuckets]] on the banded frame to
    // see what the cap dropped.
    capBuckets(
      minhashBanded(corpus, idCol, textCol, shingleLen, numHashes, bands),
      Seq("_band", "_bandhash"), maxBucketSize)
      .select(col("_id").as(idCol), col("_band").as("band"),
        col("_bandhash").as("bandhash"))

  /** Frozen-corpus shingle-set store: `(id, shingles)` — the verify-side
    * state for [[incrementalMinhash]]'s exact-Jaccard confirmation, so
    * candidate verification never re-reads corpus TEXT either (the
    * standard signature-cache trade: shingle sets are comparable to text
    * in size but are the derived artifact an LSH ingest pipeline keeps,
    * bucketed by id so the verify join reads store buckets in place). */
  def shingleStore(corpus: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3): DataFrame =
    corpus.select(col(idCol),
      shingleSet(col(textCol), shingleLen).as("shingles"))

  /** Incremental (append-batch) NEAR-dup classification — [[incrementalExact]]
    * lifted to the MinHash+LSH family: classify a NEW batch against an
    * EXISTING corpus represented only by its [[minhashStore]] +
    * [[shingleStore]], handling batch-internal near-dups in the same pass.
    * One row per batch row: `(idCol, status, dup_of, jaccard)` with
    * status ∈ {'near_dup_of_corpus', 'near_dup_in_batch', 'new'}:
    *  - `near_dup_of_corpus`: some corpus doc has exact-verified Jaccard
    *    ≥ `threshold` (the corpus copy outranks any batch claim, as in
    *    exact incremental); `dup_of` = the SMALLEST matching corpus id,
    *    `jaccard` = that pair's similarity.
    *  - `near_dup_in_batch`: no corpus match, but a SMALLER batch id
    *    matches at ≥ threshold — pairwise-greedy semantics (near-dup is
    *    not transitive; feed [[minhashNearDups]] pairs through
    *    [[connectedComponents]] when cluster-level removal is wanted);
    *    `dup_of` = the smallest such batch id.
    *  - `new`: no match either side; `dup_of`/`jaccard` NULL. Exactly the
    *    'new' rows get their signatures + shingles appended to the stores.
    *
    * Scale shape: corpus TEXT is never read — both corpus-side inputs are
    * the stores. Candidate generation is the banded join (skew-capped on
    * the batch side; build the store with [[minhashStore]] and the same
    * cap discipline), verification joins ids-only candidates to the two
    * shingle sources, and the final classification is two left joins on
    * the batch id. With the stores bucketed by their keys only the batch
    * ever shuffles.
    *
    * The batch's shingle sets are computed for every batch row, with no
    * [[minhashNearDups]]-style candidate-id prefilter: the batch is the
    * bounded ingest increment by this operator's contract, and on a
    * bounded input the prefilter's extra materialization job costs more
    * than the sets it skips (measured r9: q58's ~100-row batch went
    * 0.45 → 1.0 s under the prefilter; OPTIMIZATION_r09.md). */
  def incrementalMinhash(batch: DataFrame, idCol: String, textCol: String,
      bandedStore: DataFrame, shStore: DataFrame, threshold: Double = 0.8,
      shingleLen: Int = 3, numHashes: Int = 64, bands: Int = 16,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val banded = minhashBanded(batch, idCol, textCol, shingleLen, numHashes, bands)
    val batchBanded = capBuckets(banded, Seq("_band", "_bandhash"), maxBucketSize)
    val corpusCands = batchBanded
      .join(bandedStore.select(col(idCol).as("_cid"),
        col("band").as("_band"), col("bandhash").as("_bandhash")),
        Seq("_band", "_bandhash"))
      .select(col("_id"), col("_cid")).distinct()
    val batchSh = ensureParallelism(batch)
      .select(col(idCol).as("_id"), shingleSet(col(textCol), shingleLen).as("_sh"))
    val corpusBest = corpusCands
      .join(batchSh, Seq("_id"))
      .join(shStore.select(col(idCol).as("_cid"), col("shingles").as("_csh")),
        Seq("_cid"))
      .withColumn("_j", jaccard(col("_sh"), col("_csh")))
      .where(col("_j") >= threshold)
      .groupBy(col("_id"))
      .agg(min(struct(col("_cid"), col("_j"))).as("_best"))
      .select(col("_id").as(idCol), col("_best._cid").as("_corpus_keeper"),
        col("_best._j").as("_cj"))
    // in-batch pairs verify against batchSh with no candidate-id prefilter
    // (see the scaladoc); bucketPairs caps the uncapped `banded` itself
    val batchBest = verifyPairs(
        bucketPairs(banded, Seq("_band", "_bandhash"), maxBucketSize).distinct(),
        batchSh, jaccard, "jaccard", threshold)
      .groupBy(col("id_b"))
      .agg(min(struct(col("id_a"), col("jaccard"))).as("_best"))
      .select(col("id_b").as(idCol), col("_best.id_a").as("_batch_keeper"),
        col("_best.jaccard").as("_bj"))
    batch.select(col(idCol))
      .join(corpusBest, Seq(idCol), "left_outer")
      .join(batchBest, Seq(idCol), "left_outer")
      .select(col(idCol),
        when(col("_corpus_keeper").isNotNull, "near_dup_of_corpus")
          .when(col("_batch_keeper").isNotNull, "near_dup_in_batch")
          .otherwise("new").as("status"),
        when(col("_corpus_keeper").isNotNull, col("_corpus_keeper"))
          .when(col("_batch_keeper").isNotNull, col("_batch_keeper"))
          .as("dup_of"),
        round(when(col("_corpus_keeper").isNotNull, col("_cj"))
          .otherwise(col("_bj")), 6).as("jaccard"))
  }

  // -------------------------------------------------------------- cascade

  /** Sequential dedup CASCADE — the composition a real training-data
    * pipeline runs (exact → minhash → embedding …), not just the stages in
    * isolation: each stage sees only the SURVIVORS of the previous one, and
    * the emitted per-stage removal counts are the numbers a data curation
    * report publishes. Returns one row per stage:
    * `(stage: string, removed: long, surviving: long)`.
    *
    * Each stage is `(name, survivors => idsToRemove)` — the removal frame
    * needs only the `idCol` column (extra columns are ignored). Duplicate
    * or foreign removal ids are neutralized by the left_anti join's
    * SET-WISE matching below — an id can only drop a survivor row that
    * exists, once — so a stage returning ids it was never shown cannot
    * corrupt the count; no explicit dedup/intersection pass is needed.
    *
    * Scale shape: survivor state between stages is an IDS-ONLY frame,
    * materialized per stage with an eager `localCheckpoint` — which both
    * stores the ids AND TRUNCATES LINEAGE. The truncation is load-bearing,
    * not an optimization nicety: a `persist`ed id frame keeps the full
    * logical plan, so stage k's survivor frame nests every prior stage's
    * joins/aggregations, and under AQE each reference re-plans (and can
    * re-execute) that whole nested tree — measured 63 s vs 10 s for the
    * three-stage q44 cascade at sf0.01, a gap that GROWS with stage count.
    * This is the standard iterative-algorithm discipline (MLlib/GraphX
    * checkpoint for the same reason). The wide payload is re-attached per
    * stage via a left-semi join against the original input; per-stage
    * counts are O(stages) driver-side longs. Trade: localCheckpoint blocks
    * are not fault-tolerant (an executor loss fails the job instead of
    * recomputing) — acceptable for an idempotent report query; a 100 TB
    * run wanting mid-cascade fault tolerance sets
    * `spark.checkpoint.dir` and swaps in reliable `checkpoint()`, a
    * one-line StorageLevel-style choice, not a shape change. Checkpoint
    * blocks are released by the ContextCleaner once the returned report
    * (a local frame) drops the references. The stage count (`removed`) is
    * an action per stage — inherent: stage k+1's INPUT is defined by
    * stage k's output. */
  def cascade(df: DataFrame, idCol: String,
      stages: Seq[(String, DataFrame => DataFrame)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // the initial count and every stage's surviving count ride the SAME
    // materialization as the checkpoint via an Observation (the
    // connectedComponents r9 discipline) — a separate count() per stage
    // was one extra job each, pure bookkeeping over already-checkpointed
    // ids-only frames
    def checkpointCounted(ids: DataFrame): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val ck = ids.observe(obs, count(lit(1)).as("n")).localCheckpoint()
      (ck, obs.get.apply("n").asInstanceOf[Long])
    }
    var (survivorIds, survivingCount) = checkpointCounted(df.select(col(idCol)))
    val report = Seq.newBuilder[(String, Long, Long)]
    for ((name, findRemovals) <- stages) {
      val survivors = df.join(survivorIds, Seq(idCol), "left_semi")
      // no distinct() on the removal ids: left_anti matches set-wise, so
      // duplicate ids cannot double-remove — and the distinct would be one
      // more shuffle per stage
      val removeIds = findRemovals(survivors).select(col(idCol))
      val (keepIds, kept) = checkpointCounted(
        survivorIds.join(removeIds, Seq(idCol), "left_anti"))
      report += ((name, survivingCount - kept, kept))
      survivingCount = kept
      survivorIds = keepIds
    }
    report.result().toDF("stage", "removed", "surviving")
  }

  // ------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-duplicates via MULTI-TABLE random-hyperplane LSH
    * buckets + in-bucket exact cosine verify. A single hyperplane table is
    * nearly useless at realistic thresholds — at cos 0.95 (θ≈18°,
    * per-plane agreement p≈0.9) one 12-plane table captures a pair with
    * probability p¹²≈0.28; `tables` independent tables lift capture to
    * 1−(1−p^planes)^tables ≈ 0.93 at the default 8 (exact duplicates,
    * cos=1, always collide). Hyperplanes are deterministic (seeded).
    * Oversized buckets are dropped per (table, bucket) (skew guard — see
    * object doc). See [[graft.vector.Similarity]] for the primitives. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, cosThreshold: Double = 0.95, planes: Int = 12,
      tables: Int = 8, seed: Long = 42L,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    import graft.vector.Similarity
    // exploded rows carry (table, bucket, id) only; vectors re-join after
    // the ids-only candidate dedup (same shape as Similarity.lshTopK).
    // Buckets come from the native codegen expression — all tables in one
    // per-row loop (Similarity.tableBuckets).
    val base = df.select(col(idCol).as("_id"), col(vecCol).as("_v"))
    val banded = base
      .select(col("_id"),
        posexplode(Similarity.tableBuckets(col("_v"), dim, planes, tables, seed)))
      .select(col("_id"), struct(col("pos").as("t"), col("col").as("b")).as("_tb"))
    val candIds = bucketPairs(banded, Seq("_tb"), maxBucketSize).distinct()
    // NOTE (r9): a minhash-style candidate-id semi-join prefilter was
    // tried here and REVERTED after measurement — unlike the shingle-set
    // verify (where the prefilter saves an O(len²) per-row computation
    // over the whole corpus), vectors are STORED, so there is nothing to
    // avoid computing; AQE already broadcasts a small candidate side (the
    // vector table enters no exchange), and when candidates outgrow
    // broadcast the prefilter's forced broadcast fails exactly where the
    // plain join degrades gracefully to SMJ. The prefilter only added an
    // eager materialization job (q18 0.64 → 1.07 s measured). See
    // OPTIMIZATION_r09.md.
    verifyPairs(candIds, base, Similarity.cosine, "cosine", cosThreshold)
  }
}
