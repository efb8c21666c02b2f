package graft.queries

import graft.SparkEntry.tbl
import graft.io.OracleTables
import graft.spec._
import graft.text.TextAnalysis
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication, decontamination and nearest-neighbour queries, over
  * operators from `graft.dedup` and `graft.vector`. */
object DedupQueries {

  /** Content-keyed cache discipline for frozen corpus-derived store
    * tables (q51/q58): the table is keyed by
    * `<corpusbasename>_<md5 of the corpus files' name/length/mtime>` —
    * never the dir basename alone, so a regenerated or foreign corpus can
    * never be served a stale store — and same-corpus keys with a DIFFERENT
    * content hash are definitionally superseded (regenerated fixtures) and
    * dropped, while stores for other corpora (other scale factors) coexist
    * untouched. `build(tableName, path)` runs only when the keyed table
    * does not exist yet; returns the table name. */
  private def cachedCorpusStore(s: SparkSession, dir: String,
      prefix: String)(build: (String, String) => Unit): String = {
    val docsPath = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val docsFs = docsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val corpusName = new java.io.File(dir).getName.replace('.', '_')
    val contentKey = java.security.MessageDigest.getInstance("MD5")
      .digest(docsFs.listStatus(docsPath)
        .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .sorted.mkString("|").getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    val sfKey = s"${corpusName}_$contentKey"
    val storeTbl = s"graft_${prefix}_$sfKey"
    if (!s.catalog.tableExists(storeTbl)) {
      import s.implicits._
      s.catalog.listTables().map(_.name).collect()
        .filter(t => t.startsWith(s"graft_${prefix}_${corpusName}_") && t != storeTbl)
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS `$t`"))
      val storeRoot = new org.apache.hadoop.fs.Path(
        s"${OracleTables.ScratchRoot}/graft-$prefix")
      val storeFs = storeRoot.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (storeFs.exists(storeRoot))
        storeFs.listStatus(storeRoot).map(_.getPath)
          .filter(p => p.getName.startsWith(s"${corpusName}_") && p.getName != sfKey)
          .foreach(p => storeFs.delete(p, true))
      build(storeTbl, s"${OracleTables.ScratchRoot}/graft-$prefix/$sfKey")
    }
    storeTbl
  }

  val cases: Seq[QueryCase] = Seq(
    // Exact dedup: keeper rows after fingerprint-group dedup
    QueryCase("q12_dedup_exact", (s, dir) =>
      graft.dedup.Dedup.exactKeep(tbl(s, dir, "documents"), "doc_id", "text")
        .select("doc_id"),
      Some(_ =>
        """SELECT doc_id FROM (
          | SELECT doc_id, ROW_NUMBER() OVER (
          |   PARTITION BY MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g'))))
          |   ORDER BY doc_id) AS rn
          | FROM documents) WHERE rn = 1""".stripMargin)),

    // MinHash+LSH near-dup pairs w/ exact Jaccard verify.
    // Trigram shingles: these synthetic docs all draw on a ~30-word
    // vocabulary, so unigram/bigram sets overlap heavily for EVERY pair
    // (candidate explosion — measured 204s at sf0.1 with bigrams);
    // trigrams restore discrimination (the reference corpus granularity
    // most dedup pipelines use).
    // cap disabled here: this query's oracle is an UNCAPPED all-pairs scan,
    // so the skew guard (production default) must not drop any bucket —
    // exactness is the claim under test. Production callers keep the cap
    // and monitor Dedup.oversizedBuckets.
    // Runs with the DEFAULT LSH skew cap — the configuration a 100 TB run
    // uses (round-6 verdict #1: these queries previously passed
    // Int.MaxValue "for exact recall", the one setup that goes quadratic
    // on a degenerate bucket). The exact-recall oracle still holds because
    // capped ≡ uncapped at the test scales: no (band, hash) bucket comes
    // near DefaultMaxBucketSize=1000 — pinned by DedupSpec's
    // "skew cap is a no-op on the documents corpus" equality test at
    // sf0.1, and bounded a priori at sf0.01 (500 docs < cap).
    // Oracle: exact all-pairs trigram Jaccard — the brute-force ground truth
    // the LSH+verify pipeline must reproduce (banding params give per-pair
    // miss probability < 1e-14 at j=0.8; the exact-Jaccard verify makes false
    // positives impossible)
    QueryCase("q14_minhash_neardups", (s, dir) =>
      graft.dedup.Dedup.minhashNearDups(tbl(s, dir, "documents"),
        "doc_id", "text", threshold = 0.8, shingleLen = 3),
      Some(_ =>
        """WITH t AS (
          | SELECT doc_id, str_split(text, ' ') AS toks FROM documents
          |), s AS (
          | SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3
          |   THEN [array_to_string(toks, ' ')]
          |   ELSE list_transform(generate_series(1, len(toks) - 2),
          |          i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
          | FROM t
          |)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          |    / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
          |FROM s a JOIN s b ON a.doc_id < b.doc_id
          |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8""".stripMargin)),

    // SimHash near-dup pairs via pigeonhole chunks. Uses the 60-bit
    // md5-derived token hash (TextAnalysis.md5Hash60) so the DuckDB oracle
    // can recompute the identical signatures; the pigeonhole bucketing has
    // EXACT recall for hamming ≤ maxHamming, so the result equals the
    // oracle's brute-force all-pairs scan deterministically.
    // default skew cap ON (see q14's note): capped ≡ uncapped at test
    // scales (DedupSpec equality pin), so exact recall is preserved
    // Oracle: brute-force simhash over the same 60-bit md5 token hash;
    // pigeonhole chunking has exact recall so the Spark result equals this
    // scan
    QueryCase("q15_simhash_neardups", (s, dir) =>
      graft.dedup.Dedup.simhashNearDups(tbl(s, dir, "documents"),
        "doc_id", "text", maxHamming = 3, bits = 60,
        family = graft.dedup.Dedup.TokenHashFamily.Custom(TextAnalysis.md5Hash60)),
      Some(_ =>
        """WITH th AS (
          | SELECT doc_id, CAST(CONCAT('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
          | FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents)
          |), votes AS (
          | SELECT doc_id, b.bit,
          |   SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
          | FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) b
          | GROUP BY doc_id, b.bit
          |), sims AS (
          | SELECT doc_id,
          |   CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS sim
          | FROM votes GROUP BY doc_id
          |)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
          |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.sim, b.sim)) <= 3""".stripMargin)),

    // Brute-force cosine top-k (ANN correctness baseline)
    // Oracle: exact cosine top-k in double precision (identical fold order)
    QueryCase("q16_ann_bruteforce", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.vector.Similarity.bruteForceTopK(emb,
        emb.where(col("vec_id") < 5), "vec_id", "embedding", 5)
    }, Some(_ =>
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 5),
        |scored AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |   list_dot_product(q.v, c.v)
        |     / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
        | FROM e c, q WHERE c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
        |  CAST(rn AS INTEGER) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, neighbor_id) AS rn FROM scored)
        |WHERE rn <= 5""".stripMargin)),

    // Multi-table LSH ANN — the scale path (no corpus shuffle). Recall
    // params are tuned for this corpus (near-random embeddings are LSH's
    // theoretical worst case: top-5 cosine ≈ 0.3-0.45 ⇒ weak hyperplane
    // agreement) so the result EQUALS exact brute-force top-k and shares
    // its oracle; clustered real-world embeddings need far fewer probes.
    // Oracle: the LSH path is tuned to full recall on this corpus (see the
    // query comment), so its ground truth is the same exact top-k scan
    QueryCase("q17_ann_lsh", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.vector.Similarity.lshTopK(emb,
        emb.where(col("vec_id") < 5), "vec_id", "embedding", 5, dim = 64,
        planes = 4, tables = 16, multiProbeBits = 2)
    }, Some(_ =>
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 5),
        |scored AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |   list_dot_product(q.v, c.v)
        |     / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
        | FROM e c, q WHERE c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
        |  CAST(rn AS INTEGER) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, neighbor_id) AS rn FROM scored)
        |WHERE rn <= 5""".stripMargin)),

    // IVF (inverted-file) ANN: deterministic k-means coarse cells + probed
    // exact search. On THIS corpus (near-random embeddings — coarse
    // quantization's worst case: true neighbors at cos≈0.3 land in
    // arbitrary cells) only nprobe=nCells is exact, so the driver query
    // runs the degenerate full-probe setting to oracle the whole machinery
    // (training → binning → probe ranking → scored top-k) against ground
    // truth; the recall-vs-nprobe trade on partial probes is pinned by
    // IvfSpec. Clustered real-world embeddings probe a small fraction.
    // Oracle: full-probe IVF equals exact top-k by construction; the oracle
    // is the same ground-truth scan (training/binning/probing all had to be
    // right for the result to match)
    QueryCase("q32_ann_ivf", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cents = graft.vector.Similarity.trainCentroids(
        emb, "vec_id", "embedding", nCells = 16, iters = 2)
      graft.vector.Similarity.ivfTopK(emb, emb.where(col("vec_id") < 5),
        "vec_id", "embedding", 5, cents, nprobe = 16)
    }, Some(_ =>
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 5),
        |scored AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |   list_dot_product(q.v, c.v)
        |     / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
        | FROM e c, q WHERE c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
        |  CAST(rn AS INTEGER) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, neighbor_id) AS rn FROM scored)
        |WHERE rn <= 5""".stripMargin)),

    // Embedding-cosine near-duplicate pairs
    // Oracle: all-pairs cosine ≥ threshold (none exist in this corpus — max
    // pairwise cosine ≈ 0.51 — so this pins the no-false-positives side)
    QueryCase("q18_embedding_neardups", (s, dir) =>
      graft.dedup.Dedup.embeddingNearDups(tbl(s, dir, "embeddings"),
        "vec_id", "embedding", dim = 64, cosThreshold = 0.9),
      Some(_ =>
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
          |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |  round(list_dot_product(a.v, b.v)
          |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
          |FROM e a JOIN e b ON a.vec_id < b.vec_id
          |WHERE list_dot_product(a.v, b.v)
          |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.9""".stripMargin)),

    // Embedding near-dup CAPTURE side (round-2 verdict #1): q18's corpus has
    // no true near-dups (max cos≈0.51), so it pins only the no-false-
    // positives side. Here the corpus is UNIONed with deterministically
    // perturbed copies of its first 20 vectors (+0.03 per component, in
    // double — reproducible in DuckDB SQL; the embeddings are unit-norm, so
    // planted cosines land at 0.971-0.975, far above threshold 0.9 and far
    // below the 0.513 max of the organic pairs). embeddingNearDups must FIND
    // exactly the planted pairs: the oracle is the exact all-pairs scan.
    // planes=8/tables=16: every planted pair collides in ≥4 tables on this
    // data (verified against the deterministic hyperplanes), so capture is
    // exact with margin, not probabilistic luck.
    // Oracle: exact all-pairs cosine over the corpus PLUS the planted
    // perturbed copies — the LSH pipeline must capture every planted pair
    // exactly
    QueryCase("q33_embedding_neardups_planted", (s, dir) => {
      val emb = tbl(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      // collision-proof plant offset (the q44 rationale): +1e5 would
      // duplicate real vec_ids once embeddings exceeds 100k rows
      val planted = emb.where(col("vec_id") < 20)
        .select((col("vec_id") + 200000000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.03d)).as("embedding"))
      graft.dedup.Dedup.embeddingNearDups(emb.unionByName(planted),
        "vec_id", "embedding", dim = 64, cosThreshold = 0.9,
        planes = 8, tables = 16)
    }, Some(_ =>
      """WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |e AS (
        | SELECT vec_id, v FROM e0
        | UNION ALL
        | SELECT vec_id + 200000000 AS vec_id, list_transform(v, x -> x + 0.03) AS v
        | FROM e0 WHERE vec_id < 20
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.9""".stripMargin)),

    // Exact n-gram Jaccard scoring: broadcast query docs vs the full corpus
    // (the brute-force ground truth of the dedup family, as q16 is for ANN)
    QueryCase("q31_ngram_jaccard", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.dedup.Dedup.jaccardScores(docs,
        docs.where(col("doc_id") < 50), "doc_id", "text", threshold = 0.2)
    }, Some(_ =>
      """WITH t AS (
        | SELECT doc_id, str_split(text, ' ') AS toks FROM documents
        |), s AS (
        | SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3
        |   THEN [array_to_string(toks, ' ')]
        |   ELSE list_transform(generate_series(1, len(toks) - 2),
        |          i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
        | FROM t
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
        |FROM s a JOIN s b ON a.doc_id <> b.doc_id
        |WHERE a.doc_id < 50
        |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2""".stripMargin)),

    // Dedup CASCADE (round-5 verdict #4): the stages pass individually
    // (q12 exact, q14 minhash, q18/q33 embedding) — a real curation
    // pipeline CHAINS them, each stage seeing only the survivors of the
    // last, and reports per-stage removal counts. The corpus is documents
    // plus two deterministic plants so every stage has real work at this
    // scale: verbatim-text copies of docs 0-9 under fresh ids (caught by
    // stage 1 exactly), and 20 docs with fresh single-token texts whose
    // vectors (doc_id = vec_id join) are the q33 perturbed copies
    // (cos ≈ 0.97 vs their source — caught by stage 3 exactly; their
    // unique texts sail through stages 1-2). Stage 2 removes the larger id
    // of each exact-Jaccard-verified near-dup pair among stage-1
    // survivors. The oracle replays the IDENTICAL cascade rules in SQL, so
    // a hash match pins the stage composition — survivor threading, stage
    // ordering, count bookkeeping — not just each stage alone. Note the
    // embedding stage scores only survivors that HAVE a vector (inner
    // join): the verbatim-copy ids carry none, but stage 1 has already
    // removed them.
    // Oracle: the full cascade replayed in SQL with the IDENTICAL rules: the
    // q12 fingerprint keeper (stage 1), the q14 exact trigram-Jaccard pairs
    // (stage 2, larger id of each pair removed), and the q33 exact cosine
    // pairs over doc_id = vec_id joined vectors (stage 3) — each stage
    // computed over the previous stage's survivors, counts differenced
    QueryCase("q44_dedup_cascade", (s, dir) => {
      import graft.dedup.Dedup
      val docs = tbl(s, dir, "documents")
      val emb = tbl(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      // plant id offsets sit far above any real doc_id at every test scale
      // (documents grows ~50k rows per sf unit; 1e8/2e8 keeps the ids
      // collision-free to ~sf2000 — a colliding offset would silently turn
      // the id-based anti-joins into double-removals)
      val exactCopies = docs.where(col("doc_id") < 10)
        .select((col("doc_id") + 100000000L).as("doc_id"), col("text"))
      val plantedDocs = s.range(20)
        .select((col("id") + 200000000L).as("doc_id"),
          concat(lit("planteddoc"), col("id").cast(StringType)).as("text"))
      val corpus = docs.select("doc_id", "text")
        .unionByName(exactCopies).unionByName(plantedDocs)
      val plantedVecs = emb.where(col("vec_id") < 20)
        .select((col("vec_id") + 200000000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.03d)).as("embedding"))
      val vectors = emb.unionByName(plantedVecs)
      Dedup.cascade(corpus, "doc_id", Seq(
        "exact" -> (sv => sv.join(
          Dedup.exactKeep(sv, "doc_id", "text").select("doc_id"),
          Seq("doc_id"), "left_anti")),
        // default skew cap ON (round-6 verdict #1) — the 100 TB config;
        // capped ≡ uncapped here (see q14's note + DedupSpec pin)
        "minhash" -> (sv => Dedup.minhashNearDups(sv, "doc_id", "text",
          threshold = 0.8, shingleLen = 3)
          .select(col("id_b").as("doc_id"))),
        "embedding" -> (sv => Dedup.embeddingNearDups(
          sv.join(vectors, sv("doc_id") === vectors("vec_id"))
            .select(sv("doc_id"), col("embedding")),
          "doc_id", "embedding", dim = 64, cosThreshold = 0.9,
          planes = 8, tables = 16)
          .select(col("id_b").as("doc_id")))))
    }, Some(_ =>
      """WITH base AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 100000000 AS doc_id, text FROM documents WHERE doc_id < 10
        | UNION ALL
        | SELECT 200000000 + i AS doc_id, concat('planteddoc', i) AS text
        | FROM (SELECT unnest(generate_series(0, 19)) AS i)
        |), vec AS (
        | SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        | UNION ALL
        | SELECT vec_id + 200000000 AS vec_id,
        |   list_transform(embedding::DOUBLE[], x -> x + 0.03) AS v
        | FROM embeddings WHERE vec_id < 20
        |), s1 AS (
        | SELECT doc_id, text FROM (
        |  SELECT doc_id, text, ROW_NUMBER() OVER (
        |    PARTITION BY MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g'))))
        |    ORDER BY doc_id) AS rn
        |  FROM base) WHERE rn = 1
        |), sh AS (
        | SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3
        |   THEN [array_to_string(toks, ' ')]
        |   ELSE list_transform(generate_series(1, len(toks) - 2),
        |          i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
        | FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM s1)
        |), mh_removed AS (
        | SELECT DISTINCT b.doc_id FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |     / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
        |), s2 AS (
        | SELECT doc_id FROM s1
        | WHERE doc_id NOT IN (SELECT doc_id FROM mh_removed)
        |), ej AS (
        | SELECT s2.doc_id, vec.v FROM s2 JOIN vec ON s2.doc_id = vec.vec_id
        |), em_removed AS (
        | SELECT DISTINCT b.doc_id FROM ej a JOIN ej b ON a.doc_id < b.doc_id
        | WHERE list_dot_product(a.v, b.v)
        |     / (sqrt(list_dot_product(a.v, a.v))
        |        * sqrt(list_dot_product(b.v, b.v))) >= 0.9
        |), s3 AS (
        | SELECT doc_id FROM s2
        | WHERE doc_id NOT IN (SELECT doc_id FROM em_removed)
        |)
        |SELECT 'exact' AS stage,
        |  (SELECT COUNT(*) FROM base) - (SELECT COUNT(*) FROM s1) AS removed,
        |  (SELECT COUNT(*) FROM s1) AS surviving
        |UNION ALL
        |SELECT 'minhash' AS stage,
        |  (SELECT COUNT(*) FROM s1) - (SELECT COUNT(*) FROM s2) AS removed,
        |  (SELECT COUNT(*) FROM s2) AS surviving
        |UNION ALL
        |SELECT 'embedding' AS stage,
        |  (SELECT COUNT(*) FROM s2) - (SELECT COUNT(*) FROM s3) AS removed,
        |  (SELECT COUNT(*) FROM s3) AS surviving""".stripMargin)),

    // Benchmark DECONTAMINATION (training-data hygiene): flag corpus docs
    // sharing any word 5-gram with a benchmark suite. The suite is a FIXED
    // 10 docs (id residue 7 mod 50, capped below 500 so its size does not
    // grow with the corpus — a benchmark suite is constant-size, which is
    // what makes the broadcast bound unconditional) — each flags itself
    // (verbatim containment) and drags in its near-duplicates (the
    // generator's planted near-dup family shares long n-grams), so the
    // output exercises both the "exact leak" and the "mutated leak" case.
    // Corpus side is one scan, no shuffle (broadcast suite); see
    // Dedup.decontaminate.
    // Oracle: word 5-gram overlap against the 10-doc benchmark suite — the
    // q31 shingle recipe (whole-text fallback under 5 tokens), then a plain
    // ngram equijoin + two COUNT(DISTINCT)s
    QueryCase("q47_decontamination", (s, dir) => {
      import graft.dedup.Dedup
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val bench = docs.where(col("doc_id") < 500 && col("doc_id") % 50 === 7)
        .select(col("doc_id").as("bench_id"), col("text"))
      Dedup.decontaminate(docs, "doc_id", "text",
        bench, "bench_id", "text", n = 5)
    }, Some(_ =>
      s"""WITH t AS (
         | SELECT doc_id, str_split(text, ' ') AS toks FROM documents
         |), s AS (
         | SELECT doc_id, list_distinct(CASE WHEN len(toks) < 5
         |   THEN [array_to_string(toks, ' ')]
         |   ELSE list_transform(generate_series(1, len(toks) - 4),
         |          i -> array_to_string(toks[i:i+4], ' ')) END) AS sh
         | FROM t
         |), cng AS (
         | SELECT doc_id, unnest(sh) AS ng FROM s
         |), bng AS (
         | SELECT DISTINCT bench_id, ng FROM
         |   (SELECT doc_id AS bench_id, unnest(sh) AS ng FROM s
         |    WHERE doc_id < 500 AND doc_id % 50 = 7)
         |)
         |SELECT c.doc_id,
         |  COUNT(DISTINCT b.bench_id) AS benchmarks_hit,
         |  COUNT(DISTINCT c.ng) AS ngrams_hit
         |FROM cng c JOIN bng b ON c.ng = b.ng
         |GROUP BY c.doc_id""".stripMargin)),

    // Near-dup CLUSTERS: pairwise detection (q14's LSH pairs, exact-
    // verified) composed with transitive closure — keeper selection is
    // per-CLUSTER, not per-pair (a chain a~b, b~c is ONE group with one
    // keeper, which pair-local removal gets wrong). Components via
    // min-label propagation + path compression, each round's ids-only
    // labels localCheckpoint'ed (the cascade lineage discipline). The
    // oracle recomputes the exact pairs (the q14 recipe) and closes them
    // with a recursive CTE — component id (min doc_id) and size must
    // match exactly.
    // Oracle: exact pairs (the q14 recipe) transitively closed with a
    // recursive CTE; component id = min reachable doc_id, size over the
    // membership
    QueryCase("q50_neardup_components", (s, dir) => {
      import graft.dedup.Dedup
      import org.apache.spark.sql.expressions.Window
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      // default skew cap ON (round-6 verdict #1) — the 100 TB config;
      // capped ≡ uncapped here (see q14's note + DedupSpec pin)
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.8, shingleLen = 3)
        .select("id_a", "id_b")
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("node").as("doc_id"), col("component").as("component_id"))
        .withColumn("component_size",
          count(lit(1)).over(Window.partitionBy(col("component_id"))))
    }, Some(_ =>
      s"""WITH RECURSIVE t AS (
         | SELECT doc_id, str_split(text, ' ') AS toks FROM documents
         |), s AS (
         | SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3
         |   THEN [array_to_string(toks, ' ')]
         |   ELSE list_transform(generate_series(1, len(toks) - 2),
         |          i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
         | FROM t
         |), pairs AS (
         | SELECT a.doc_id AS id_a, b.doc_id AS id_b
         | FROM s a JOIN s b ON a.doc_id < b.doc_id
         | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |     / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
         |), edges AS (
         | SELECT id_a AS src, id_b AS dst FROM pairs
         | UNION
         | SELECT id_b AS src, id_a AS dst FROM pairs
         |), nodes AS (
         | SELECT DISTINCT src AS node FROM edges
         |), reach(node, r) AS (
         | SELECT node, node FROM nodes
         | UNION
         | SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
         |), comp AS (
         | SELECT node AS doc_id, MIN(r) AS component_id FROM reach GROUP BY node
         |)
         |SELECT doc_id, component_id,
         |  COUNT(*) OVER (PARTITION BY component_id) AS component_size
         |FROM comp""".stripMargin)),

    // Incremental (append-batch) dedup against a FROZEN corpus (round-6
    // verdict next-round #2): the production ingest shape none of
    // q12/q14/q44 exercises — dedup a NEW batch against an established
    // corpus WITHOUT re-reading corpus text. The corpus is represented
    // only by its fingerprint STORE, built once and persisted as a
    // fingerprint-bucketed table (the q39 discipline: the classification
    // join reads store buckets in place; only the small batch shuffles —
    // PlanShapeSpec pins that corpus text never enters this plan). The
    // batch plants all three outcomes: verbatim copies of docs 100-149
    // under fresh ids (dup_of_corpus, keeper = the source doc) and 10
    // fresh docs repeating each of 5 new texts twice (first occurrence
    // new, second dup_in_batch). The oracle replays the identical
    // classification over (corpus ∪ batch) in SQL.
    // Oracle: incremental dedup replayed over (corpus ∪ batch): corpus keeper
    // per fingerprint (the q12 recipe), batch defined by the same id-shift +
    // fresh-doc rules, status by store membership then batch-first-id
    QueryCase("q51_incremental_dedup", (s, dir) => {
      import graft.dedup.Dedup
      val docs = tbl(s, dir, "documents")
      val storeTbl = cachedCorpusStore(s, dir, "fpstore") { (tblName, path) =>
        graft.io.IcebergEmulation.writeBucketed(
          Dedup.fingerprintStore(docs, "doc_id", "text"),
          TableSpec("fp_store", Seq(
            ColumnSpec("fingerprint", StringType),
            ColumnSpec("keeper_id", LongType)), keyCols = Seq("fingerprint")),
          tblName, buckets = 16, path = Some(path))
      }
      val store = s.table(storeTbl)
      val batch = docs
        .where(col("doc_id") >= 100 && col("doc_id") < 150)
        .select((col("doc_id") + 300000000L).as("doc_id"), col("text"))
        .unionByName(s.range(10).select(
          (col("id") + 400000000L).as("doc_id"),
          concat(lit("freshdoc"), (col("id") % 5).cast(StringType)).as("text")))
      Dedup.incrementalExact(batch, "doc_id", "text", store)
    }, Some(_ =>
      """WITH corpus AS (
        | SELECT MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')))) AS fp,
        |   MIN(doc_id) AS keeper_id
        | FROM documents GROUP BY 1
        |), batch AS (
        | SELECT doc_id + 300000000 AS doc_id, text FROM documents
        | WHERE doc_id >= 100 AND doc_id < 150
        | UNION ALL
        | SELECT 400000000 + i AS doc_id,
        |   'freshdoc' || CAST(i % 5 AS VARCHAR) AS text
        | FROM (SELECT unnest(generate_series(0, 9)) AS i)
        |), bfp0 AS (
        | SELECT doc_id,
        |   MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')))) AS fp
        | FROM batch
        |), bfp AS (
        | SELECT doc_id, fp, MIN(doc_id) OVER (PARTITION BY fp) AS first_id
        | FROM bfp0
        |)
        |SELECT b.doc_id,
        | CASE WHEN c.keeper_id IS NOT NULL THEN 'dup_of_corpus'
        |      WHEN b.doc_id <> b.first_id THEN 'dup_in_batch'
        |      ELSE 'new' END AS status,
        | CASE WHEN c.keeper_id IS NOT NULL THEN c.keeper_id
        |      WHEN b.doc_id <> b.first_id THEN b.first_id END AS dup_of
        |FROM bfp b LEFT JOIN corpus c ON b.fp = c.fp""".stripMargin)),

    // Cluster-KEEPER dedup (round-6 verdict next-round #4): compose the
    // q50 components into the actual removal decision — one keeper (min
    // id) per cluster, everything else removed — closing the
    // detect → cluster → remove arc. keeper_id == component_id by the
    // min-label construction, but the column is produced by a real
    // min-aggregate so the oracle CROSS-CHECKS the invariant instead of
    // assuming it. Oracle: the q50 recursive-CTE closure + per-component
    // count/min.
    // Oracle: the q50 recursive-CTE closure grouped per component: size, min
    // id (must equal the component id — the invariant the Spark side earns
    // via a real aggregate), removals = size - 1
    QueryCase("q53_cluster_keepers", (s, dir) => {
      import graft.dedup.Dedup
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.8, shingleLen = 3).select("id_a", "id_b")
      Dedup.clusterKeepers(pairs, "id_a", "id_b")
    }, Some(_ =>
      s"""WITH RECURSIVE t AS (
         | SELECT doc_id, str_split(text, ' ') AS toks FROM documents
         |), s AS (
         | SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3
         |   THEN [array_to_string(toks, ' ')]
         |   ELSE list_transform(generate_series(1, len(toks) - 2),
         |          i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
         | FROM t
         |), pairs AS (
         | SELECT a.doc_id AS id_a, b.doc_id AS id_b
         | FROM s a JOIN s b ON a.doc_id < b.doc_id
         | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |     / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
         |), edges AS (
         | SELECT id_a AS src, id_b AS dst FROM pairs
         | UNION
         | SELECT id_b AS src, id_a AS dst FROM pairs
         |), nodes AS (
         | SELECT DISTINCT src AS node FROM edges
         |), reach(node, r) AS (
         | SELECT node, node FROM nodes
         | UNION
         | SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
         |), comp AS (
         | SELECT node AS doc_id, MIN(r) AS component_id FROM reach GROUP BY node
         |)
         |SELECT component_id, COUNT(*) AS component_size,
         |  MIN(doc_id) AS keeper_id, COUNT(*) - 1 AS removed
         |FROM comp GROUP BY component_id""".stripMargin)),

    // Cross-corpus LINE dedup (round 7) — the C4 rule (discard every
    // repeated span corpus-wide, first occurrence wins): per-doc removal
    // report for docs losing at least one line. Plants append two
    // boilerplate footer lines (%3==0 and %5==2; %15∈{0,12,...}∩... —
    // doc_id%15==12 gets BOTH), and sf0.1's planted exact-duplicate docs
    // contribute their shared line 0. The first-occurrence rule is a
    // min(struct(doc,pos)) AGGREGATE (map-side combinable — a hot
    // boilerplate line collapses per-partition instead of sorting inside
    // one window task); DuckDB replays it with a row_number window, which
    // is equivalent because (doc_id, pos) is unique.
    // Oracle: identical plants, then the same first-(doc,pos)-wins rule via a
    // window — equivalent to the engine's min(struct) aggregate because
    // (doc_id, pos) is unique
    QueryCase("q57_line_dedup", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val planted = docs.withColumn("text", concat(col("text"),
        when(col("doc_id") % 3 === 0, lit("\nfollow us on example social"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 2, lit("\nall rights reserved example"))
          .otherwise(lit(""))))
      graft.dedup.Dedup.lineDedupReport(
        planted.select("doc_id", "text"), "doc_id", "text")
    }, Some(_ =>
      s"""WITH p AS (
         | SELECT doc_id, text
         |   || CASE WHEN doc_id % 3 = 0
         |        THEN chr(10) || 'follow us on example social' ELSE '' END
         |   || CASE WHEN doc_id % 5 = 2
         |        THEN chr(10) || 'all rights reserved example' ELSE '' END
         |   AS text
         | FROM documents
         |), t AS (SELECT doc_id, str_split(text, chr(10)) AS ls FROM p),
         |l AS (SELECT doc_id,
         |        unnest(generate_series(1, len(ls))) AS pos,
         |        unnest(ls) AS line FROM t),
         |r AS (SELECT doc_id,
         |        ROW_NUMBER() OVER (PARTITION BY line
         |          ORDER BY doc_id, pos) AS rn FROM l),
         |d AS (SELECT doc_id, COUNT(*) AS line_count,
         |        CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS lines_removed
         |      FROM r GROUP BY doc_id)
         |SELECT doc_id, line_count, lines_removed,
         |  lines_removed = line_count AS emptied
         |FROM d WHERE lines_removed > 0""".stripMargin)),

    // Incremental NEAR-dup (round 7) — q51's append-batch ingest shape
    // lifted to the MinHash+LSH family: a frozen corpus is represented
    // only by its banded-signature store (bucketed by bandhash) and
    // shingle-set store (bucketed by id); the batch band-joins for
    // candidates and exact-Jaccard-verifies against the shingle store —
    // corpus TEXT is never re-read (PlanShapeSpec pins one documents
    // scan). Batch plants all three statuses: verbatim copies of docs
    // 100-119 (+5e8, J=1 with their source), one-token-appended
    // near-copies of docs 120-139 (+5.1e8, J = m/(m+1) ≥ 0.8 for any doc
    // with ≥ 4 distinct trigrams), and six fresh docs — a verbatim pair,
    // a near-copy pair, two singletons (new → near_dup_in_batch → new).
    // The oracle replays exact Jaccard over (corpus ∪ batch); LSH capture
    // at these similarities is the q14 margin argument (per-pair miss
    // probability ≤ ~1e-7, deterministic once green).
    // Oracle: identical batch plants, exact shingle Jaccard over (corpus ∪
    // batch), same classification precedence (corpus match outranks batch
    // match, keeper = smallest matching id via the rn=1 window — Spark's
    // min(struct) equivalent because each (batch, candidate) pair is unique);
    // the Spark side must find the same pairs through the banded-store join
    // (q14's LSH-capture margin argument)
    QueryCase("q58_incremental_neardup", (s, dir) => {
      import graft.dedup.Dedup
      import s.implicits._
      val docs = tbl(s, dir, "documents")
      val mhTbl = cachedCorpusStore(s, dir, "mhstore") { (tblName, path) =>
        graft.io.IcebergEmulation.writeBucketed(
          Dedup.minhashStore(docs, "doc_id", "text"),
          TableSpec("mh_store", Seq(
            ColumnSpec("doc_id", LongType),
            ColumnSpec("band", IntegerType),
            ColumnSpec("bandhash", LongType)), keyCols = Seq("bandhash")),
          tblName, buckets = 16, path = Some(path))
      }
      val shTbl = cachedCorpusStore(s, dir, "shstore") { (tblName, path) =>
        graft.io.IcebergEmulation.writeBucketed(
          Dedup.shingleStore(docs, "doc_id", "text"),
          TableSpec("sh_store", Seq(
            ColumnSpec("doc_id", LongType),
            ColumnSpec("shingles", ArrayType(StringType))),
            keyCols = Seq("doc_id")),
          tblName, buckets = 16, path = Some(path))
      }
      val freshA = "quantal vortex pelican drift mauve cordial zephyr lattice bronze orchid velvet marble sundial cricket harbor glade"
      val freshB = "tundra ember quartz falcon meridian cobalt saffron juniper mosaic tidal prism heron lilac granite meadow cinder plume ravine sonnet birch"
      val batch = docs
        .where(col("doc_id") >= 100 && col("doc_id") < 120)
        .select((col("doc_id") + 500000000L).as("doc_id"), col("text"))
        .unionByName(docs
          .where(col("doc_id") >= 120 && col("doc_id") < 140)
          .select((col("doc_id") + 510000000L).as("doc_id"),
            concat(col("text"), lit(" graftnoveltoken")).as("text")))
        .unionByName(Seq(
          (600000000L, freshA), (600000001L, freshA),
          (600000002L, freshB), (600000003L, freshB + " extratok"),
          (600000004L, "solitary gossamer twilight anvil nectar sphinx"),
          (600000005L, "cascade obsidian whisper fathom lyric dune"))
          .toDF("doc_id", "text"))
      Dedup.incrementalMinhash(batch, "doc_id", "text",
        s.table(mhTbl), s.table(shTbl))
    }, Some(_ =>
      """WITH batch AS (
        | SELECT CAST(doc_id + 500000000 AS BIGINT) AS doc_id, text
        | FROM documents WHERE doc_id >= 100 AND doc_id < 120
        | UNION ALL
        | SELECT CAST(doc_id + 510000000 AS BIGINT), text || ' graftnoveltoken'
        | FROM documents WHERE doc_id >= 120 AND doc_id < 140
        | UNION ALL
        | SELECT CAST(id AS BIGINT), t FROM (VALUES
        |  (600000000, 'quantal vortex pelican drift mauve cordial zephyr lattice bronze orchid velvet marble sundial cricket harbor glade'),
        |  (600000001, 'quantal vortex pelican drift mauve cordial zephyr lattice bronze orchid velvet marble sundial cricket harbor glade'),
        |  (600000002, 'tundra ember quartz falcon meridian cobalt saffron juniper mosaic tidal prism heron lilac granite meadow cinder plume ravine sonnet birch'),
        |  (600000003, 'tundra ember quartz falcon meridian cobalt saffron juniper mosaic tidal prism heron lilac granite meadow cinder plume ravine sonnet birch extratok'),
        |  (600000004, 'solitary gossamer twilight anvil nectar sphinx'),
        |  (600000005, 'cascade obsidian whisper fathom lyric dune')) AS v(id, t)
        |), bs AS (
        | SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3
        |   THEN [array_to_string(toks, ' ')]
        |   ELSE list_transform(generate_series(1, len(toks) - 2),
        |          i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
        | FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM batch)
        |), cs AS (
        | SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3
        |   THEN [array_to_string(toks, ' ')]
        |   ELSE list_transform(generate_series(1, len(toks) - 2),
        |          i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
        | FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)
        |), cj AS (
        | SELECT b.doc_id, c.doc_id AS keeper,
        |   CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE)
        |     / len(list_distinct(list_concat(b.sh, c.sh))) AS j
        | FROM bs b JOIN cs c
        |   ON CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE)
        |     / len(list_distinct(list_concat(b.sh, c.sh))) >= 0.8
        |), cbest AS (
        | SELECT doc_id, keeper, j FROM (
        |   SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY keeper) AS rn
        |   FROM cj) WHERE rn = 1
        |), bj AS (
        | SELECT hi.doc_id, lo.doc_id AS keeper,
        |   CAST(len(list_intersect(lo.sh, hi.sh)) AS DOUBLE)
        |     / len(list_distinct(list_concat(lo.sh, hi.sh))) AS j
        | FROM bs lo JOIN bs hi ON lo.doc_id < hi.doc_id
        |  AND CAST(len(list_intersect(lo.sh, hi.sh)) AS DOUBLE)
        |     / len(list_distinct(list_concat(lo.sh, hi.sh))) >= 0.8
        |), bbest AS (
        | SELECT doc_id, keeper, j FROM (
        |   SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY keeper) AS rn
        |   FROM bj) WHERE rn = 1
        |)
        |SELECT b.doc_id,
        | CASE WHEN cb.keeper IS NOT NULL THEN 'near_dup_of_corpus'
        |      WHEN bb.keeper IS NOT NULL THEN 'near_dup_in_batch'
        |      ELSE 'new' END AS status,
        | COALESCE(cb.keeper, bb.keeper) AS dup_of,
        | ROUND(CASE WHEN cb.keeper IS NOT NULL THEN cb.j ELSE bb.j END, 6) AS jaccard
        |FROM batch b
        |LEFT JOIN cbest cb ON b.doc_id = cb.doc_id
        |LEFT JOIN bbest bb ON b.doc_id = bb.doc_id""".stripMargin)),

    // Bloom-prefiltered decontamination (round 7) — q47's hygiene check on
    // the scale path for suites too big to broadcast-join: one suite pass
    // builds a Bloom filter of its n-grams (broadcastable two orders past
    // the hash-relation limit), the corpus n-gram stream dies map-side at
    // the scan, and the exact confirm equi-join sees only true hits plus
    // the fpp trickle — so the output is IDENTICAL to the exact variant
    // at any fpp (DedupSpec pins agreement at fpp=0.5) and the oracle is
    // q47's SQL verbatim. Same plants, same suite.
    // Oracle: q47's oracle verbatim: the bloom is only a pre-filter — the
    // exact confirm join makes the two variants agree row-for-row at any fpp
    QueryCase("q68_decontamination_bloom", (s, dir) => {
      import graft.dedup.Dedup
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val bench = docs.where(col("doc_id") < 500 && col("doc_id") % 50 === 7)
        .select(col("doc_id").as("bench_id"), col("text"))
      Dedup.decontaminateBloom(docs, "doc_id", "text",
        bench, "bench_id", "text", n = 5)
    }, Some(_ =>
      s"""WITH t AS (
         | SELECT doc_id, str_split(text, ' ') AS toks FROM documents
         |), s AS (
         | SELECT doc_id, list_distinct(CASE WHEN len(toks) < 5
         |   THEN [array_to_string(toks, ' ')]
         |   ELSE list_transform(generate_series(1, len(toks) - 4),
         |          i -> array_to_string(toks[i:i+4], ' ')) END) AS sh
         | FROM t
         |), cng AS (
         | SELECT doc_id, unnest(sh) AS ng FROM s
         |), bng AS (
         | SELECT DISTINCT bench_id, ng FROM
         |   (SELECT doc_id AS bench_id, unnest(sh) AS ng FROM s
         |    WHERE doc_id < 500 AND doc_id % 50 = 7)
         |)
         |SELECT c.doc_id,
         |  COUNT(DISTINCT b.bench_id) AS benchmarks_hit,
         |  COUNT(DISTINCT c.ng) AS ngrams_hit
         |FROM cng c JOIN bng b ON c.ng = b.ng
         |GROUP BY c.doc_id""".stripMargin)),

    // Containment decontamination (round 7) — the asymmetric complement
    // of q47: a long page EMBEDDING a short eval prompt has near-zero
    // Jaccard but containment ≈ 1 on the benchmark side
    // (|doc∩bench|/|bench|), and q47's raw overlap counts don't
    // normalize by benchmark length. Plants: each suite doc re-embedded
    // inside framing filler (+800000000 — full containment 1.0 despite
    // the dilution) and a half-prefix doc (+810000000 — partial
    // containment below the 0.8 threshold, must NOT surface). The ratio
    // is integer/integer in double on both engines, so the threshold
    // replays bit-for-bit; output rounds to 6dp (the q58 discipline).
    // Oracle: the same plants + the q47 5-gram recipe, normalized by
    // benchmark n-gram count; the ≥ 0.8 filter runs on the raw int/int double
    QueryCase("q71_containment_decon", (s, dir) => {
      import graft.dedup.Dedup
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val bench = docs.where(col("doc_id") < 500 && col("doc_id") % 50 === 7)
        .select(col("doc_id").as("bench_id"), col("text"))
      val embedded = bench.select(
        (col("bench_id") + 800000000L).as("doc_id"),
        concat(lit("framing intro words before the leak "), col("text"),
          lit(" and framing outro words after it")).as("text"))
      val partial = bench.select(
        (col("bench_id") + 810000000L).as("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 12), " ").as("text"))
      val corpus = docs.unionByName(embedded).unionByName(partial)
      Dedup.decontaminateContainment(corpus, "doc_id", "text",
        bench, "bench_id", "text", n = 5, minContainment = 0.8)
        .withColumn("containment", round(col("containment"), 6))
    }, Some(_ =>
      s"""WITH corpus0 AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL
         | SELECT doc_id + 800000000,
         |   'framing intro words before the leak ' || text ||
         |   ' and framing outro words after it'
         | FROM documents WHERE doc_id < 500 AND doc_id % 50 = 7
         | UNION ALL
         | SELECT doc_id + 810000000,
         |   array_to_string(str_split(text, ' ')[1:12], ' ')
         | FROM documents WHERE doc_id < 500 AND doc_id % 50 = 7
         |), sh AS (
         | SELECT doc_id, list_distinct(CASE WHEN len(toks) < 5
         |   THEN [array_to_string(toks, ' ')]
         |   ELSE list_transform(generate_series(1, len(toks) - 4),
         |          i -> array_to_string(toks[i:i+4], ' ')) END) AS sh
         | FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM corpus0)
         |), cng AS (
         | SELECT doc_id, unnest(sh) AS ng FROM sh
         |), bsh AS (
         | SELECT doc_id AS bench_id, sh FROM sh
         | WHERE doc_id < 500 AND doc_id % 50 = 7
         |), bng AS (
         | SELECT DISTINCT bench_id, unnest(sh) AS ng FROM bsh
         |), sizes AS (
         | SELECT bench_id, COUNT(*) AS bench_ngrams FROM bng GROUP BY 1
         |), hits AS (
         | SELECT c.doc_id, b.bench_id, COUNT(DISTINCT c.ng) AS ngrams_hit
         | FROM cng c JOIN bng b ON c.ng = b.ng
         | GROUP BY c.doc_id, b.bench_id
         |)
         |SELECT h.doc_id, h.bench_id, h.ngrams_hit, s.bench_ngrams,
         |  ROUND(CAST(h.ngrams_hit AS DOUBLE) / s.bench_ngrams, 6)
         |    AS containment
         |FROM hits h JOIN sizes s ON h.bench_id = s.bench_id
         |WHERE CAST(h.ngrams_hit AS DOUBLE) / s.bench_ngrams >= 0.8""".stripMargin)),

    // Span-level exact-substring dedup (round 8) — the Lee et al. 2022
    // ExactSubstr rule: repeated ≥6-token spans corpus-wide keep only
    // their first occurrence. Plants: a shared 8-token boilerplate
    // sentence appended to %7==1 docs (cross-doc repeats — every planted
    // doc but the min(doc,pos) owner reports one flagged span) and a
    // self-repeat of each %11==3 doc's own first 8 tokens (the
    // within-doc control — flags the SECOND occurrence only, in the same
    // doc). The oracle replays the identical shingle recipe,
    // first-occurrence window, and gaps-and-islands interval merge.
    // Oracle: identical plants, then the same ExactSubstr rule: 6-token
    // shingles with positions, first (doc, pos) occurrence wins (row_number
    // window — equivalent to the engine's min(struct) aggregate because
    // (doc_id, pos) is unique), flagged positions merged per doc by the
    // gaps-and-islands rule (new island when the position gap exceeds k)
    QueryCase("q74_span_dedup", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val toks = split(col("text"), " ")
      val planted = docs.withColumn("text", concat(col("text"),
        when(col("doc_id") % 7 === 1,
          lit(" graft span plant alpha beta gamma delta omega"))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 3 && size(toks) >= 8,
          concat(lit(" "), array_join(slice(toks, 1, 8), " ")))
          .otherwise(lit(""))))
      graft.dedup.Dedup.spanDedupReport(
        planted.select("doc_id", "text"), "doc_id", "text", k = 6)
    }, Some(_ =>
      """WITH p AS (
        | SELECT doc_id, text
        |   || CASE WHEN doc_id % 7 = 1
        |        THEN ' graft span plant alpha beta gamma delta omega'
        |        ELSE '' END
        |   || CASE WHEN doc_id % 11 = 3 AND len(str_split(text, ' ')) >= 8
        |        THEN ' ' || array_to_string(str_split(text, ' ')[1:8], ' ')
        |        ELSE '' END
        |   AS text
        | FROM documents
        |), t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM p),
        |l AS (SELECT doc_id, i, array_to_string(toks[i:i+5], ' ') AS s
        |      FROM (SELECT doc_id, toks,
        |              unnest(generate_series(1, len(toks) - 5)) AS i
        |            FROM t WHERE len(toks) >= 6)),
        |r AS (SELECT doc_id, i,
        |        ROW_NUMBER() OVER (PARTITION BY s ORDER BY doc_id, i) AS rn,
        |        COUNT(*) OVER (PARTITION BY s) AS cnt
        |      FROM l),
        |f AS (SELECT doc_id, i FROM r WHERE cnt > 1 AND rn > 1),
        |isl AS (SELECT doc_id, i,
        |          CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
        |                 <= 6 THEN 0 ELSE 1 END AS brk
        |        FROM f),
        |g AS (SELECT doc_id, i,
        |        SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
        |          ROWS UNBOUNDED PRECEDING) AS island
        |      FROM isl),
        |sp AS (SELECT doc_id, island, MIN(i) AS s0, MAX(i) + 6 AS e0
        |       FROM g GROUP BY doc_id, island),
        |d AS (SELECT doc_id, COUNT(*) AS spans_flagged,
        |        CAST(SUM(e0 - s0) AS BIGINT) AS tokens_flagged
        |      FROM sp GROUP BY doc_id),
        |tc AS (SELECT doc_id,
        |         CAST(len(str_split(text, ' ')) AS BIGINT) AS token_count
        |       FROM p)
        |SELECT d.doc_id, tc.token_count, d.spans_flagged, d.tokens_flagged,
        |  d.tokens_flagged = tc.token_count AS emptied
        |FROM d JOIN tc ON d.doc_id = tc.doc_id""".stripMargin)),

    // Semantic decontamination (round 8) — the paraphrase evasion class:
    // q47/q68/q71 match n-grams, so a reworded eval prompt slips all
    // three; here the corpus embedding stream is probed against a
    // broadcast benchmark-embedding table via hyperplane LSH + exact
    // cosine (embeddingNearDups' kernels, asymmetric small side — the
    // corpus never shuffles). Benchmark = +0.03-perturbed copies of the
    // vec_id%97==13 corpus vectors (the q33 plant family: planted cosines
    // ≈ 0.97, organic max ≈ 0.51, threshold 0.9 sits in the gap); the
    // oracle is the exact all-pairs cosine scan.
    // Oracle: identical benchmark plants, exact all-pairs cosine — the LSH +
    // broadcast probe must surface exactly the over-threshold pairs
    QueryCase("q75_semantic_decontam", (s, dir) => {
      val emb = tbl(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val bench = emb.where(col("vec_id") % 97 === 13)
        .select((col("vec_id") + 300000000L).as("bench_id"),
          transform(col("embedding"), x => x + lit(0.03d)).as("embedding"))
      graft.dedup.Dedup.decontaminateSemantic(emb, "vec_id", "embedding",
        bench, "bench_id", "embedding", dim = 64, cosThreshold = 0.9,
        planes = 8, tables = 16)
    }, Some(_ =>
      """WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |b AS (
        | SELECT vec_id + 300000000 AS bench_id,
        |        list_transform(v, x -> x + 0.03) AS v
        | FROM e0 WHERE vec_id % 97 = 13
        |)
        |SELECT a.vec_id, b.bench_id,
        |  round(list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v))
        |       * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
        |FROM e0 a JOIN b ON list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v))
        |       * sqrt(list_dot_product(b.v, b.v))) >= 0.9""".stripMargin)),

    // Corpus version-diff (round 8) — the release-notes step of the
    // frozen-store lifecycle (q51/q58 freeze a snapshot; this diffs TWO
    // snapshots): docs added / removed / content-changed between v1 and
    // v2, computed from the per-doc fingerprint manifests alone — neither
    // version's text feeds the diff join (DedupSpec pins the
    // manifests-only plan). v2 plants: %13==5 docs dropped (removed),
    // %17==3 survivors edited (changed), ten fresh docs appended (added);
    // a %13∧%17 collision doc is removed, not changed — precedence the
    // oracle replays by content.
    // Oracle: identical v2 plants, then the same manifest diff by content:
    // normalized-md5 fingerprints per version, full-outer join on id, IS
    // DISTINCT FROM for the changed test (null-text content equality matches
    // Spark's null-safe <=>)
    QueryCase("q76_version_diff", (s, dir) => {
      import graft.dedup.Dedup
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val v2 = docs.where(col("doc_id") % 13 =!= 5)
        .withColumn("text", when(col("doc_id") % 17 === 3,
          concat(col("text"), lit(" graft v2 edit"))).otherwise(col("text")))
        .unionByName(docs.where(col("doc_id") < 10).select(
          (col("doc_id") + 700000000L).as("doc_id"),
          concat(lit("brand new doc number "),
            col("doc_id").cast(StringType)).as("text")))
      Dedup.versionDiff(
        Dedup.versionManifest(docs, "doc_id", "text"),
        Dedup.versionManifest(v2, "doc_id", "text"), "doc_id")
    }, Some(_ =>
      """WITH v2 AS (
        | SELECT doc_id,
        |   CASE WHEN doc_id % 17 = 3 THEN text || ' graft v2 edit'
        |        ELSE text END AS text
        | FROM documents WHERE doc_id % 13 <> 5
        | UNION ALL
        | SELECT doc_id + 700000000 AS doc_id,
        |   'brand new doc number ' || CAST(doc_id AS VARCHAR) AS text
        | FROM documents WHERE doc_id < 10
        |),
        |m1 AS (SELECT doc_id,
        |  MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents),
        |m2 AS (SELECT doc_id,
        |  MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')))) AS fp
        |  FROM v2)
        |SELECT COALESCE(m1.doc_id, m2.doc_id) AS doc_id,
        |  CASE WHEN m1.doc_id IS NULL THEN 'added'
        |       WHEN m2.doc_id IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status,
        |  m1.fp AS old_fingerprint, m2.fp AS new_fingerprint
        |FROM m1 FULL OUTER JOIN m2 ON m1.doc_id = m2.doc_id
        |WHERE m1.doc_id IS NULL OR m2.doc_id IS NULL
        |   OR m1.fp IS DISTINCT FROM m2.fp""".stripMargin)),
  )
}
