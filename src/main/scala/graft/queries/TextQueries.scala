package graft.queries

import graft.SparkEntry.{tbl, bpeVocabSql}
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text queries: token statistics, language id, fingerprints, filter
  * reports, PII, the n-gram LM and BPE (`graft.text`), plus the
  * `graft.sketch` heavy-hitter censuses over tokens. */
object TextQueries {

  val cases: Seq[QueryCase] = Seq(
    // Text analysis: token/char counting (codegen'd, scan-only)
    QueryCase("q09_token_stats", (s, dir) => {
      import graft.text.TextAnalysis._
      tbl(s, dir, "documents").select(col("doc_id"),
        charCount(col("text")).as("n_chars_calc"),
        tokenCount(col("text")).as("n_tokens"))
    }, Some(_ =>
      """SELECT doc_id, LENGTH(text) AS n_chars_calc,
        | LEN(STR_SPLIT(text, ' ')) AS n_tokens FROM documents""".stripMargin)),

    // Text quality scoring (integer-valued, oracle-checkable)
    QueryCase("q10_quality_score", (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        graft.text.TextAnalysis.qualityScore(col("text")).as("quality_score")),
      Some(_ =>
        """SELECT doc_id,
          | (CASE WHEN LENGTH(text) >= 200 THEN 1 ELSE 0 END)
          | + (CASE WHEN LEN(STR_SPLIT(text, ' ')) >= 40 THEN 1 ELSE 0 END)
          | + (CASE WHEN text LIKE '%the%' THEN 1 ELSE 0 END) AS quality_score
          |FROM documents""".stripMargin)),

    // Document fingerprinting (normalized md5)
    QueryCase("q11_fingerprint", (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        graft.text.TextAnalysis.fingerprint(col("text")).as("fp")),
      Some(_ =>
        """SELECT doc_id,
          | MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')))) AS fp
          |FROM documents""".stripMargin)),

    // Language-ID heuristic (greatest-of-marker-scores)
    // Oracle: langId replica: same token normalization, marker sets, and the
    // (score, lang) lexicographic argmax of Spark's greatest-over-structs
    QueryCase("q13_lang_id", (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        graft.text.TextAnalysis.langId(col("text")).as("lang_pred")),
      Some(_ =>
        """WITH t AS (
          | SELECT doc_id, text,
          |  list_transform(str_split(lower(text), ' '),
          |    x -> regexp_replace(x, '[^\p{L}]', '', 'g')) AS toks
          | FROM documents
          |), s AS (
          | SELECT doc_id, text,
          |  len(list_filter(toks, x -> x IN ('the','and','of','to','is','in','that','it','was','for'))) AS s_en,
          |  len(list_filter(toks, x -> x IN ('le','la','les','et','des','une','est','dans','qui','pas'))) AS s_fr,
          |  len(list_filter(toks, x -> x IN ('el','los','las','una','que','por','con','para','es','del'))) AS s_es,
          |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','mit','von','zu'))) AS s_de
          | FROM t
          |)
          |SELECT doc_id,
          | CASE WHEN regexp_matches(text, '[\p{Han}\p{Hiragana}\p{Katakana}]') THEN 'zh'
          |      WHEN greatest(s_en, s_fr, s_es, s_de) > 0 THEN
          |        CASE WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
          |             WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
          |             WHEN s_en >= s_de THEN 'en'
          |             ELSE 'de' END
          |      ELSE 'und' END AS lang_pred
          |FROM s""".stripMargin)),

    // Order-sensitive chained-md5 fingerprint (the oracle-checkable form of
    // the rolling hash; the xxhash64 rollingHash variant stays the hot-path
    // op, covered by TextAnalysisSpec)
    // Oracle: chained-md5 fingerprint: list_reduce with '' seed replicates
    // aggregate(tokens, '', (acc,t) -> md5(acc||t))
    QueryCase("q19_rolling_fingerprint", (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.chainedFingerprint(col("text")).as("rolling_fp")),
      Some(_ =>
        """SELECT doc_id,
          | list_reduce(list_prepend('', str_split(text, ' ')),
          |   (acc, t) -> md5(concat(acc, t))) AS rolling_fp
          |FROM documents""".stripMargin)),

    // Quality-filter pipeline report (C4/Gopher-style curation): four
    // ordered rules, each row attributed to the FIRST rule it fails —
    // sequential semantics in ONE scan because the rules are row-local
    // (contrast q44's dedup cascade, whose stages need joins and pay one
    // materialization each). Thresholds sit mid-distribution (docs run
    // 10-99 tokens / 48-553 chars) so every rule removes real rows. The
    // oracle replays the identical when-chain in SQL.
    // Oracle: the identical first-failing-rule when-chain; stopword list and
    // quality-score terms mirror TextAnalysis (the q10-proven recipe). Every
    // predicate is wrapped COALESCE(pred, FALSE) to mirror FilterReport's
    // NULL-predicate-fails-the-rule semantics — a bare NOT(NULL) would fall
    // through every WHEN and land a NULL text in '_kept' where the engine
    // attributes it to the first rule
    QueryCase("q49_quality_filter_report", (s, dir) => {
      import graft.text.{FilterReport, TextAnalysis}
      val docs = tbl(s, dir, "documents")
      val t = col("text")
      FilterReport.report(docs, Seq(
        "too_short" -> (TextAnalysis.tokenCount(t) >= 20),
        "too_long" -> (length(t) <= 500),
        "low_stopword" -> (TextAnalysis.stopwordRatio(t) >= 0.05),
        "low_quality" -> (TextAnalysis.qualityScore(t) >= 2)))
    }, Some(_ =>
      s"""WITH a AS (
         | SELECT CASE
         |   WHEN NOT COALESCE(len(str_split(text, ' ')) >= 20, FALSE)
         |     THEN 'too_short'
         |   WHEN NOT COALESCE(len(text) <= 500, FALSE) THEN 'too_long'
         |   WHEN NOT COALESCE((CASE WHEN len(str_split(text, ' ')) = 0
         |     THEN 0.0
         |     ELSE CAST(len(list_filter(str_split(text, ' '), t -> t IN
         |       ('the','a','an','and','or','of','to','in','is','it',
         |        'that','for','on','with','as'))) AS DOUBLE)
         |       / len(str_split(text, ' ')) END) >= 0.05, FALSE)
         |     THEN 'low_stopword'
         |   WHEN NOT COALESCE((CASE WHEN len(text) >= 200 THEN 1 ELSE 0 END
         |     + CASE WHEN len(str_split(text, ' ')) >= 40 THEN 1 ELSE 0 END
         |     + CASE WHEN contains(text, 'the') THEN 1 ELSE 0 END) >= 2,
         |     FALSE)
         |     THEN 'low_quality'
         |   ELSE '_kept' END AS removed_by
         | FROM documents
         |), g AS (SELECT removed_by, COUNT(*) AS n FROM a GROUP BY 1),
         |t AS (SELECT
         |  COALESCE((SELECT n FROM g WHERE removed_by = 'too_short'), 0) AS r1,
         |  COALESCE((SELECT n FROM g WHERE removed_by = 'too_long'), 0) AS r2,
         |  COALESCE((SELECT n FROM g WHERE removed_by = 'low_stopword'), 0) AS r3,
         |  COALESCE((SELECT n FROM g WHERE removed_by = 'low_quality'), 0) AS r4,
         |  (SELECT COUNT(*) FROM documents) AS tot)
         |SELECT 'too_short' AS rule, r1 AS removed, tot - r1 AS surviving FROM t
         |UNION ALL
         |SELECT 'too_long', r2, tot - r1 - r2 FROM t
         |UNION ALL
         |SELECT 'low_stopword', r3, tot - r1 - r2 - r3 FROM t
         |UNION ALL
         |SELECT 'low_quality', r4, tot - r1 - r2 - r3 - r4 FROM t""".stripMargin)),

    // Gopher/C4 REPETITION rules in the quality-filter chain (round-6
    // verdict next-round #3): duplicate-line fraction and top-trigram
    // mass — the published repetition filters that actually bite on web
    // corpora. Both are row-local, so they slot into the q49 one-scan
    // when-chain; the trigram array is materialized ONCE per row via the
    // native Dedup.shingles expression (TextAnalysis.topCount doc:
    // Catalyst does not CSE across HOF lambdas). Thresholds are INTEGER
    // inequalities (dup fraction >= 1/2 as (lines-distinct)*2 >= lines;
    // trigram mass > 1/10 as 10*topCount > trigrams) so no verdict hinges
    // on double rounding. The mass rule is GATED on >= 10 trigrams —
    // below that, 10*topCount > size holds for ANY doc (topCount >= 1),
    // so an ungated ratio rule silently removes every <= 11-token doc;
    // Gopher gates its ratio rules behind min-length for this reason.
    // Plants make each rule remove real rows at every scale: doc_id%7==3
    // re-appends the whole text as a second newline-joined line (dup
    // fraction exactly 1/2); doc_id%13==6 appends ' buy gold now' x20
    // (trigram mass 20/(ntok+58) > 0.1 for every 10-99-token doc). The
    // oracle replays plants + rules identically in SQL.
    // Oracle: repetition rules replayed with the identical plants + INTEGER
    // thresholds; ngram list is the MULTISET form (no list_distinct —
    // duplicates are the signal); q49's COALESCE(pred, FALSE) discipline
    QueryCase("q52_repetition_filter", (s, dir) => {
      import graft.text.{FilterReport, TextAnalysis}
      val docs = tbl(s, dir, "documents")
      val planted = docs
        .withColumn("text", when(col("doc_id") % 7 === 3,
          concat(col("text"), lit("\n"), col("text"))).otherwise(col("text")))
        .withColumn("text", when(col("doc_id") % 13 === 6,
          concat(col("text"), repeat(lit(" buy gold now"), 20)))
          .otherwise(col("text")))
        .withColumn("_ng", graft.dedup.Dedup.shingles(col("text"), 3))
      val t = col("text")
      FilterReport.report(planted.select(col("doc_id"), t, col("_ng")), Seq(
        "dup_lines" ->
          ((TextAnalysis.lineCount(t) - TextAnalysis.distinctLineCount(t)) * 2
            < TextAnalysis.lineCount(t)),
        "repeated_ngram" ->
          (size(col("_ng")) < 10 ||
            TextAnalysis.topCount(col("_ng")) * 10 <= size(col("_ng"))),
        "low_stopword" -> (TextAnalysis.stopwordRatio(t) >= 0.05)))
    }, Some(_ =>
      """WITH p AS (
        | SELECT doc_id,
        |   CASE WHEN doc_id % 13 = 6 THEN t1 || repeat(' buy gold now', 20)
        |     ELSE t1 END AS text
        | FROM (SELECT doc_id,
        |   CASE WHEN doc_id % 7 = 3 THEN text || chr(10) || text
        |     ELSE text END AS t1
        |   FROM documents)
        |), m AS (
        | SELECT doc_id,
        |   str_split(text, chr(10)) AS lns,
        |   str_split(text, ' ') AS toks,
        |   CASE WHEN len(str_split(text, ' ')) < 3
        |     THEN [array_to_string(str_split(text, ' '), ' ')]
        |     ELSE list_transform(generate_series(1, len(str_split(text, ' ')) - 2),
        |       i -> array_to_string(str_split(text, ' ')[i:i+2], ' ')) END AS ng
        | FROM p
        |), a AS (
        | SELECT CASE
        |   WHEN NOT COALESCE(
        |     (len(lns) - len(list_distinct(lns))) * 2 < len(lns), FALSE)
        |     THEN 'dup_lines'
        |   WHEN NOT COALESCE(len(ng) < 10 OR
        |     list_max(list_transform(ng, x -> len(list_filter(ng, y -> y = x))))
        |       * 10 <= len(ng), FALSE)
        |     THEN 'repeated_ngram'
        |   WHEN NOT COALESCE((CASE WHEN len(toks) = 0 THEN 0.0
        |     ELSE CAST(len(list_filter(toks, t -> t IN
        |       ('the','a','an','and','or','of','to','in','is','it',
        |        'that','for','on','with','as'))) AS DOUBLE)
        |       / len(toks) END) >= 0.05, FALSE)
        |     THEN 'low_stopword'
        |   ELSE '_kept' END AS removed_by
        | FROM m
        |), g AS (SELECT removed_by, COUNT(*) AS n FROM a GROUP BY 1),
        |t AS (SELECT
        |  COALESCE((SELECT n FROM g WHERE removed_by = 'dup_lines'), 0) AS r1,
        |  COALESCE((SELECT n FROM g WHERE removed_by = 'repeated_ngram'), 0) AS r2,
        |  COALESCE((SELECT n FROM g WHERE removed_by = 'low_stopword'), 0) AS r3,
        |  (SELECT COUNT(*) FROM documents) AS tot)
        |SELECT 'dup_lines' AS rule, r1 AS removed, tot - r1 AS surviving FROM t
        |UNION ALL
        |SELECT 'repeated_ngram', r2, tot - r1 - r2 FROM t
        |UNION ALL
        |SELECT 'low_stopword', r3, tot - r1 - r2 - r3 FROM t""".stripMargin)),

    // PII / sensitive-pattern census (round-6 verdict next-round #5): the
    // remaining standard training-data hygiene scan — per-class regex
    // counts (email / phone / IPv4) over documents, scan-only, with
    // (class, count) pairs as the only exchange (the q49 shape). Plants
    // give every class predictable hits — doc_id%41==5 appends an email,
    // %43==6 two phone numbers, %47==8 two IPv4s (first-matching-plant
    // wins, mirrored in the oracle's CASE order); the two-match plants
    // exercise total_matches > docs_hit. Patterns stick to the
    // RE2-portable subset so DuckDB's regexp_extract_all replays the
    // census exactly.
    // Oracle: PII census replayed: identical plants (CASE order = the Spark
    // when chain), identical RE2-portable patterns via regexp_extract_all
    QueryCase("q54_pii_census", (s, dir) => {
      import graft.text.PiiCensus
      val docs = tbl(s, dir, "documents")
      val planted = docs.withColumn("text",
        when(col("doc_id") % 41 === 5,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast(StringType), lit("@example.com now")))
          .when(col("doc_id") % 43 === 6,
            concat(col("text"), lit(" call 555-867-5309 or 555-123-4567 today")))
          .when(col("doc_id") % 47 === 8,
            concat(col("text"), lit(" host 10.0.0.77 and 192.168.1.77 up")))
          .otherwise(col("text")))
      PiiCensus.census(planted, "text")
    }, Some(_ =>
      """WITH p AS (
        | SELECT CASE
        |   WHEN doc_id % 41 = 5 THEN text || ' contact user'
        |     || CAST(doc_id AS VARCHAR) || '@example.com now'
        |   WHEN doc_id % 43 = 6 THEN text || ' call 555-867-5309 or 555-123-4567 today'
        |   WHEN doc_id % 47 = 8 THEN text || ' host 10.0.0.77 and 192.168.1.77 up'
        |   ELSE text END AS text
        | FROM documents
        |), e AS (
        | SELECT 'email' AS pii_class, len(regexp_extract_all(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS m FROM p
        | UNION ALL
        | SELECT 'phone', len(regexp_extract_all(text,
        |   '[0-9]{3}-[0-9]{3}-[0-9]{4}')) FROM p
        | UNION ALL
        | SELECT 'ipv4', len(regexp_extract_all(text,
        |   '([0-9]{1,3}[.]){3}[0-9]{1,3}')) FROM p
        |)
        |SELECT pii_class,
        |  CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_hit,
        |  CAST(SUM(m) AS BIGINT) AS total_matches
        |FROM e GROUP BY pii_class""".stripMargin)),

    // Exact heavy hitters via mergeable Misra–Gries (round 7) — the
    // vocabulary-census shape where a naive groupBy(token).count()
    // shuffles EVERY distinct token (web corpora: billions of
    // singletons). One sketch pass (O(k) state per task, merged
    // associatively, deducted-mass bound carried through the merge tree)
    // yields a candidate superset with NO false negatives; one exact pass
    // counts only candidates, so the singleton tail never enters a
    // shuffle. Output is EXACT — the oracle is the naive count.
    // Oracle: the naive full-vocabulary count — the sketch-then-exact
    // operator must reproduce it exactly (no false negatives, exact second
    // pass)
    QueryCase("q64_heavy_hitters", (s, dir) => {
      import graft.sketch.HeavyHitters
      val docs = tbl(s, dir, "documents")
      val toks = docs.select(explode(split(col("text"), " ")).as("token"))
      HeavyHitters.overThreshold(toks, "token", threshold = 500L, k = 128)
    }, Some(_ =>
      """SELECT t AS token, COUNT(*) AS occurrences
        |FROM (SELECT unnest(str_split(text, ' ')) AS t FROM documents)
        |GROUP BY t HAVING COUNT(*) >= 500""".stripMargin)),

    // Per-group heavy hitters (round 7) — the boilerplate-per-source
    // census: which tokens dominate EACH source (the per-domain
    // boilerplate a curation pass strips), where a per-group naive
    // groupBy(source, token) shuffles every distinct (source, token)
    // pair. One Misra–Gries sketch per group (O(groups·k) to the driver
    // — groupCol is low-cardinality by contract), then an exact pass
    // semi-joined against the broadcast candidate pairs, so the
    // per-group singleton tail never enters a shuffle. Output EXACT at
    // any k — the oracle is the naive per-group count.
    // Oracle: the naive per-group count — the sketch-then-exact operator must
    // reproduce it exactly within every group
    QueryCase("q73_heavy_hitters_by_source", (s, dir) => {
      import graft.sketch.HeavyHitters
      val docs = tbl(s, dir, "documents")
      val toks = docs.select(col("source"),
        explode(split(col("text"), " ")).as("token"))
      HeavyHitters.overThresholdByGroup(toks, "source", "token",
        threshold = 30L, k = 128)
    }, Some(_ =>
      """SELECT source, t AS token, COUNT(*) AS occurrences
        |FROM (SELECT source, unnest(str_split(text, ' ')) AS t
        |      FROM documents)
        |GROUP BY source, t HAVING COUNT(*) >= 30""".stripMargin)),

    // N-gram LM perplexity scoring (round 8) — the CCNet/Gopher quality
    // signal: a bigram+Laplace model trained on the deterministic q48
    // train split (md5 band arithmetic), every doc scored by its Shannon
    // code length in WHOLE BITS — floor(log2(den/num)) per bigram done in
    // pure integer arithmetic (integer divide + binary-string length), so
    // no engine `ln` ever runs and the per-doc (ngrams, bits) pair
    // replays bit-for-bit in DuckDB. Plants: %23==4 docs become
    // doc_id-salted gibberish (every bigram context unseen → exactly
    // floor(log2 V) bits/ngram — 7 at sf0.01's V=232, 10 at sf0.1's
    // V=1912), %29==6 docs become a fixed thrice-repeated cookie banner
    // that saturates the train slice (≈2.3-2.5 bits/ngram). Measured
    // normal band: [4.6, 5.8] bits/ngram at both scales, so lo=3 / hi=7
    // sit in the gaps (NgramProbe, 2026-08-18).
    // Oracle: the full model replayed: identical plants, identical md5 train
    // band, identical bigram/context counts with minCount=2 pruning,
    // identical integer Shannon-bits arithmetic (length(bin(q))-1 is DuckDB's
    // exact floor-log2 twin of Spark's length(conv(q,10,2))-1)
    QueryCase("q79_ngram_perplexity", (s, dir) => {
      import graft.text.NgramLm
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val sent = "click here to accept cookies and continue to the site"
      val gib = array_join(transform(sequence(lit(0), lit(11)),
        k => concat(lit("zzq"), ((col("doc_id") * 7 + k) % 9999))), " ")
      val planted = docs.withColumn("text",
        when(col("doc_id") % 23 === 4, gib)
          .when(col("doc_id") % 29 === 6, lit(s"$sent $sent $sent"))
          .otherwise(col("text")))
      val train = graft.sample.Sampling.assignSplits(planted, "doc_id",
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
        .where(col("split") === "train").select("doc_id", "text")
      val model = NgramLm.train(train, "text", minCount = 2L)
      NgramLm.score(planted, "doc_id", "text", model, loBits = 3L,
        hiBits = 7L)
    }, Some(_ => {
      val sent = "click here to accept cookies and continue to the site"
      s"""WITH planted AS (
         | SELECT doc_id,
         |   CASE WHEN doc_id % 23 = 4 THEN array_to_string(
         |          list_transform(generate_series(0, 11),
         |            k -> 'zzq' || CAST((doc_id * 7 + k) % 9999 AS VARCHAR)),
         |          ' ')
         |        WHEN doc_id % 29 = 6 THEN '$sent $sent $sent'
         |        ELSE text END AS text
         | FROM documents),
         |train AS (
         | SELECT doc_id, text FROM planted
         | WHERE CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)
         |     || ':split'), 1, 15)) AS BIGINT)
         |   / 1152921504606846976.0 < 0.75),
         |tbi AS (
         | SELECT toks[i] AS w1, toks[i + 1] AS w2
         | FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
         |       FROM (SELECT str_split(text, ' ') AS toks FROM train)
         |       WHERE len(toks) >= 2)),
         |big AS (SELECT w1, w2, COUNT(*) AS c FROM tbi
         |        GROUP BY w1, w2 HAVING COUNT(*) >= 2),
         |ctx AS (SELECT w1, COUNT(*) AS c FROM tbi
         |        GROUP BY w1 HAVING COUNT(*) >= 2),
         |voc AS (SELECT COUNT(DISTINCT w) AS v FROM
         |        (SELECT unnest(str_split(text, ' ')) AS w FROM train)),
         |sbi AS (
         | SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
         | FROM (SELECT doc_id, toks,
         |         unnest(generate_series(1, len(toks) - 1)) AS i
         |       FROM (SELECT doc_id, str_split(text, ' ') AS toks
         |             FROM planted)
         |       WHERE len(toks) >= 2)),
         |sc AS (
         | SELECT s.doc_id,
         |   length(bin((COALESCE(x.c, 0) + voc.v)
         |     // (COALESCE(b.c, 0) + 1))) - 1 AS bits,
         |   CASE WHEN b.c IS NULL THEN 1 ELSE 0 END AS oov
         | FROM sbi s
         | LEFT JOIN big b ON s.w1 = b.w1 AND s.w2 = b.w2
         | LEFT JOIN ctx x ON s.w1 = x.w1
         | CROSS JOIN voc),
         |agg AS (SELECT doc_id, COUNT(*) AS ngrams,
         |          CAST(SUM(bits) AS BIGINT) AS bits,
         |          CAST(SUM(oov) AS BIGINT) AS oov_ngrams
         |        FROM sc GROUP BY doc_id)
         |SELECT p.doc_id,
         |  COALESCE(a.ngrams, 0) AS ngrams,
         |  COALESCE(a.bits, 0) AS bits,
         |  COALESCE(a.oov_ngrams, 0) AS oov_ngrams,
         |  CASE WHEN COALESCE(a.ngrams, 0) = 0 THEN 'unscorable'
         |       WHEN a.bits >= a.ngrams * 7 THEN 'high_perplexity'
         |       WHEN a.bits <= a.ngrams * 3 THEN 'low_perplexity'
         |       ELSE 'mid' END AS band
         |FROM planted p LEFT JOIN agg a ON p.doc_id = a.doc_id""".stripMargin
    })),

    // BPE subword packing (round 8) — the token-budget operators re-driven
    // on REAL subword counts: q62/q63/q69 budget whitespace tokens, but a
    // training run budgets SUBWORDS, and the two diverge exactly on
    // unseen/compound words (the %31==9 plant appends three compound
    // words built from corpus vocabulary — each splits into multiple
    // subwords, so whitespace counts +3 while subword counts grow more).
    // The BPE model trains LIVE on the deterministic doc_id%4<3 slice
    // (classic merge loop, deterministic tie-break, driver-side over the
    // bounded distinct-word table); the oracle tokenizes with the
    // COMMITTED vocabulary for this scale (BpeTrainHarness output, pinned
    // live-equal by BpeTokenizerSpec) via a recursive longest-prefix
    // strip over DISTINCT words, then replays q62's packing window.
    // Oracle: identical plant, then tokenization replayed with the committed
    // vocabulary: recursive greedy longest-prefix strip over the DISTINCT
    // words (the word vocabulary is tiny, so the recursion runs hundreds of
    // steps, not corpus-size), single-char fallback for unseen characters,
    // counts joined back to the doc word stream, then q62's exact packing
    // window on the subword totals
    QueryCase("q80_subword_packing", (s, dir) => {
      import graft.text.BpeTokenizer
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val planted = docs.withColumn("text",
        when(col("doc_id") % 31 === 9,
          concat(col("text"), lit(" tablescan mergejoin fastsort")))
          .otherwise(col("text")))
      val train = docs.where(col("doc_id") % 4 < 3)
      val freqs = BpeTokenizer.wordFreqs(train, "text")
      val voc = BpeTokenizer.vocab(freqs,
        BpeTokenizer.trainMerges(freqs, numMerges = 60))
      val counts = BpeTokenizer.subwordCounts(planted, "doc_id", "text", voc)
      graft.sample.SequencePacking
        .packReport(counts, "doc_id", "subword_tokens", chunkTokens = 2048L)
        .withColumn("crosses_chunk", col("crosses_chunk").cast("long"))
    }, Some(sfDir => {
      val vocList = bpeVocabSql(sfDir)
      s"""WITH RECURSIVE
         |voc(tok) AS (SELECT unnest([$vocList])),
         |planted AS (
         | SELECT doc_id,
         |   CASE WHEN doc_id % 31 = 9
         |     THEN text || ' tablescan mergejoin fastsort'
         |     ELSE text END AS text
         | FROM documents),
         |w(word) AS (
         | SELECT DISTINCT unnest(str_split(text, ' '))
         | FROM planted WHERE text IS NOT NULL),
         |tk(word, rest, n) AS (
         | SELECT word, word, 0 FROM w
         | UNION ALL
         | SELECT word, substr(rest, length(best) + 1), n + 1
         | FROM (
         |   SELECT word, rest, n,
         |     COALESCE((SELECT tok FROM voc WHERE starts_with(rest, tok)
         |               ORDER BY length(tok) DESC, tok LIMIT 1),
         |              substr(rest, 1, 1)) AS best
         |   FROM tk WHERE rest <> '')),
         |wn AS (SELECT word, MAX(n) AS toks FROM tk GROUP BY word),
         |ws AS (SELECT doc_id, unnest(str_split(text, ' ')) AS word
         |       FROM planted WHERE text IS NOT NULL),
         |dc AS (SELECT ws.doc_id,
         |         CAST(SUM(wn.toks) AS BIGINT) AS subword_tokens
         |       FROM ws JOIN wn ON ws.word = wn.word GROUP BY ws.doc_id),
         |o AS (
         | SELECT p.doc_id,
         |   COALESCE(dc.subword_tokens, 0) AS subword_tokens,
         |   CAST(COALESCE(SUM(COALESCE(dc.subword_tokens, 0))
         |     OVER (ORDER BY p.doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |     0) AS BIGINT) AS token_offset
         | FROM planted p LEFT JOIN dc ON p.doc_id = dc.doc_id)
         |SELECT doc_id, subword_tokens, token_offset,
         |  token_offset // 2048 AS chunk_first,
         |  (token_offset + GREATEST(subword_tokens, 1) - 1) // 2048
         |    AS chunk_last,
         |  CAST((token_offset + GREATEST(subword_tokens, 1) - 1) // 2048
         |    > token_offset // 2048 AS BIGINT) AS crosses_chunk
         |FROM o""".stripMargin
    })),

    // Subword heavy hitters (round 8) — q64's boilerplate census at the
    // granularity the tokenizer actually trains on: which SUBWORD tokens
    // dominate the corpus (a vocabulary-coverage/boilerplate signal a
    // word-level census cannot see — a subword shared by many words
    // aggregates mass no single word carries). Composition: the exploded
    // BPE token stream through the exact Misra–Gries two-pass; output
    // EXACT at any k. The oracle re-tokenizes distinct words with the
    // committed vocabulary, carrying each taken token through the
    // recursive strip, and runs the naive count.
    // Oracle: the recursive strip carries each TAKEN token (the base row
    // takes none), so distinct-word tokenization yields the full per-word
    // token multiset; joined to the word stream, the naive count is the
    // oracle the exact sketch-then-confirm pass must reproduce
    QueryCase("q85_subword_heavy_hitters", (s, dir) => {
      import graft.sketch.HeavyHitters
      import graft.text.BpeTokenizer
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val train = docs.where(col("doc_id") % 4 < 3)
      val freqs = BpeTokenizer.wordFreqs(train, "text")
      val voc = BpeTokenizer.vocab(freqs,
        BpeTokenizer.trainMerges(freqs, numMerges = 60))
      val toks = BpeTokenizer.subwordTokens(docs, "doc_id", "text", voc)
      HeavyHitters.overThreshold(toks, "token", threshold = 400L, k = 64)
    }, Some(sfDir => {
      val vocList = bpeVocabSql(sfDir)
      s"""WITH RECURSIVE
         |voc(tok) AS (SELECT unnest([$vocList])),
         |w(word) AS (
         | SELECT DISTINCT unnest(str_split(text, ' '))
         | FROM documents WHERE text IS NOT NULL),
         |tk(word, rest, n, took) AS (
         | SELECT word, word, 0, CAST(NULL AS VARCHAR) FROM w
         | UNION ALL
         | SELECT word, substr(rest, length(best) + 1), n + 1, best
         | FROM (
         |   SELECT word, rest, n,
         |     COALESCE((SELECT tok FROM voc WHERE starts_with(rest, tok)
         |               ORDER BY length(tok) DESC, tok LIMIT 1),
         |              substr(rest, 1, 1)) AS best
         |   FROM tk WHERE rest <> '')),
         |wt AS (SELECT word, took AS token FROM tk WHERE took IS NOT NULL),
         |ws AS (SELECT unnest(str_split(text, ' ')) AS word
         |       FROM documents WHERE text IS NOT NULL)
         |SELECT wt.token, CAST(COUNT(*) AS BIGINT) AS occurrences
         |FROM ws JOIN wt ON ws.word = wt.word
         |GROUP BY wt.token HAVING COUNT(*) >= 400""".stripMargin
    })),

    // CCNet perplexity buckets (round 8) — the published pipeline step
    // q79's scorer feeds: label every doc head/middle/tail by where its
    // bits-per-ngram ratio falls against the TERCILES of the held-out
    // val band (CCNet buckets a corpus against a clean reference
    // distribution; head = least surprising). Thresholds are exact order
    // statistics under (ratio, doc_id) ordering, carried as integer
    // (bits, ngrams) pairs so bucket edges compare by exact
    // cross-multiplication — no float boundary anywhere.
    // Oracle: the q79 model chain without plants, then the exact tercile
    // machinery: rank the md5 val band by (double ratio, doc_id) — both
    // engines compute the one-division ratio identically — pick ranks
    // ceil(n/3)/ceil(2n/3), bucket by integer cross-multiplication
    QueryCase("q84_perplexity_buckets", (s, dir) => {
      import graft.text.NgramLm
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val split = graft.sample.Sampling.assignSplits(docs, "doc_id",
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
      val train = split.where(col("split") === "train")
        .select("doc_id", "text")
      val model = NgramLm.train(train, "text", minCount = 2L)
      // score once; the ref ranking and the bucketing pass both read it
      val scored = NgramLm.score(docs, "doc_id", "text", model,
        loBits = 3L, hiBits = 7L).localCheckpoint()
      val ref = scored.join(
        split.where(col("split") === "val").select("doc_id"), Seq("doc_id"))
      NgramLm.perplexityBuckets(scored, "doc_id", ref)
    }, Some(_ =>
      """WITH tbi AS (
        | SELECT toks[i] AS w1, toks[i + 1] AS w2
        | FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |       FROM (SELECT str_split(text, ' ') AS toks FROM documents
        |             WHERE CAST(CONCAT('0x', substr(md5(CAST(doc_id AS
        |               VARCHAR) || ':split'), 1, 15)) AS BIGINT)
        |               / 1152921504606846976.0 < 0.75)
        |       WHERE len(toks) >= 2)),
        |big AS (SELECT w1, w2, COUNT(*) AS c FROM tbi
        |        GROUP BY w1, w2 HAVING COUNT(*) >= 2),
        |ctx AS (SELECT w1, COUNT(*) AS c FROM tbi
        |        GROUP BY w1 HAVING COUNT(*) >= 2),
        |voc AS (SELECT COUNT(DISTINCT w) AS v FROM
        |        (SELECT unnest(str_split(text, ' ')) AS w FROM documents
        |         WHERE CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)
        |           || ':split'), 1, 15)) AS BIGINT)
        |           / 1152921504606846976.0 < 0.75)),
        |sbi AS (
        | SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        | FROM (SELECT doc_id, toks,
        |         unnest(generate_series(1, len(toks) - 1)) AS i
        |       FROM (SELECT doc_id, str_split(text, ' ') AS toks
        |             FROM documents)
        |       WHERE len(toks) >= 2)),
        |sco AS (
        | SELECT s.doc_id,
        |   length(bin((COALESCE(x.c, 0) + voc.v)
        |     // (COALESCE(b.c, 0) + 1))) - 1 AS bits
        | FROM sbi s
        | LEFT JOIN big b ON s.w1 = b.w1 AND s.w2 = b.w2
        | LEFT JOIN ctx x ON s.w1 = x.w1
        | CROSS JOIN voc),
        |agg AS (SELECT doc_id, COUNT(*) AS ngrams,
        |          CAST(SUM(bits) AS BIGINT) AS bits
        |        FROM sco GROUP BY doc_id),
        |sc AS (SELECT p.doc_id, COALESCE(a.ngrams, 0) AS ngrams,
        |         COALESCE(a.bits, 0) AS bits
        |       FROM documents p LEFT JOIN agg a ON p.doc_id = a.doc_id),
        |ref AS (
        | SELECT doc_id, ngrams, bits,
        |   CAST(bits AS DOUBLE) / ngrams AS r
        | FROM sc WHERE ngrams > 0 AND
        |   CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)
        |     || ':split'), 1, 15)) AS BIGINT)
        |     / 1152921504606846976.0 >= 0.75 AND
        |   CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)
        |     || ':split'), 1, 15)) AS BIGINT)
        |     / 1152921504606846976.0 < 0.875),
        |rk AS (SELECT bits, ngrams,
        |         ROW_NUMBER() OVER (ORDER BY r, doc_id) AS rk FROM ref),
        |nn AS (SELECT COUNT(*) AS n FROM ref),
        |t1 AS (SELECT bits AS b1, ngrams AS n1 FROM rk, nn
        |       WHERE rk = (n + 2) // 3),
        |t2 AS (SELECT bits AS b2, ngrams AS n2 FROM rk, nn
        |       WHERE rk = (2 * n + 2) // 3)
        |SELECT sc.doc_id, sc.ngrams, sc.bits,
        |  CASE WHEN sc.ngrams = 0 THEN 'unscorable'
        |       WHEN sc.bits * t1.n1 <= t1.b1 * sc.ngrams THEN 'head'
        |       WHEN sc.bits * t2.n2 <= t2.b2 * sc.ngrams THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sc CROSS JOIN t1 CROSS JOIN t2""".stripMargin)),
  )
}
