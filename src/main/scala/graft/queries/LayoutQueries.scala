package graft.queries

import graft.SparkEntry.{tbl, clipCount, clipsSql, clipOk, bpeVocabSql}
import graft.io.{ClipsGenerator, OracleTables}
import org.apache.spark.sql.functions._

/** Training-data layout queries: splits, sampling, mixture resampling and
  * sequence packing (`graft.sample`), and checkpoint/resume
  * (`graft.checkpoint`). */
object LayoutQueries {

  val cases: Seq[QueryCase] = Seq(
    // Checkpoint/resume through the oracle gate (round 5; round 6 adds the
    // APPEND act — the commonest production lineage event; north rule:
    // "resumable from checkpoint with exact per-partition lineage +
    // metrics"). A five-act interrupted run over the codec-partitioned
    // clips table:
    //   run 1: an "interrupted" job validates only the pcm_s16le + flac
    //          partitions (manifest records their content fingerprints);
    //   run 2: resume over the FULL table — the manifest must skip the two
    //          completed partitions and validate exactly the rest;
    //   run 3: re-resume with nothing changed — must be a pure no-op;
    //   run 4: an in-place edit of the flac partition's transcripts (null
    //          rows untouched, so metrics are invariant) must flip its
    //          whole-row fingerprint and re-queue exactly that partition;
    //   run 5: GROWTH — the pcm_alaw partition receives id-shifted copies
    //          of its own rows (id += n: fresh unique ids, the shape of a
    //          new ingest batch; every other column verbatim, so the
    //          appended rows carry the same constraint outcomes and the
    //          partition's metrics exactly double). Exactly pcm_alaw must
    //          re-queue — this is the event the metadata-only `.files`
    //          fingerprint basis (ManifestCheckpoint.icebergFingerprints)
    //          catches for free on a real catalog.
    // The emitted row per partition carries the manifest's final metrics
    // plus which run validated it / which acts re-queued it — all exactly
    // predictable by the oracle from the injection rules, so a hash match
    // pins both the validation numbers AND the resume/lineage control flow.
    // Oracle: the checkpoint manifest's final per-partition metrics are q20's
    // summary regrouped by the physical partition value — with pcm_alaw's
    // counts DOUBLED by the act-5 append (id-shifted copies carry every
    // non-key column verbatim, so each appended row reproduces its source's
    // constraint outcome; the shifted ids still match the 12-digit pattern).
    // The resume control-flow columns are constants of the scenario (run 1
    // covered pcm_s16le+flac; the edit touched flac; the append grew
    // pcm_alaw; run 3 no-opped) — the Spark side must EARN them by actually
    // skipping fingerprint-matched partitions and re-queuing exactly the
    // edited and the grown one (the in-query `require`s abort on any
    // deviation, so a returned row implies the control flow)
    QueryCase("q41_checkpoint_resume", (s, dir) => {
      import graft.checkpoint.ManifestCheckpoint
      val n = clipCount(dir)
      val clips = OracleTables.clips(s, n)
      val base = s"${OracleTables.ScratchRoot}/graft-ckpt/n$n"
      // fresh state per invocation: verify and each bench rep replay the
      // whole interrupted-run scenario deterministically
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
      catch { case _: java.io.IOException => }
      val manifestDir = s"$base/manifest"
      val outDir = s"$base/out"
      val firstRun = clips.where(col("codec").isin("pcm_s16le", "flac"))
      val run1 = ManifestCheckpoint.runResumable(s, firstRun,
        ClipsGenerator.spec, manifestDir, outDir)
      require(run1.toSet == Set("pcm_s16le", "flac"),
        s"interrupted run validated $run1")
      val run2 = ManifestCheckpoint.runResumable(s, clips,
        ClipsGenerator.spec, manifestDir, outDir)
      require(run2.toSet == Set("pcm_mulaw", "pcm_alaw", "adpcm_ima"),
        s"resume must validate exactly the remaining partitions, got $run2")
      val run3 = ManifestCheckpoint.runResumable(s, clips,
        ClipsGenerator.spec, manifestDir, outDir)
      require(run3.isEmpty, s"completed manifest must no-op on resume: $run3")
      val edited = clips.withColumn("transcript",
        when(col("codec") === "flac",
          concat(col("transcript"), lit(" v2")))
          .otherwise(col("transcript")))
      val run4 = ManifestCheckpoint.runResumable(s, edited,
        ClipsGenerator.spec, manifestDir, outDir)
      require(run4 == Seq("flac"),
        s"edit must re-queue exactly the edited partition, got $run4")
      val appended = edited.where(col("codec") === "pcm_alaw")
        .withColumn("clip_id", format_string("clip-%012d",
          expr("CAST(substr(clip_id, 6) AS BIGINT)") + lit(n)))
      val grown = edited.unionByName(appended)
      val run5 = ManifestCheckpoint.runResumable(s, grown,
        ClipsGenerator.spec, manifestDir, outDir)
      require(run5 == Seq("pcm_alaw"),
        s"append must re-queue exactly the grown partition, got $run5")
      ManifestCheckpoint.latestEntries(s.read.parquet(manifestDir))
        .select(col("partition_value"), col("total_rows"),
          col("error_rows"), col("valid_rows"),
          when(col("partition_value").isin(run1: _*), 1).otherwise(2)
            .as("validated_in_run"),
          col("partition_value").isin(run4: _*).as("requeued_after_edit"),
          col("partition_value").isin(run5: _*).as("requeued_after_append"),
          lit(run3.isEmpty).as("resume_noop"))
    }, Some(sfDir =>
      s"""WITH c AS (SELECT codec, $clipOk AS ok FROM ${clipsSql(sfDir)}),
         |g AS (
         | SELECT codec, COUNT(*) AS tr,
         |   CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT) AS er
         | FROM c GROUP BY codec
         |)
         |SELECT codec AS partition_value,
         |  CASE WHEN codec = 'pcm_alaw' THEN 2 * tr ELSE tr END AS total_rows,
         |  CASE WHEN codec = 'pcm_alaw' THEN 2 * er ELSE er END AS error_rows,
         |  CASE WHEN codec = 'pcm_alaw' THEN 2 * (tr - er) ELSE tr - er END
         |    AS valid_rows,
         |  CASE WHEN codec IN ('pcm_s16le','flac') THEN 1 ELSE 2 END
         |    AS validated_in_run,
         |  (codec = 'flac') AS requeued_after_edit,
         |  (codec = 'pcm_alaw') AS requeued_after_append,
         |  TRUE AS resume_noop
         |FROM g""".stripMargin)),

    // Deterministic split + stratified sample (training-data pipelines
    // need REPRODUCIBLE train/val/test membership and per-stratum sampling
    // that survives appends and cluster-size changes — seed-based
    // Dataset.sample gives neither). Membership is a pure function of
    // clip_id through an md5-derived 60-bit uniform, one salt per decision
    // so sample membership can't predict split. All fractions dyadic
    // (cumulative edges exact in binary), so the oracle reproduces every
    // row's membership bit-for-bit from the same arithmetic. Scan-only:
    // the counts are the only thing that ever enters an exchange.
    // Oracle: md5-derived 60-bit uniform (the q15 hex recipe), one salt per
    // decision; dyadic band edges and rates make every membership compare
    // exact in double on both engines
    QueryCase("q48_split_sample", (s, dir) => {
      import graft.sample.Sampling
      val n = clipCount(dir)
      val clips = OracleTables.clips(s, n)
      val withSplit = Sampling.assignSplits(clips, "clip_id",
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
      val flag = Sampling.sampleFlag(clips, "clip_id", "codec",
        Map("flac" -> 0.5, "pcm_mulaw" -> 0.25), defaultRate = 0.0625)
      withSplit.groupBy(col("codec"), col("split"))
        .agg(count(lit(1)).as("total_rows"),
          coalesce(sum(when(flag, 1L).otherwise(0L)), lit(0L))
            .as("sampled_rows"))
    }, Some(sfDir =>
      s"""WITH u AS (
         | SELECT codec,
         |   CAST(CONCAT('0x', substr(md5(clip_id || ':split'), 1, 15))
         |     AS BIGINT) / 1152921504606846976.0 AS u_split,
         |   CAST(CONCAT('0x', substr(md5(clip_id || ':sample'), 1, 15))
         |     AS BIGINT) / 1152921504606846976.0 AS u_sample
         | FROM ${clipsSql(sfDir)}
         |), labeled AS (
         | SELECT codec,
         |   CASE WHEN u_split < 0.75 THEN 'train'
         |        WHEN u_split < 0.875 THEN 'val'
         |        WHEN u_split < 1.0 THEN 'test' END AS split,
         |   CASE WHEN u_sample < (CASE WHEN codec = 'flac' THEN 0.5
         |     WHEN codec = 'pcm_mulaw' THEN 0.25 ELSE 0.0625 END)
         |     THEN 1 ELSE 0 END AS sampled
         | FROM u
         |)
         |SELECT codec, split, COUNT(*) AS total_rows,
         |  CAST(SUM(sampled) AS BIGINT) AS sampled_rows
         |FROM labeled GROUP BY codec, split""".stripMargin)),

    // Leakage-safe train/val/test splits (round 7) — the composition
    // closing q48 × q50: row-level splitting leaks eval data through
    // near-copies (a doc in train, its 0.9-Jaccard twin in test), so the
    // split key must be the near-dup CLUSTER, not the row. Pipeline:
    // minhash pairs (default skew cap) → connected components → each doc
    // keyed by its component label (own id for singletons) → the q48 md5
    // band arithmetic on the GROUP key. Cohesion is structural — one key,
    // one label — and singletons keep the exact label plain assignSplits
    // gives them (adding the guard never reshuffles unclustered history;
    // pinned by SamplingSpec). The oracle replays the q50 recursive-CTE
    // closure + the q48 hex arithmetic on the coalesced key.
    // Oracle: q50's recursive-CTE closure feeds q48's md5 band arithmetic,
    // keyed by COALESCE(component, own id) — the leakage-safe group key
    QueryCase("q60_leakage_safe_splits", (s, dir) => {
      import graft.dedup.Dedup
      import graft.sample.Sampling
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.8, shingleLen = 3).select("id_a", "id_b")
      val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("node").as("doc_id"), col("component"))
      Sampling.assignGroupedSplits(docs.select("doc_id"), "doc_id",
        comps, "component",
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
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
         |), k AS (
         | SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS key
         | FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |)
         |SELECT doc_id,
         |  CASE WHEN u < 0.75 THEN 'train'
         |       WHEN u < 0.875 THEN 'val'
         |       WHEN u < 1.0 THEN 'test' END AS split
         |FROM (SELECT doc_id,
         |   CAST(CONCAT('0x', substr(md5(CAST(key AS VARCHAR) || ':split'),
         |     1, 15)) AS BIGINT) / 1152921504606846976.0 AS u
         | FROM k)""".stripMargin)),

    // Sequence packing (round 7) — the concat-and-chunk layout step
    // between a curated corpus and a token-budgeted training run: every
    // doc's exact GLOBAL prefix-sum offset, computed by the two-pass
    // distributed scan (range-partition the narrow (id, size) projection,
    // O(partitions) driver prefix of per-partition totals, within-
    // partition window) instead of the single-task unpartitioned window a
    // naive sum().over(orderBy) plans. Offsets are partitioning-invariant
    // (SequencePackingSpec pins 1/7/32-partition equality), so the same
    // corpus packs identically at any cluster size. The oracle IS the
    // naive global window — fine in DuckDB at sf0.01, the scale killer
    // the operator exists to avoid on Spark.
    // Oracle: the naive single-window prefix sum the distributed operator
    // replaces — exact, so the two must agree row-for-row
    QueryCase("q62_sequence_packing", (s, dir) => {
      import graft.sample.SequencePacking
      val docs = tbl(s, dir, "documents")
      val rep = SequencePacking.packReport(docs, "doc_id", "n_chars",
        chunkTokens = 4096L)
      rep.withColumn("crosses_chunk", col("crosses_chunk").cast("long"))
    }, Some(_ =>
      """WITH o AS (
        | SELECT doc_id, CAST(COALESCE(n_chars, 0) AS BIGINT) AS n_chars,
        |   CAST(COALESCE(SUM(CAST(COALESCE(n_chars, 0) AS BIGINT))
        |     OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |     0) AS BIGINT) AS token_offset
        | FROM documents
        |)
        |SELECT doc_id, n_chars, token_offset,
        |  token_offset // 4096 AS chunk_first,
        |  (token_offset + GREATEST(n_chars, 1) - 1) // 4096 AS chunk_last,
        |  CAST((token_offset + GREATEST(n_chars, 1) - 1) // 4096
        |    > token_offset // 4096 AS BIGINT) AS crosses_chunk
        |FROM o""".stripMargin)),

    // Deterministic mixture resampling (round 7) — per-source target
    // rates where r<1 downsamples and r>1 UPSAMPLES (epoch repetition):
    // copy k of a row survives iff md5-uniform(id:mix:k) < r − k, so the
    // expected multiplicity is exactly r and membership is a pure
    // function of (id, k) — same result at any parallelism, bit-replayed
    // by the oracle. Dyadic rates keep the survival compare exact in
    // double on both engines. One scan: bounded explode + codegen'd
    // filter; only (source, count) pairs enter an exchange.
    // Oracle: identical md5-uniform survival arithmetic per (doc, copy) pair;
    // dyadic rates make u < r − k exact in double on both engines
    QueryCase("q63_mixture_resample", (s, dir) => {
      import graft.sample.Mixing
      val docs = tbl(s, dir, "documents")
      Mixing.resampleSummary(docs, "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 1.25, "src2" -> 0.5, "src3" -> 0.0),
        defaultRate = 1.0)
    }, Some(_ =>
      """WITH e AS (
        | SELECT source, k.k,
        |   CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.25
        |     WHEN 'src2' THEN 0.5 WHEN 'src3' THEN 0.0 ELSE 1.0 END AS r,
        |   CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)
        |     || ':mix:' || CAST(k.k AS VARCHAR)), 1, 15)) AS BIGINT)
        |     / 1152921504606846976.0 AS u
        | FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) k
        |)
        |SELECT source,
        |  CAST(SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS in_rows,
        |  CAST(SUM(CASE WHEN u < r - k THEN 1 ELSE 0 END) AS BIGINT)
        |    AS out_rows
        |FROM e GROUP BY source""".stripMargin)),

    // Mixture → packing composition (round 7) — the two layout operators
    // chained the way a training run uses them: resample the corpus to
    // the target source mixture (q63's rates, every surviving (doc, copy)
    // an independent unit), then pack the RESAMPLED stream into exact
    // global token offsets (q62's two-pass scan). The packing key
    // doc_id·4 + copy (maxCopies = 3 < 4) keeps numeric order = (doc,
    // copy) order, so offsets are a pure function of the mixture — the
    // oracle replays membership bit-for-bit (dyadic rates) and runs the
    // naive global window over the survivors. Upsampled copies pack as
    // distinct units; dropped sources never reach the offset scan.
    // Oracle: q63's membership arithmetic feeding q62's naive global window
    // over the survivors — the composed oracle for the composed operators
    QueryCase("q69_mixture_packing", (s, dir) => {
      import graft.sample.{Mixing, SequencePacking}
      val docs = tbl(s, dir, "documents")
      val mixed = Mixing.resample(docs, "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 1.25, "src2" -> 0.5, "src3" -> 0.0),
        defaultRate = 1.0)
        .select((col("doc_id") * 4 + col("copy")).as("pack_id"),
          col("n_chars"))
      val rep = SequencePacking.packReport(mixed, "pack_id", "n_chars",
        chunkTokens = 2048L)
      rep.select(
        col("pack_id"),
        expr("pack_id div 4").as("doc_id"),
        (col("pack_id") % 4).as("copy"),
        col("n_chars"), col("token_offset"), col("chunk_first"),
        col("chunk_last"), col("crosses_chunk").cast("long")
          .as("crosses_chunk"))
    }, Some(_ =>
      """WITH e AS (
        | SELECT doc_id, n_chars, k.k AS copy,
        |   CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.25
        |     WHEN 'src2' THEN 0.5 WHEN 'src3' THEN 0.0 ELSE 1.0 END AS r,
        |   CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)
        |     || ':mix:' || CAST(k.k AS VARCHAR)), 1, 15)) AS BIGINT)
        |     / 1152921504606846976.0 AS u
        | FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) k
        |), kept AS (
        | SELECT doc_id * 4 + copy AS pack_id, doc_id, copy,
        |   CAST(COALESCE(n_chars, 0) AS BIGINT) AS n_chars
        | FROM e WHERE u < r - copy
        |), o AS (
        | SELECT pack_id, doc_id, copy, n_chars,
        |   CAST(COALESCE(SUM(n_chars) OVER (ORDER BY pack_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |     AS BIGINT) AS token_offset
        | FROM kept
        |)
        |SELECT pack_id, doc_id, copy, n_chars, token_offset,
        |  token_offset // 2048 AS chunk_first,
        |  (token_offset + GREATEST(n_chars, 1) - 1) // 2048 AS chunk_last,
        |  CAST((token_offset + GREATEST(n_chars, 1) - 1) // 2048
        |    > token_offset // 2048 AS BIGINT) AS crosses_chunk
        |FROM o""".stripMargin)),

    // Subword-budget mixture (round 8) — the full planning→execution loop
    // on REAL token counts: tokenize (q80's live-trained BPE), aggregate
    // per-source subword totals, SOLVE the per-source rates for a token
    // budget of half the corpus at dyadic target proportions
    // (ratesForBudget — clamped at 16× repetition), then execute the
    // deterministic resample and report per-source rows/tokens in and
    // out. Dyadic proportions make every rate an exactly-reproducible
    // double (budget·p is a dyadic scaling; one correctly-rounded divide
    // by the token count), so the md5 survival compare replays
    // bit-for-bit in the oracle.
    // Oracle: the full loop replayed: committed-vocab tokenization (q80's
    // recursive strip), per-source totals, budget = corpus // 2, dyadic rates
    // LEAST(budget·p / tokens, 16.0) — bit-identical doubles by construction
    // — then q63's md5 survival arithmetic over 16 copies
    QueryCase("q82_subword_budget_mix", (s, dir) => {
      import graft.sample.Mixing
      import graft.text.BpeTokenizer
      val docs = tbl(s, dir, "documents").select("doc_id", "source", "text")
      val train = docs.where(col("doc_id") % 4 < 3)
      val freqs = BpeTokenizer.wordFreqs(train, "text")
      val voc = BpeTokenizer.vocab(freqs,
        BpeTokenizer.trainMerges(freqs, numMerges = 60))
      // tokenize ONCE; budget aggregate, per-source report, and resample
      // all read the materialized (id, tokens, source) frame
      val counts = BpeTokenizer.subwordCounts(docs, "doc_id", "text", voc)
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
        .localCheckpoint()
      val budget = counts.agg(sum("subword_tokens")).head().getLong(0) / 2
      val props = Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.125,
        "src3" -> 0.125)
      val perSrc = counts.groupBy("source").agg(
        count(lit(1)).as("in_rows"), sum("subword_tokens").as("in_tokens"))
      val tokens = perSrc.collect() // O(sources) driver
        .flatMap(r => Option(r.getString(0)).map(_ -> r.getLong(2))).toMap
        .filter(kv => props.contains(kv._1))
      val (rates, _) = Mixing.ratesForBudget(tokens, props, budget)
      val out = Mixing.resample(counts, "doc_id", "source", rates,
        defaultRate = 0.0)
        .groupBy("source").agg(count(lit(1)).as("out_rows"),
          sum("subword_tokens").as("out_tokens"))
      perSrc.join(out, Seq("source"), "left_outer")
        .select(col("source"), col("in_rows"), col("in_tokens"),
          coalesce(col("out_rows"), lit(0L)).as("out_rows"),
          coalesce(col("out_tokens"), lit(0L)).as("out_tokens"))
    }, Some(sfDir => {
      val vocList = bpeVocabSql(sfDir)
      s"""WITH RECURSIVE
         |voc(tok) AS (SELECT unnest([$vocList])),
         |w(word) AS (
         | SELECT DISTINCT unnest(str_split(text, ' '))
         | FROM documents WHERE text IS NOT NULL),
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
         |wst AS (SELECT doc_id, unnest(str_split(text, ' ')) AS word
         |        FROM documents WHERE text IS NOT NULL),
         |dc0 AS (SELECT wst.doc_id, CAST(SUM(wn.toks) AS BIGINT) AS t
         |        FROM wst JOIN wn ON wst.word = wn.word GROUP BY wst.doc_id),
         |dc AS (SELECT d.doc_id, d.source, COALESCE(dc0.t, 0) AS toks
         |       FROM documents d LEFT JOIN dc0 ON d.doc_id = dc0.doc_id),
         |bud AS (SELECT SUM(toks) // 2 AS b FROM dc),
         |st AS (SELECT source, COUNT(*) AS in_rows,
         |         CAST(SUM(toks) AS BIGINT) AS in_tokens
         |       FROM dc GROUP BY source),
         |rates AS (
         | SELECT st.source,
         |   LEAST(CAST(bud.b AS DOUBLE)
         |     * (CASE st.source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25
         |        WHEN 'src2' THEN 0.125 WHEN 'src3' THEN 0.125 END)
         |     / st.in_tokens, 16.0) AS r
         | FROM st CROSS JOIN bud
         | WHERE st.source IN ('src0', 'src1', 'src2', 'src3')),
         |e AS (
         | SELECT dc.source, dc.toks, k.k, COALESCE(r.r, 0.0) AS r,
         |   CAST(CONCAT('0x', substr(md5(CAST(dc.doc_id AS VARCHAR)
         |     || ':mix:' || CAST(k.k AS VARCHAR)), 1, 15)) AS BIGINT)
         |     / 1152921504606846976.0 AS u
         | FROM dc
         | CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS k) k
         | LEFT JOIN rates r ON dc.source = r.source),
         |o AS (
         | SELECT source,
         |   CAST(SUM(CASE WHEN u < r - k THEN 1 ELSE 0 END) AS BIGINT)
         |     AS out_rows,
         |   CAST(COALESCE(SUM(CASE WHEN u < r - k THEN toks END), 0)
         |     AS BIGINT) AS out_tokens
         | FROM e GROUP BY source)
         |SELECT st.source, CAST(st.in_rows AS BIGINT) AS in_rows,
         |  st.in_tokens,
         |  COALESCE(o.out_rows, 0) AS out_rows,
         |  COALESCE(o.out_tokens, 0) AS out_tokens
         |FROM st LEFT JOIN o ON st.source = o.source""".stripMargin
    })),
  )
}
