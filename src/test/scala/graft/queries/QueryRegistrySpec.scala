package graft.queries

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** The registry's assumptions fail loudly: names and `qNN` prefixes are
  * unique (Bench keys its headline by prefix), the query list is the
  * contract's 87 names, and q24 is the one rows-only query. */
class QueryRegistrySpec extends AnyFunSuite {

  private def stub(name: String): QueryCase =
    QueryCase(name, (s, _) => s.emptyDataFrame, Some(_ => "SELECT 1"))

  test("a duplicate name throws") {
    val e = intercept[IllegalArgumentException](QueryCase.requireUnique(
      Seq(stub("q01_a"), stub("q02_b"), stub("q01_a"))))
    assert(e.getMessage.contains("duplicate query names: q01_a"))
  }

  test("a duplicate qNN prefix throws") {
    val e = intercept[IllegalArgumentException](QueryCase.requireUnique(
      Seq(stub("q01_a"), stub("q02_b"), stub("q01_c"))))
    assert(e.getMessage.contains("duplicate query prefixes: q01"))
    val ok = Seq(stub("q01_a"), stub("q02_b"))
    assert(QueryCase.requireUnique(ok) === ok)
  }

  test("the registry holds the 87 contract queries") {
    val expected = Seq(
      "q01_null_summary", "q02_range_violations",
      "q03_unique_violations", "q04_unique_pk_clean", "q05_ref_orphans",
      "q06_ref_summary", "q07_colstats", "q08_cast_roundtrip",
      "q09_token_stats", "q10_quality_score", "q11_fingerprint",
      "q12_dedup_exact", "q13_lang_id", "q14_minhash_neardups",
      "q15_simhash_neardups", "q16_ann_bruteforce", "q17_ann_lsh",
      "q18_embedding_neardups", "q19_rolling_fingerprint",
      "q20_clips_validate_summary", "q21_clips_violations",
      "q22_clips_unique", "q23_clips_ref_orphans", "q24_clips_drift",
      "q25_clips_audio_invariant", "q26_clips_suite_onepass",
      "q27_topk_users", "q28_events_hourly", "q29_histogram",
      "q30_orders_profile", "q31_ngram_jaccard", "q32_ann_ivf",
      "q33_embedding_neardups_planted", "q34_clips_drift_exact",
      "q35_streaming_dup_counts", "q36_streaming_orphans",
      "q37_streaming_window_rates", "q38_clips_unique_salted",
      "q39_clips_unique_bucketed", "q40_clips_snr_bands",
      "q41_checkpoint_resume", "q42_clips_tone_census",
      "q43_streaming_drift", "q44_dedup_cascade",
      "q45_categorical_drift", "q46_transcript_plausibility",
      "q47_decontamination", "q48_split_sample",
      "q49_quality_filter_report", "q50_neardup_components",
      "q51_incremental_dedup", "q52_repetition_filter",
      "q53_cluster_keepers", "q54_pii_census", "q55_langmix_drift",
      "q56_quality_census", "q57_line_dedup", "q58_incremental_neardup",
      "q59_trim_census", "q60_leakage_safe_splits",
      "q61_streaming_quality", "q62_sequence_packing",
      "q63_mixture_resample", "q64_heavy_hitters",
      "q65_container_census", "q66_resample_census",
      "q67_embedding_validate", "q68_decontamination_bloom",
      "q69_mixture_packing", "q70_streaming_ingest",
      "q71_containment_decon", "q72_gain_census",
      "q73_heavy_hitters_by_source", "q74_span_dedup",
      "q75_semantic_decontam", "q76_version_diff", "q77_repair_census",
      "q78_repair_verify", "q79_ngram_perplexity",
      "q80_subword_packing", "q81_streaming_late_replay",
      "q82_subword_budget_mix", "q83_audio_content_dedup",
      "q84_perplexity_buckets", "q85_subword_heavy_hitters",
      "q86_repair_resume", "q87_streaming_content_dedup")
    assert(SparkEntry.cases.size === 87)
    assert(SparkEntry.cases.map(_.name).sorted === expected)
    assert(SparkEntry.queries.keys.toSeq.sorted === expected)
  }

  test("q24 is the only query without an oracle") {
    assert(SparkEntry.oracleSqlFor("testdata/sf0.01").size === 86)
    assert(SparkEntry.cases.filter(_.oracle.isEmpty).map(_.name) ===
      Seq("q24_clips_drift"))
  }
}
