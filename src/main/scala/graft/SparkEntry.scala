package graft

import graft.io.OracleTables
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * The query registry: [[cases]] joins the per-family lists under
  * `graft.queries`. Each [[graft.queries.QueryCase]] runs one library
  * operator (SURVEY.md §2) against the generated parquet tables and
  * carries the DuckDB SQL the correctness gate compares it with; column
  * names match between both sides (the gate sorts columns by name before
  * hashing). [[graft.queries.QueryCase.requireUnique]] checks the names and
  * their `qNN` prefixes where the registry is built. [[queries]] and
  * [[oracleSqlFor]] are views of it; the rest of this object holds the
  * helpers more than one family uses.
  */
object SparkEntry {

  private[graft] def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Clip count for the synthetic north-rule table, scaled off the sf dir
    * so Verify (sf0.01) stays snappy and Bench (sf0.1) has real volume. */
  def clipCount(dir: String): Long =
    if (dir.contains("sf0.1")) 200000L
    else if (dir.contains("sf0.01")) 20000L
    else 5000L

  /** Flagship query on sf=0.001; driver smoke-checks rows>0: the full
    * north-rule validation summary over the synthetic clips table. */
  def entry(spark: SparkSession): DataFrame =
    queries("q20_clips_validate_summary")(spark, "/root/testdata/sf0.001")

  val cases: Seq[QueryCase] = QueryCase.requireUnique(
    ValidateQueries.cases ++ DedupQueries.cases ++ AudioQueries.cases ++
      TextQueries.cases ++ LayoutQueries.cases ++ StreamingQueries.cases)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    cases.map(c => c.name -> c.run).toMap

  /** The oracle SQL of every query that has one, bound to the clips-table
    * paths of `sfDir`'s scale (Verify dumps it for the sf dir it ran on). */
  def oracleSqlFor(sfDir: String): Map[String, String] =
    cases.flatMap(c => c.oracle.map(o => c.name -> o(sfDir))).toMap

  /** The queries a main runs, sorted by name. SPARK_GRAFT_ONLY=q33,q34
    * keeps only the names starting with one of the comma-separated
    * prefixes. Bench, BenchExtra, Verify and PlanDump all select here, so
    * the same env var always picks the same set. */
  def selected: Seq[QueryCase] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    cases.sortBy(_.name).filter(c => only.forall(_.exists(c.name.startsWith)))
  }

  /** Untimed warmup before a timed query phase (round-3 verdict #7): the
    * first timed query used to absorb 3-5 s of JIT + codegen + first-scan
    * session warmup, making q01's number incomparable across rounds. A
    * scan+project (q09) then a shuffle+agg (q03) run first, so every timed
    * number is steady-state. */
  def warmup(spark: SparkSession, dir: String): Unit =
    try Seq("q09_token_stats", "q03_unique_violations")
      .foreach(name => queries(name)(spark, dir).count())
    catch { case e: Throwable =>
      System.err.println(s"[warmup] failed (continuing): ${e.getMessage}")
    }

  /** The clips table as a DuckDB relation for `sfDir`'s scale. The
    * synthetic clips and catalog tables are materialized ONCE to parquet
    * (OracleTables), so DuckDB reads the SAME bytes the Spark queries read
    * — this is what makes the clips checks oracle-able (round-1 verdict
    * #1). Reading storage-backed parquet is also the honest 100 TB
    * benchmark shape. */
  def clipsSql(sfDir: String): String =
    s"read_parquet('${OracleTables.clipsPath(clipCount(sfDir))}/*.parquet')"

  /** The transcript catalog as a DuckDB relation for `sfDir`'s scale. */
  def catalogSql(sfDir: String): String =
    s"read_parquet('${OracleTables.catalogPath(clipCount(sfDir))}/*.parquet')"

  /** The clips row-constraint suite (ClipsGenerator.spec) as one
    * predicate; each conjunct group leads with IS NOT NULL so the AND is
    * never NULL. */
  val clipOk: String =
    """(clip_id IS NOT NULL AND regexp_matches(clip_id, '^clip-[0-9]{12}$')
      |  AND bytes IS NOT NULL
      |  AND sr_hz IS NOT NULL AND sr_hz >= 8000 AND sr_hz <= 48000
      |  AND sr_hz IN (8000, 16000, 22050, 44100, 48000)
      |  AND dur_ms IS NOT NULL AND dur_ms > 0 AND dur_ms <= 30000
      |  AND codec IS NOT NULL AND codec IN ('pcm_s16le','flac','pcm_mulaw','pcm_alaw','adpcm_ima')
      |  AND transcript IS NOT NULL AND length(transcript) >= 1)""".stripMargin

  /** Which rows MUST fail the per-codec SNR floor, by injection rule:
    * duplicate-id rows (detectable as dur_ms not matching the id-derived
    * value) plus byte-zeroed corrupt rows (id % 5000 = 17) — EXCEPT that
    * under adpcm_ima's measured 8 dB floor a 1 Hz-off duplicate-id payload
    * (15.1-19.0 dB, AdpcmBandSweep) passes; only corruption (≤ 2.5 dB)
    * fails. The Spark side must earn this by decoding five formats. */
  def snrFailPred(p: String): String =
    s"""(CASE WHEN ${p}codec = 'adpcm_ima'
       |  THEN CAST(substr(${p}clip_id, 6) AS BIGINT) % 5000 = 17
       |  ELSE ${p}dur_ms <> 200 + (CAST(substr(${p}clip_id, 6) AS BIGINT) * 37) % 9800
       |    OR CAST(substr(${p}clip_id, 6) AS BIGINT) % 5000 = 17 END)""".stripMargin

  /** q80's committed per-scale BPE vocabularies — `BpeTrainHarness`
    * output (doc_id%4<3 slice, 60 merges; the corpora differ per scale,
    * so each scale trains its own), pinned live-equal by
    * `BpeTokenizerSpec` so they stay honest training outputs. */
  private val BpeVocabSf0001: Seq[String] = Seq(
    "a", "ag", "agg", "alu", "alue", "am", "an", "ar", "as", "ash",
    "ast", "at", "b", "c", "can", "co", "colu", "colum", "column", "ct",
    "ctor", "d", "der", "dow", "e", "eam", "ector", "er", "ery", "ey",
    "f", "fast", "fi", "fil", "filt", "filter", "g", "ge", "gr", "h",
    "hash", "i", "in", "indow", "ine", "j", "jo", "join", "k", "key",
    "l", "line", "lu", "m", "mer", "merge", "n", "o", "or", "order",
    "ort", "ow", "p", "par", "part", "q", "qu", "query", "r", "ream",
    "s", "scan", "sort", "st", "stream", "t", "u", "up", "v", "value",
    "vector", "w", "window", "y")

  private val BpeVocabSf001: Seq[String] = Seq(
    "a", "ab", "abl", "able", "al", "all", "alu", "alue", "an", "ar",
    "as", "ash", "ast", "at", "ata", "atc", "atch", "b", "batch", "c",
    "can", "co", "colu", "colum", "column", "cu", "cust", "custo", "customer", "d",
    "data", "der", "e", "er", "f", "fast", "fi", "fil", "filt", "filter",
    "g", "ge", "gr", "gro", "h", "hash", "i", "in", "ine", "j",
    "jo", "join", "k", "l", "line", "low", "lu", "m", "mall", "mer",
    "merge", "n", "o", "or", "order", "ow", "p", "par", "q", "r",
    "row", "s", "scan", "slow", "small", "st", "t", "table", "u", "up",
    "v", "value", "w", "y")

  private val BpeVocabSf01: Seq[String] = Seq(
    "a", "al", "all", "alu", "alue", "am", "ar", "as", "ash", "ata",
    "b", "bl", "ble", "c", "co", "colu", "colum", "column", "ct", "ctor",
    "cu", "cust", "custo", "customer", "d", "data", "dow", "e", "eam", "ector",
    "er", "f", "fi", "fil", "filt", "filter", "g", "ge", "h", "hash",
    "he", "i", "in", "indow", "ine", "j", "jo", "join", "k", "l",
    "line", "lu", "m", "mall", "mer", "merge", "n", "o", "or", "ow",
    "p", "par", "park", "part", "q", "r", "ream", "s", "small", "spark",
    "st", "stream", "t", "ta", "table", "the", "u", "up", "v", "value",
    "vector", "w", "window", "y")

  /** The committed q80 vocabulary for a testdata scale dir. */
  def bpeVocabFor(sfDir: String): Seq[String] =
    if (sfDir.contains("sf0.1")) BpeVocabSf01
    else if (sfDir.contains("sf0.01")) BpeVocabSf001
    else BpeVocabSf0001

  /** [[bpeVocabFor]] as a DuckDB list body of quoted string literals. */
  def bpeVocabSql(sfDir: String): String =
    bpeVocabFor(sfDir).map(t => "'" + t.replace("'", "''") + "'").mkString(", ")
}
