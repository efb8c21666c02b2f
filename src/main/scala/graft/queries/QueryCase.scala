package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One contract query: `run` builds its frame from a session and an sf dir;
  * `oracle` gives the DuckDB SQL over the same tables for that sf dir, with
  * column names matching `run`'s (the correctness gate sorts columns by
  * name before hashing). `None` marks a rows-only check (q24). */
final case class QueryCase(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String => String])

object QueryCase {

  /** `cases`, once their names and their `qNN` prefixes are known to be
    * unique: Bench keys its headline JSON by the prefix alone
    * ([[graft.Bench.compactName]]). */
  def requireUnique(cases: Seq[QueryCase]): Seq[QueryCase] = {
    def repeated(keys: Seq[String]): Seq[String] =
      keys.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
        .toSeq.sorted
    val names = repeated(cases.map(_.name))
    require(names.isEmpty, s"duplicate query names: ${names.mkString(", ")}")
    val prefixes = repeated(cases.map(c => graft.Bench.compactName(c.name)))
    require(prefixes.isEmpty,
      s"duplicate query prefixes: ${prefixes.mkString(", ")}")
    cases
  }
}
