package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (sbt forks one test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Bench.builder(4)
      .appName("graft-test")
      .config("spark.sql.timeType.enabled", "true") // Spark 4.1 TIME preview
      // saveAsTable target for bucketed-table tests (inside the repo tree)
      .config("spark.sql.warehouse.dir", "/root/repo/target/test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
