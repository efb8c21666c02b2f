package bench4

import org.apache.spark.sql.SparkSession

/** One local session for the benchmark's own tests. The forced-spill
  * threshold makes a modest sort spill, so the spill counter can be pinned. */
object TestSession {
  val work: String = {
    val d = new java.io.File("target/test-work").getAbsoluteFile
    org.apache.commons.io.FileUtils.deleteDirectory(d)
    d.mkdirs()
    d.getPath
  }

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("bench4-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "5000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
