package graft

import graft.io.OracleTables
import java.util.Locale

/** Supplementary benchmark (guide §1.4): times each selected query
  * through the NOOP SINK — `df.write.format("noop")` computes every
  * column of every row and discards it — so the measured wall is the
  * computation, not the sink, and the optimizer cannot prune whole
  * subtrees the way a `count()` can. The frozen `graft.Bench` remains
  * the driver's harness (its `count()` methodology is unchanged); this
  * main exists for the optimization-round evidence cited in
  * OPTIMIZATION_r09.md.
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_ONLY,
  * SPARK_GRAFT_QUERY_REPS — same semantics as Bench. Prints one compact
  * JSON line: {"metric":"noop","queries":{...min...},"samples":{...}}.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_QUERY_REPS", "3").toInt
    val spark = Bench.session(cpus)
    try {
      OracleTables.ensure(spark, SparkEntry.clipCount(sfDir))
      SparkEntry.warmup(spark, sfDir)
      val named = SparkEntry.selected.map(c => c.name -> c.run)
      val samples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]](
        named.map { case (n, _) => n -> Vector.empty[Double] }: _*)
      (1 to reps).foreach { _ =>
        named.foreach { case (name, fn) =>
          spark.sparkContext.setJobDescription(s"noop: $name")
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            samples(name) :+= (System.nanoTime() - t0) / 1e9
          } catch { case e: Throwable =>
            System.err.println(s"[benchextra] $name failed: ${e.getMessage}")
            samples(name) :+= -1.0
          } finally spark.sparkContext.setJobDescription(null)
        }
      }
      def num(d: Double) = String.format(Locale.ROOT, "%.3f", Double.box(d))
      val mins = samples.map { case (n, xs) =>
        s""""${Bench.compactName(n)}":${num(Bench.reportedQueryWall(xs))}""" }
        .mkString("{", ",", "}")
      val raw = samples.map { case (n, xs) =>
        s""""${Bench.compactName(n)}":${xs.map(num).mkString("[", ",", "]")}""" }
        .mkString("{", ",", "}")
      println(s"""{"metric":"noop","queries":$mins,"samples":$raw}""")
    } finally spark.stop()
  }
}
