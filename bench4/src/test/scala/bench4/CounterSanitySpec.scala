package bench4

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Each engine counter against a job whose size is known in advance. */
class CounterSanitySpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private lazy val counters = EngineCounters.register(spark)

  /** Counters of the second of two runs of `body`: the first loads the
    * classes the job needs, whose jar reads would count as input. */
  private def measured(body: => Unit): EngineSnapshot = {
    body
    val before = counters.snapshot(spark)
    body
    counters.snapshot(spark).minus(before)
  }

  private def parquetBytes(dir: String): Long =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum

  /** 4000 rows of 1 KiB random (incompressible) bytes in 4 files. */
  private lazy val table: String = {
    val d = s"${TestSession.work}/random"
    spark.range(0, 4000, 1, 4)
      .select(col("id"), expr("unhex(sha2(cast(id as string), 256))").as("h"))
      .select(col("id"), concat((0 until 32).map(k => sha2(concat(col("h"), lit(k)), 256)): _*).as("s"))
      .select(col("id"), unhex(col("s")).as("payload"))
      .write.parquet(d)
    d
  }

  test("one collect of four partitions is one job of four tasks") {
    val e = measured(spark.range(0, 1000, 1, 4).collect())
    assert(e.jobs == 1)
    assert(e.tasks == 4)
    assert(e.cpuNs > 0 && e.runMs >= 0)
    // the compiler threads are found, and their CPU is less than the process's
    assert(Proc.jitCpuNs > 0 && Proc.cpuNs > 0)
  }

  test("input bytes of a full scan match the scanned files") {
    val files = parquetBytes(table)
    val full = measured(Timed.noop(spark.read.parquet(table)))
    assert(full.inputBytes > 0.9 * files && full.inputBytes < 1.2 * files,
      s"read ${full.inputBytes} B of $files B on disk")
    val pruned = measured(Timed.noop(spark.read.parquet(table).select("id")))
    assert(pruned.inputBytes < 0.2 * files, s"pruned scan read ${pruned.inputBytes} B")
  }

  test("output bytes match the written files") {
    val d = s"${TestSession.work}/rewritten"
    val e = measured(spark.read.parquet(table).write.mode("overwrite").parquet(d))
    val files = parquetBytes(d)
    assert(e.outputBytes >= files && e.outputBytes < 1.1 * files,
      s"wrote ${e.outputBytes} B, $files B on disk")
  }

  test("shuffle read equals shuffle write, and a forced spill is counted") {
    val e = measured(Timed.noop(spark.read.parquet(table).repartition(3)))
    assert(e.shuffleWrite > parquetBytes(table) / 2)
    assert(e.shuffleRead == e.shuffleWrite)
    // shuffle fetches are not input: input stays at the scanned table
    assert(e.inputBytes < 1.2 * parquetBytes(table), s"input ${e.inputBytes} B")
    val s = measured(Timed.noop(spark.range(0, 50000, 1, 2).toDF().orderBy(col("id").desc)))
    assert(s.spill > 0)
    assert(s.peakExecMem > 0)
  }

  test("join strategies are counted from the final plan") {
    val a = spark.range(0, 100).withColumnRenamed("id", "k")
    val b = spark.range(0, 100).withColumnRenamed("id", "k")
    val bhj = measured(a.join(broadcast(b), "k").collect())
    assert(bhj.bhj == 1 && bhj.smj == 0)
    val smj = measured(a.join(b.hint("merge"), "k").collect())
    assert(smj.smj == 1 && smj.bhj == 0)
  }

  test("a traced iteration counts only the jobs of its timed call") {
    val t = new Tracer(Some(spark -> counters))
    t.iteration = 0
    t.timed(spark.range(0, 1000, 1, 4).collect())
    spark.range(0, 1000, 1, 3).collect() // the check after the call
    t.iteration = 1
    t.timed(spark.range(0, 1000, 1, 2).collect())
    val e = t.engineTotals
    assert(e.jobs == 2 && e.tasks == 6)
    assert(e.stages.map(_.group) == Seq("it-0", "it-1"))
  }

  test("task skew is the slowest stage's max over median task time") {
    val stages = Vector(StageSpan(0, "", 0, 10, Seq(1L, 1L, 1L)),
      StageSpan(1, "", 0, 100, Seq(10L, 10L, 40L)))
    assert(EngineSnapshot(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, stages).taskSkew == 4.0)
  }

  test("self time subtracts the children's covered interval, and overlapping stages count once") {
    val spans = Seq(Span(0, "a", "validate", -1, 0, 0, 100),
      Span(1, "s1", "engine", 0, 0, 10, 50), Span(2, "s2", "engine", 0, 0, 40, 70))
    val self = Tracer.selfSeconds(spans)
    assert(math.abs(self("validate") - 0.040) < 1e-9)
    assert(math.abs(self("engine") - 0.060) < 1e-9)
  }
}
