package bench4

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** Benchmark entry point, started twice per run by `bench4/run.py`:
  *
  *   --workload W --seed S --trace 0|1 --work DIR --cores K --generate 1
  *   --workload W --seed S --trace 0|1 --work DIR --cores K --seconds T
  *
  * The first JVM generates the workload's input from the seed under DIR; the
  * second sets up, then calls the workload closed-loop for T seconds and
  * prints the result JSON as its last stdout line. Generation runs in a JVM
  * of its own so that none of its cost, memory peak included, is measured.
  */
object Main {
  /** Session + input registration + warmup, repeated; `setup_s` is the median. */
  val SetupReps = 3
  val Warmups = 2

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, cores: Int, generate: Boolean) {
    def input: String = s"$work/input"
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv.getOrElse("seconds", "0").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("work"), kv.getOrElse("cores", "4").toInt,
      kv.getOrElse("generate", "0") == "1")
  }

  /** The workload whose input a traced run borrows for the layers its own
    * workload does not exercise: a small clips table for curate-dedup, a
    * small corpus for the clips workloads. */
  def side(w: Workload, seed: Long): Workload = w match {
    case _: DedupWorkload => new SuiteWorkload("side-clips", seed, 10000L, 100)
    case _ => new DedupWorkload(seed, 3000)
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    val w = Workloads.make(a.workload, a.seed)
    if (a.generate) generate(a, w) else println(run(a, w))
  }

  /** Writes the workload's input, and for a traced run the side input,
    * under `a.input`. */
  def generate(a: Args, w: Workload): Unit = {
    val spark = Session.create(a.cores, a.work)
    try {
      w.generate(spark, s"${a.input}/main")
      if (a.trace) side(w, a.seed).generate(spark, s"${a.input}/side")
    } finally Session.stop(spark)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  final case class Loop(outcomes: Seq[Outcome]) {
    def walls: Seq[Double] = outcomes.map(_.wallS)
    def failed: Int = outcomes.count(!_.ok)
  }

  /** Closed loop with one caller: the next call starts only after the
    * previous one returned and was checked. A call that throws counts as
    * failed. */
  def loop(spark: SparkSession, w: Workload, seconds: Double, t: Tracer,
      first: Int): Loop = {
    val out = ArrayBuffer.empty[Outcome]
    val t0 = System.nanoTime()
    while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val it = first + out.size
      t.iteration = it
      out += (try w.iterate(spark, t) catch {
        case e: Exception =>
          System.err.println(s"[bench4] iteration $it threw: $e")
          Outcome(Double.NaN, Double.NaN, ok = false)
      })
    }
    Loop(out.toSeq)
  }

  def run(a: Args, w: Workload): String = {
    val t0 = System.nanoTime()
    val in = s"${a.input}/main"
    val untraced = Tracer.off
    // the ground truth is the benchmark's own cost, derived before set-up
    w.deriveTruth()
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) Session.stop(spark)
      Timed.seconds {
        spark = Session.create(a.cores, a.work)
        w.register(spark, in, a.work)
        (1 to Warmups).foreach { _ =>
          val o = w.iterate(spark, untraced)
          require(o.ok, s"${w.name}: warmup iteration failed its check")
        }
      }
    }
    System.err.println(f"[bench4] setups ${setups.map(s => f"$s%.2f").mkString(" ")} s, " +
      f"loop starts at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    // a traced run splits its time between the untraced and traced loops
    val main = loop(spark, w, if (a.trace) a.seconds / 2 else a.seconds, untraced, 0)
    System.err.println(f"[bench4] ${main.outcomes.size} iterations, " +
      f"walls ${main.walls.map(s => f"$s%.2f").mkString(" ")} s")
    val ok = main.outcomes.filter(_.ok)
    val wall = median(ok.map(_.wallS))
    val (result, all) =
      if (!a.trace) (Seq(
        "wall_s" -> (wall, "s"),
        "rows_per_s" -> (w.rows / wall, "1/s"),
        "cpu_s" -> (median(ok.map(_.cpuS)), "s"),
        "peak_rss_mb" -> (Proc.peakRssMb, "MB"),
        "setup_s" -> (median(setups), "s")), main)
      else traced(spark, a, w, main)
    Session.stop(spark)
    Report.json(all.failed == 0, all.outcomes.size, all.failed, result)
  }

  /** Traced phase: the same loop with spans and engine counters on, then the
    * per-layer timings. Reports per-iteration engine counters, each layer's
    * self time and the tracing overhead against the untraced loop. */
  def traced(spark: SparkSession, a: Args, w: Workload,
      untraced: Loop): (Seq[(String, (Double, String))], Loop) = {
    val counters = EngineCounters.register(spark)
    val tracer = new Tracer(Some(spark -> counters))
    val tl = loop(spark, w, a.seconds / 2, tracer, untraced.outcomes.size)
    val e = tracer.engineTotals
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(counters)
    val iters = tl.outcomes.size.toDouble
    val spans = Tracer.withStages(tracer.recorded, e.stages)
    Tracer.writeJson(spans, new java.io.File(a.work, "spans.jsonl"))
    val self = Tracer.selfSeconds(spans)
    val mb = 1024.0 * 1024.0
    val tracedWall = median(tl.walls)
    val engine = Seq(
      "engine.jobs" -> (e.jobs / iters, "count"),
      "engine.tasks" -> (e.tasks / iters, "count"),
      "engine.busy_share" -> (e.runMs / 1000.0 / (tl.walls.sum * a.cores), "ratio"),
      "engine.task_cpu_s" -> (e.cpuNs / 1e9 / iters, "s"),
      "engine.gc_s" -> (e.gcMs / 1000.0 / iters, "s"),
      "engine.peak_exec_mem_mb" -> (e.peakExecMem / mb, "MB"),
      "engine.input_mb" -> (e.inputBytes / mb / iters, "MB"),
      "engine.output_mb" -> (e.outputBytes / mb / iters, "MB"),
      "engine.shuffle_write_mb" -> (e.shuffleWrite / mb / iters, "MB"),
      "engine.shuffle_read_mb" -> (e.shuffleRead / mb / iters, "MB"),
      "engine.spill_mb" -> (e.spill / mb / iters, "MB"),
      "engine.task_skew" -> (e.taskSkew, "ratio"),
      "engine.broadcast_joins" -> (e.bhj / iters, "count"),
      "engine.sort_merge_joins" -> (e.smj / iters, "count"))
    val layers = {
      val native = w.layers(spark, a.work)
      val s = side(w, a.seed)
      s.register(spark, s"${a.input}/side", a.work)
      require(s.iterate(spark, Tracer.off).ok, s"${s.name}: side iteration failed its check")
      s.layers(spark, a.work) ++ native
    }
    val units = (k: String) =>
      if (k.endsWith("_s")) "s" else if (k.endsWith("_us")) "us"
      else if (k.endsWith("_ns")) "ns" else if (k.contains("decode_us")) "us"
      else if (k.endsWith("yield")) "ratio" else "count"
    // decode + reference synthesis + SNR per decoded row, at the unit costs
    // measured above: the audio work inside the suite's tasks, which no
    // driver-side span can see, as a share of the iteration's process CPU
    val audioS = w match {
      case s: SuiteWorkload => s.truth.byCodec.map { case (c, t) =>
        t.sampled * (layers(s"audio.decode_us.$c") + layers("audio.reference_synth_us") +
          layers("audio.snr_us")) / 1e6
      }.sum
      case _ => 0.0
    }
    val untracedWall = median(untraced.walls)
    val untracedCpu = median(untraced.outcomes.map(_.cpuS))
    val metrics = engine ++ layers.toSeq.sortBy(_._1).map { case (k, v) => k -> (v, units(k)) } ++
      Tracer.Layers.map(l => s"trace.share.$l" -> (self(l) / tl.walls.sum, "ratio")) ++ Seq(
        "trace.audio_cpu_share" -> (audioS / untracedCpu, "ratio"),
        "trace.wall_s" -> (tracedWall, "s"),
        "trace.untraced_wall_s" -> (untracedWall, "s"),
        "trace.overhead_s" -> (tracedWall - untracedWall, "s"),
        "trace.iterations" -> (iters, "count"))
    (metrics, Loop(untraced.outcomes ++ tl.outcomes))
  }
}

object Report {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, (Double, String))]): String =
    metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
}
