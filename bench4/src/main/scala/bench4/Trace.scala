package bench4

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** One traced interval. Times are epoch milliseconds (the listener's stage
  * times use the same clock); `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    iteration: Int, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder for calls the benchmark makes into the library's
  * layers, and the engine counters of each iteration's timed call. Disabled
  * (no `engine`), it only runs the body. Single-threaded: spans nest by call
  * order on the driver thread. */
final class Tracer(engine: Option[(SparkSession, EngineCounters)]) {
  val enabled: Boolean = engine.isDefined
  private val windows = ArrayBuffer.empty[EngineSnapshot]
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  var iteration: Int = -1

  private def nowMs: Double = ms0 + (System.nanoTime() - nano0) / 1e6

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val start = nowMs
      spans += Span(id, name, layer, stack.headOption.getOrElse(-1), iteration, start, start)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endMs = nowMs)
      }
    }

  /** Wall and CPU seconds of one iteration's library calls. Traced, the
    * calls run under the iteration's job group and the engine counters are
    * read just before and just after them, so the ground-truth check that
    * follows is not counted. */
  def timed[T](body: => T): (T, Double, Double) = engine match {
    case None => Timed(body)
    case Some((spark, counters)) =>
      val before = counters.snapshot(spark)
      spark.sparkContext.setJobGroup(s"it-$iteration", s"iteration $iteration")
      try Timed(body)
      finally {
        spark.sparkContext.clearJobGroup()
        windows += counters.snapshot(spark).minus(before)
      }
  }

  /** Engine counters summed over every timed call. */
  def engineTotals: EngineSnapshot = windows.reduce(_ plus _)

  def recorded: Seq[Span] = spans.toSeq
}

object Tracer {
  def off: Tracer = new Tracer(None)

  /** The layers an iteration's spans can carry: the three the workloads call
    * into, and the Spark stages under them. */
  val Layers: Seq[String] = Seq("validate", "dedup", "checkpoint", "engine")

  /** Stage spans as children of the innermost driver span of the same
    * iteration whose interval contains the stage's start. */
  def withStages(driver: Seq[Span], stages: Seq[StageSpan]): Seq[Span] = {
    var next = driver.size
    val byIter = driver.groupBy(_.iteration)
    driver ++ stages.flatMap { st =>
      val iter = st.group.stripPrefix("it-").toIntOption.getOrElse(-1)
      val start = st.startMs.toDouble
      val host = byIter.getOrElse(iter, Nil)
        .filter(s => s.startMs <= start && start <= s.endMs)
        .sortBy(_.durMs).headOption
      host.map { h =>
        next += 1
        Span(next - 1, s"stage-${st.stageId}", "engine", h.id, iter, start,
          math.max(start, st.endMs.toDouble))
      }
    }
  }

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.NegativeInfinity
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total
  }

  /** Self seconds per layer: each span's duration minus the part of it
    * that its children cover. Leaf spans of one layer are counted as the
    * union of their intervals, since stages of one job can run at once. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    val (inner, leaves) = spans.partition(s => children.contains(s.id))
    val innerMs = inner.map { s =>
      val kids = children(s.id)
        .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
        .filter { case (a, b) => b > a }
      s.layer -> (s.durMs - covered(kids))
    }
    val leafMs = leaves.groupBy(_.layer).toSeq.map { case (l, ss) =>
      l -> covered(ss.map(s => (s.startMs, s.endMs)))
    }
    (innerMs ++ leafMs).groupMapReduce(_._1)(_._2 / 1000.0)(_ + _).withDefaultValue(0.0)
  }

  def writeJson(spans: Seq[Span], file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(f"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","parent":${s.parent},"iteration":${s.iteration},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
    } finally w.close()
  }
}
