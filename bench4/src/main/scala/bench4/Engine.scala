package bench4

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** The benchmark's own Spark session: local[k], shuffle partitions = k, and
  * every scratch directory inside `workDir`. */
object Session {
  def create(cores: Int, workDir: String): SparkSession = {
    val local = new java.io.File(workDir, "spark-local")
    local.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("bench4")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir",
        new java.io.File(workDir, "warehouse").getAbsolutePath)
      .config("spark.hadoop.io.file.buffer.size", (4 * 1024 * 1024).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** A stage as the listener saw it: wall interval and the job group of the
  * iteration that submitted it. */
final case class StageSpan(stageId: Int, group: String, startMs: Long,
    endMs: Long, taskRunMs: Seq[Long])

/** Engine counters, accumulated by a `SparkListener` plus a
  * `QueryExecutionListener` (join strategies from the final adaptive plan).
  * Both are fed on Spark's listener bus, so [[snapshot]] drains the bus
  * before reading. */
final class EngineCounters extends SparkListener with QueryExecutionListener {
  private var jobs = 0L
  private var tasks = 0L
  private var runMs = 0L
  private var cpuNs = 0L
  private var gcMs = 0L
  private var peakExecMem = 0L
  private var outputBytes = 0L
  private var shuffleWrite = 0L
  private var shuffleRead = 0L
  private var spill = 0L
  private var bhj = 0L
  private var smj = 0L
  private val stageStart = scala.collection.mutable.Map.empty[Int, (String, Long)]
  private val stageTasks = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
  private val stages = ArrayBuffer.empty[StageSpan]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    stageStart(e.stageInfo.stageId) =
      (group, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val (group, start) = stageStart.remove(id).getOrElse(("", 0L))
    val end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    stages += StageSpan(id, group, start, end,
      stageTasks.remove(id).map(_.toSeq).getOrElse(Nil))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      outputBytes += m.outputMetrics.bytesWritten
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val (b, s) = EngineCounters.joins(qe.executedPlan)
    synchronized { bhj += b; smj += s }
  }

  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()

  /** The counters so far; peak execution memory is the largest since the
    * previous snapshot. */
  def snapshot(spark: SparkSession): EngineSnapshot = {
    org.apache.spark.bench4.Bus.drain(spark.sparkContext)
    synchronized {
      val s = EngineSnapshot(jobs, tasks, runMs, cpuNs, gcMs, peakExecMem, Proc.bytesRead,
        outputBytes, shuffleWrite, shuffleRead, spill, bhj, smj, stages.toVector)
      peakExecMem = 0L
      s
    }
  }
}

object EngineCounters {
  private object Plans extends AdaptiveSparkPlanHelper

  /** (broadcast joins, sort-merge joins) in a physical plan; for an adaptive
    * plan that has run, this walks the final plan, query stages and
    * subqueries included. */
  def joins(plan: SparkPlan): (Long, Long) = {
    val nodes = Plans.collectWithSubqueries(plan) { case p => p }
    (nodes.count(p => p.isInstanceOf[BroadcastHashJoinExec] ||
      p.isInstanceOf[BroadcastNestedLoopJoinExec]).toLong,
      nodes.count(_.isInstanceOf[SortMergeJoinExec]).toLong)
  }

  def register(spark: SparkSession): EngineCounters = {
    val c = new EngineCounters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}

/** `readBytes` is every byte the process read (`/proc/self/io` rchar):
  * Spark's task input metrics miss Parquet's vectored reads, which bypass
  * Hadoop's file-system statistics (a full scan of a 4 MB table reported
  * 28 KB), so input is taken as `readBytes` less the shuffle reads. */
final case class EngineSnapshot(jobs: Long, tasks: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, peakExecMem: Long, readBytes: Long,
    outputBytes: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    bhj: Long, smj: Long, stages: Vector[StageSpan]) {

  def inputBytes: Long = readBytes - shuffleRead

  /** Counter deltas since `before`; peak memory is this snapshot's (the
    * peak since `before`) and stages are those completed after `before`. */
  def minus(before: EngineSnapshot): EngineSnapshot = EngineSnapshot(
    jobs - before.jobs, tasks - before.tasks, runMs - before.runMs,
    cpuNs - before.cpuNs, gcMs - before.gcMs, peakExecMem,
    readBytes - before.readBytes, outputBytes - before.outputBytes,
    shuffleWrite - before.shuffleWrite, shuffleRead - before.shuffleRead,
    spill - before.spill, bhj - before.bhj, smj - before.smj,
    stages.drop(before.stages.size))

  /** Two disjoint windows' counters together; peak memory is the larger. */
  def plus(o: EngineSnapshot): EngineSnapshot = EngineSnapshot(
    jobs + o.jobs, tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs,
    gcMs + o.gcMs, math.max(peakExecMem, o.peakExecMem), readBytes + o.readBytes,
    outputBytes + o.outputBytes, shuffleWrite + o.shuffleWrite,
    shuffleRead + o.shuffleRead, spill + o.spill, bhj + o.bhj, smj + o.smj,
    stages ++ o.stages)

  /** Max over median task run time in the stage with the longest wall time. */
  def taskSkew: Double =
    if (stages.isEmpty) 1.0
    else {
      val slowest = stages.maxBy(s => s.endMs - s.startMs)
      val ts = slowest.taskRunMs.sorted
      if (ts.isEmpty) 1.0
      else ts.last.toDouble / math.max(1L, ts(ts.size / 2))
    }
}

/** Process-level readings: CPU time and resident memory. */
object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def read(f: java.io.File): String =
    try new String(java.nio.file.Files.readAllBytes(f.toPath)) catch {
      case _: java.io.IOException => "" // the thread ended meanwhile
    }

  /** CPU of HotSpot's JIT compiler threads (`C1/C2 CompilerThread`, a fixed
    * set under `-XX:-UseDynamicNumberOfCompilerThreads`), from /proc in
    * clock ticks of 10 ms. */
  def jitCpuNs: Long =
    new java.io.File("/proc/self/task").listFiles().iterator
      .filter(t => read(new java.io.File(t, "comm")).matches("C[12] Compiler(?s).*"))
      .map { t =>
        val stat = read(new java.io.File(t, "stat"))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        if (f.length > 12) (f(11).toLong + f(12).toLong) * 10000000L else 0L
      }.sum

  /** CPU of the driver, task and GC threads: the whole process less the JIT
    * compiler, whose warm-up work would otherwise show as iteration cost. */
  def cpuNs: Long = os.getProcessCpuTime - jitCpuNs

  /** Bytes read by the process's read system calls, from any file or socket. */
  def bytesRead: Long = {
    val src = scala.io.Source.fromFile("/proc/self/io")
    try src.getLines().find(_.startsWith("rchar:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  /** Peak resident set (VmHWM) in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
