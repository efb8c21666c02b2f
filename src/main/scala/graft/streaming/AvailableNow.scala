package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.SessionBridge
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** The one Trigger.AvailableNow drain: runs a streaming query over
  * everything its sources hold into a memory sink and returns the sink's
  * rows detached from the sink — how the streaming monitors produce a
  * finite, oracle-comparable result.
  *
  * The query is built and run on a CLONE of the caller's session (same
  * SparkContext, cache and catalog; a copy of the runtime conf, temp views
  * and functions), so the two settings the drain chooses never touch the
  * caller's conf:
  *  - the state store is RocksDB — measured faster than the HDFS-backed
  *    provider for these monitors (q35 at sf0.1, 200k keys in one batch:
  *    2.5-3.0 s vs 3.8-4.4 s min-of-3 across two draws each; q37
  *    equal-or-better — numbers in BASELINE.md), and the standard cluster
  *    recommendation for large state (millions of live keys don't live on
  *    the executor heap);
  *  - `statePartitions > 0` sets the shuffle partitions: a stateful
  *    operator's state-store partition count is fixed to the shuffle
  *    partitions of its first batch, and a monitor whose group cardinality
  *    is BOUNDED small (window × codec, ~tens of live groups) pays one
  *    state-store commit per partition per trigger for zero extra
  *    parallelism — measured r9: q81's 8-trigger replay drops ~8 s → ~3 s
  *    at 4 state partitions (OPTIMIZATION_r09.md). Scale-safe because it
  *    is sized to the operator's STATE BOUND, not to the host: the map-side
  *    work (scans, decode UDFs, partial aggregation) keeps the input's own
  *    parallelism; only the ≤O(groups) merged partials cross the exchange.
  *    Monitors with row-scale key spaces (q35/q87 key on
  *    clip_id/fingerprint) keep the session default.
  */
object AvailableNow {

  /** Ceiling on rows the sink detach will copy to the driver — far above
    * any monitor output (q35-q37 emit 4-20 rows at sf0.01), far below
    * driver-OOM territory. */
  val MaxSinkRows = 1000000L

  /** The detached sink rows (a local relation on the caller's session) and
    * the query's micro-batch progress. */
  final case class Drained(rows: DataFrame,
      progress: Seq[StreamingQueryProgress])

  /** Drains the query `build` makes on the clone it is given. `name` tags
    * the sink and checkpoint; `mode` is the output mode; the result detach
    * fails past `maxRows`. */
  def drain(spark: SparkSession, name: String, mode: String,
      maxRows: Long = MaxSinkRows, statePartitions: Int = 0)(
      build: SparkSession => DataFrame): Drained = {
    val s = SessionBridge.cloneSession(spark)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    if (statePartitions > 0)
      s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    // sink name and checkpoint are per-invocation (a bench session may run
    // the query after verify)
    val sink = s"${name}_${System.nanoTime()}"
    withScratchDir("ckpt") { ckpt =>
      val q = build(s).writeStream.outputMode(mode)
        .format("memory").queryName(sink)
        .option("checkpointLocation", s"$ckpt/$name")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the memory sink already holds the rows on the driver; the detach
      // below copies them once more, which is fine for SUMMARY outputs (dup
      // keys, orphan ids, window rates) — fail loudly if a row-scale result
      // is routed here instead of silently becoming a driver-OOM path.
      // Detaching releases the sink table (dropped below, on the guard path
      // too) so repeated runs do not accumulate driver-held sinks.
      try {
        val sinkDf = s.table(sink)
        val sinkRows = sinkDf.count()
        require(sinkRows <= maxRows,
          s"AvailableNow.drain($name): sink holds $sinkRows rows > " +
            s"$maxRows — streaming monitor outputs must be " +
            "summary-sized; write row-scale results to a file sink instead")
        Drained(spark.createDataFrame(
          java.util.Arrays.asList(sinkDf.collect(): _*), sinkDf.schema),
          q.recentProgress.toSeq)
      } finally s.catalog.dropTempView(sink)
    }
  }

  /** Runs `f` on a fresh per-invocation dir and deletes the dir after.
    * The dir is on tmpfs when the host has one: state-store checkpoints
    * snapshot one entry per key (q35 keys on clip_id — 200k files-worth of
    * sync writes at sf0.1) and replay inputs are many small files —
    * syscall-heavy disk I/O that a virtualized host throttles (see
    * BASELINE.md); a real cluster points this at its fast scratch/DFS. */
  private[graft] def withScratchDir[T](name: String)(f: String => T): T = {
    val shm = new java.io.File("/dev/shm")
    val dir =
      if (shm.isDirectory) {
        val root = new java.io.File(shm, "graft-scratch")
        root.mkdirs()
        java.nio.file.Files.createTempDirectory(root.toPath, name)
      } else java.nio.file.Files.createTempDirectory(s"graft-$name")
    try f(dir.toString)
    finally {
      try org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      catch { case _: Exception => () }
    }
  }
}
