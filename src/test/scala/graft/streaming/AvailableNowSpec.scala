package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The drain runs on a clone of the caller's session: the state-store
  * provider and the state-partition count it picks reach the query, and
  * never the caller's conf. */
class AvailableNowSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Parts = "spark.sql.shuffle.partitions"
  private val Provider = "spark.sql.streaming.stateStore.providerClass"

  /** Ten keys over 200 rows, one parquet file. */
  lazy val inputDir: String = {
    val d = Files.createTempDirectory("graft-drain-src").toString
    spark.range(200).select((col("id") % 10).cast("string").as("k"))
      .coalesce(1).write.mode("overwrite").parquet(d)
    d
  }

  private def counts(s: SparkSession): DataFrame =
    s.readStream.schema("k STRING").parquet(inputDir).groupBy("k").count()

  /** The caller's EXPLICIT settings of both keys (absent = unset). */
  private def callerConf(): Seq[Option[String]] =
    Seq(Parts, Provider).map(spark.conf.getAll.get)

  /** Runs `f` with the caller's conf keys as given, restoring them after. */
  private def withCallerConf[T](kv: (String, Option[String])*)(f: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    def put(k: String, v: Option[String]): Unit =
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    kv.foreach { case (k, v) => put(k, v) }
    try f finally saved.foreach { case (k, v) => put(k, v) }
  }

  private def stateOps(d: AvailableNow.Drained) =
    d.progress.flatMap(_.stateOperators)

  test("the caller's conf is untouched during and after the drain") {
    val hdfs = "org.apache.spark.sql.execution.streaming.state." +
      "HDFSBackedStateStoreProvider"
    for (setting <- Seq(Some("7") -> Some(hdfs), None -> None))
      withCallerConf(Parts -> setting._1, Provider -> setting._2) {
        val before = callerConf()
        var atStart: Option[Seq[Option[String]]] = None
        val d = AvailableNow.drain(spark, "conftest", "complete",
            statePartitions = 2) { c =>
          // query events reach only the listeners of the session that
          // started the query — the clone; onQueryStarted runs inside start()
          c.streams.addListener(new StreamingQueryListener {
            def onQueryStarted(e: QueryStartedEvent): Unit =
              atStart = Some(callerConf())
            def onQueryProgress(e: QueryProgressEvent): Unit = ()
            def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
          })
          counts(c)
        }
        assert(atStart === Some(before), setting)
        assert(callerConf() === before, setting)
        assert(d.rows.count() === 10L)
        assert(stateOps(d).map(_.numShufflePartitions).toSet === Set(2L))
      }
  }

  test("bounded monitors run at their state partitions, key-scale at the " +
    "caller's default") {
    withCallerConf(Parts -> Some("3")) {
      val bounded = AvailableNow.drain(spark, "bounded", "complete",
        statePartitions = graft.queries.StreamingQueries.BoundedMonitorStateParts)(counts)
      val keyScale = AvailableNow.drain(spark, "keyscale", "complete")(counts)
      assert(stateOps(bounded).map(_.numShufflePartitions).toSet === Set(4L))
      assert(stateOps(keyScale).map(_.numShufflePartitions).toSet === Set(3L))
      assert(bounded.rows.collect().toSet === keyScale.rows.collect().toSet)
    }
  }

  test("the state store is RocksDB") {
    val d = AvailableNow.drain(spark, "rocksdb", "complete")(counts)
    val metrics = stateOps(d).flatMap(_.customMetrics.keySet.asScala)
    assert(metrics.exists(_.startsWith("rocksdb")), metrics)
  }
}
