package bench4

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
import org.scalatest.funsuite.AnyFunSuite

/** The timed suite plan must keep the work a user pays for: the SNR decode
  * UDF, the catalog join and the t-digest aggregate. A `count()` over the
  * same frame lets Catalyst prune all three, which is why the benchmark
  * collects instead. */
class MaterializationGuardSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val n = 10000L
  private lazy val input: String = {
    val d = s"${TestSession.work}/clips-guard"
    ClipsInput.write(spark, d, ClipsInput.offset(3), n, withEdit = true)
    d
  }

  private def suite(name: String, sampleEvery: Int): SuiteWorkload = {
    val w = new SuiteWorkload(name, 3, n, sampleEvery)
    w.register(spark, input, TestSession.work)
    w
  }

  private def exprs(p: LogicalPlan): Seq[Expression] =
    p.collect { case node => node.expressions.flatMap(_.collect { case e => e }) }.flatten

  private def hasUdf(p: LogicalPlan) = exprs(p).exists(_.isInstanceOf[ScalaUDF])
  private def hasJoin(p: LogicalPlan) = p.collect { case j: Join => j }.nonEmpty
  private def hasDigest(p: LogicalPlan) = p.collect { case a: Aggregate => a }
    .exists(a => exprs(a).exists(_.getClass.getSimpleName == "ScalaAggregator"))

  private def plan(df: DataFrame) = df.queryExecution.optimizedPlan

  for ((name, every) <- Seq("suite-scan" -> 100, "suite-decode" -> 1)) {
    test(s"$name: the collected suite plan keeps the SNR UDF, catalog join and digest") {
      val p = plan(suite(name, every).suiteFrame)
      assert(hasUdf(p), p.treeString)
      assert(hasJoin(p), p.treeString)
      assert(hasDigest(p), p.treeString)
    }
  }

  test("count() over the suite frame prunes the UDF, the join and the digest") {
    val p = plan(suite("suite-scan", 100).suiteFrame.groupBy().count())
    assert(!hasUdf(p) && !hasJoin(p) && !hasDigest(p), p.treeString)
  }

  test("suite iterations match the index-rule ground truth, and a wrong truth fails") {
    for ((name, every) <- Seq("suite-scan" -> 100, "suite-decode" -> 1)) {
      val w = suite(name, every)
      assert(w.iterate(spark, Tracer.off).ok, name)
      val shifted = ClipsTruth.derive(ClipsInput.offset(4), n, every)
      assert(!Checks.suite(w.suiteFrame.collect(), w.duplicatesFrame.collect(), shifted))
    }
  }

  test("resume iterations resume exactly the edited partition, from the same manifest each time") {
    val w = new ResumeWorkload(3, n)
    w.register(spark, input, s"${TestSession.work}/resume")
    assert(w.iterate(spark, Tracer.off).ok)
    assert(w.iterate(spark, Tracer.off).ok)
  }

  test("dedup iterations keep one member per family under the cap and drop no outsider") {
    val dir = s"${TestSession.work}/docs"
    val w = new DedupWorkload(3, 4000)
    w.generate(spark, dir)
    w.register(spark, dir, TestSession.work)
    assert(w.iterate(spark, Tracer.off).ok)
    val c = w.corpus
    assert(c.hot.size > graft.dedup.Dedup.DefaultMaxBucketSize)
    // the bucket cap drops the hot family's buckets: its members survive
    assert(Checks.missedDups(w.lastNearRemoved, c) > 0)
    assert(!Checks.dedup(Array.empty, w.lastNearRemoved, c))
  }

  test("the traced runs' 3k-doc side corpus holds families under the cap") {
    val c = Main.side(new SuiteWorkload("suite-scan", 3, n, 100), 3)
      .asInstanceOf[DedupWorkload].corpus
    assert(c.families.tail.size > 50)
    assert(c.families.tail.forall(_.size <= Corpus.MaxFamily))
  }
}
