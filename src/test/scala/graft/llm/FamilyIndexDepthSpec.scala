package graft.llm

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Read cost of a deep, uncompacted [[FamilyIndex]] delta chain: the
  * composed remap must cost work linear in the live deltas, not double
  * with each one.
  */
class FamilyIndexDepthSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** (SQL executions, parquet scan nodes in their physical plans) that
    * `body` starts on this thread.
    */
  private def workOf(body: => Unit): (Int, Int) = {
    val group = s"family-depth-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val (executions, scans) = (new AtomicInteger, new AtomicInteger)
    val drained = new CountDownLatch(1)
    def scanNodes(p: SparkPlanInfo): Int =
      (if (p.nodeName.startsWith("Scan parquet")) 1 else 0) +
        p.children.map(scanNodes).sum
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          executions.incrementAndGet()
          scans.addAndGet(scanNodes(s.sparkPlanInfo))
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(marker) =>
          drained.countDown()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "family index depth")
      body
      // listener events arrive in order: once the marker execution is
      // seen, every execution `body` started has been counted
      sc.setJobGroup(marker, "family index depth marker")
      spark.range(1).collect()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    (executions.get, scans.get)
  }

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("12 uncompacted merging deltas: composition work is linear in depth and the assignment equals one-shot CC") {
    val path = java.nio.file.Files.createTempDirectory("graft-famdepth").toString + "/idx"
    val depth = 12
    // families {10k, 10k+1} for k = 0..12; batch d merges family 10k
    // into 10(k-1) top-down, so every delta carries a remap and the rep
    // chain 120 → 110 → … → 0 only resolves through composition. Each
    // batch also attaches a new id to the merged family and starts a
    // fresh one.
    val base = (0 to depth).map(k => (10L * k, 10L * k + 1))
    FamilyIndex.build(base.toDF("id_a", "id_b"), path)
    var pairs = base
    val work = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    (1 to depth).foreach { d =>
      val k = depth - d + 1
      val batch = Seq((10L * (k - 1) + 1, 10L * k), (1000L + d, 10L * k + 1),
        (2000L + 2 * d, 2001L + 2 * d))
      FamilyIndex.addBatch(spark, path, batch.toDF("id_a", "id_b"))
      pairs = pairs ++ batch
      assert(DeltaChain.liveDeltaVersions(path).size == d)
      val (executions, scans) = workOf(FamilyIndex.assignment(spark, path).collect())
      work += ((executions, scans))
      // composition adds at most one job at any depth (the collect of
      // the remaps, then the read itself)...
      assert(executions <= 2, s"depth $d ran $executions executions")
      // ...and its scans grow linearly: never more than depth × the
      // depth-1 read's (a pairwise plan fold doubles per delta)
      assert(scans <= work.head._2 * d, s"depth $d scanned $scans, work so far $work")
    }
    val oneShot = asMap(graft.operators.ConnectedComponents.run(
      pairs.toDF("id_a", "id_b"), "id_a", "id_b"))
    assert(asMap(FamilyIndex.assignment(spark, path)) == oneShot)
    assert(oneShot(10L * depth + 1) == 0L && oneShot(1000L + depth) == 0L)
  }
}
