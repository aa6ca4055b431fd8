package graft

import graft.core.{ScopeFilter, UrlCanonicalizer}
import graft.crawl._
import org.apache.spark.rdd.RDD
import graft.PlanNodes.{kids, nodes}
import org.apache.spark.sql.execution.{BinaryExecNode, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.ConcurrentLinkedQueue

/** The probe-side exact seen check ([[SeenSet.probe]]): on both of its
  * branches it answers present and absent exactly like the plain joins,
  * and no crawl wave or forget ever broadcasts the seen table.
  */
class SeenProbeSpec extends AnyFunSuite with CrawlFixture {

  private def isSeenScan(p: SparkPlan): Boolean = p match {
    case s: FileSourceScanExec => s.relation.location.rootPaths.exists { path =>
      path.getParent != null && path.getParent.getName.matches("seen(_g\\d+)?")
    }
    case _ => false
  }

  /** Whether `p` hands seen's own rows upward: a seen scan reached without
    * passing a two-input operator. A join or cogroup above the scan narrows
    * it to what matches the other side (the probe hits, or a filter bucket
    * per candidate bucket), which is no longer the seen table.
    */
  private def carriesSeenRows(p: SparkPlan): Boolean = p match {
    case _: BinaryExecNode => false
    case s if isSeenScan(s) => true
    case other => kids(other).exists(carriesSeenRows)
  }

  /** The RDDs `r` is computed from, itself included. */
  private def lineage(r: RDD[_]): Seq[RDD[_]] = r +: r.dependencies.flatMap(d => lineage(d.rdd))

  test("probe-side seen check returns exactly the plain join's rows on both" +
      " branches (property, 200 cases)") {
    import spark.implicits._
    // small hash domain (negative values included) so candidates and seen
    // overlap often; duplicates on both sides and empty sides are common
    val hash = Gen.choose(-12L, 12L)
    val genSeen = Gen.listOf(hash)
    val genCands = Gen.listOf(Gen.zip(hash, Gen.choose(0, 3)))
    // the executed plans, through a listener: the broadcast branch's hits
    // query is the only Dataset action in a case
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    def ranBroadcastJoin(waitFor: Boolean): Boolean = {
      var waited = 0
      def found = plans.toArray(Array.empty[SparkPlan]).toSeq.flatMap(nodes)
        .exists(_.isInstanceOf[BroadcastHashJoinExec])
      while (waitFor && !found && waited < 250) { Thread.sleep(20); waited += 1 }
      found
    }

    val prop = Prop.forAllNoShrink(genSeen, genCands) { (seenList, candList) =>
      val seen = seenList.toDF("url_hash")
      val n = candList.size.toLong
      val seenSet = seenList.toSet
      val (modelSemi, modelAnti) = candList.sorted.partition(c => seenSet(c._1))
      val nonEmpty = seenList.nonEmpty && candList.nonEmpty
      // keys × 8 B exactly at the threshold: broadcast; one byte under it:
      // the sort-merge fallback
      Seq(n * 8 -> true, n * 8 - 1 -> false).forall { case (threshold, bc) =>
        withConf("spark.sql.autoBroadcastJoinThreshold", threshold.toString) {
          plans.clear()
          val answer = SeenSet.probe(spark, spark.sparkContext.parallelize(candList, 2),
            seen, "url_hash", n)(_._1, _ => true)
          val (present, absent) = answer.collect().toSeq.partition(_._2)
          // the broadcast branch streams seen past the broadcast keys and
          // keeps the rows' layout (no shuffle); the fallback's two joins
          // are sort-merge joins (each zips its two sorted inputs) and no
          // broadcast hash join runs
          val zips = lineage(answer).count(_.getClass.getSimpleName == "ZippedPartitionsRDD2")
          val shapeOk = !nonEmpty || (
            if (bc) ranBroadcastJoin(waitFor = true) && zips == 0
            else zips == 2 && !ranBroadcastJoin(waitFor = false))
          absent.map(_._1).sorted == modelAnti && present.map(_._1).sorted == modelSemi &&
            shapeOk
        }
      }
    }
    spark.listenerManager.register(listener)
    val result =
      try Check.check(
        Check.Parameters.default.withMinSuccessfulTests(200).withWorkers(1), prop)
      finally spark.listenerManager.unregister(listener)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("a Bloom-engaged wave and a retraction never broadcast the seen table") {
    import org.apache.spark.sql.functions.col
    val site = SyntheticWeb.generate(
      SyntheticWeb.Spec(hosts = 2, pagesPerHost = 8, hotHostFactor = 1, fanout = 3))
    val config = CrawlConfig(rootUrl = site.rootUrl, scope = ScopeFilter.Domain,
      waveBudgetMs = 3000L, maxWaves = 40, bloomMinSeenRows = 50000L)
    val wh = freshWarehouse("graft-probe-plans")
    val io = new TableIO(wh, spark)
    // 10^5 junk hashes, far from any real url hash: seen's parquet is well
    // under the broadcast threshold, the shape that used to broadcast it
    CrawlEngine.seedWarehouse(spark, io, config,
      extraSeen = spark.range(100000L).select((col("id") + (1L << 40)).as("url_hash")),
      nowMs = 1L)

    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        plans.add(qe.executedPlan)
    }
    spark.listenerManager.register(listener)
    try {
      val engine = engineOn(io, site, config)
      assert(engine.run(1) == 1)
      assert(engine.lastWaveBloomEngaged, "the wave must take the Bloom path")
      val root = UrlCanonicalizer.canonicalize(site.rootUrl).get
      val report = SeenMaintenance.forgetUrls(spark, wh, Seq(root), reseed = false)
      assert(report.retractedSeen == 1)
      // listener calls arrive on the listener bus: wait until they settle
      var last = -1
      var waited = 0
      while (plans.size != last && waited < 60) {
        last = plans.size
        Thread.sleep(500)
        waited += 1
      }
    } finally spark.listenerManager.unregister(listener)

    val all = plans.toArray(Array.empty[SparkPlan]).toSeq.flatMap(nodes)
    assert(all.exists(isSeenScan), "the listener must have seen seen-table scans")
    val shipped = all.collect {
      case b: BroadcastExchangeExec if carriesSeenRows(b.child) => b
    }
    assert(shipped.isEmpty,
      s"broadcast of the seen table:\n${shipped.map(_.treeString).mkString("\n")}")
    // and the check did run probe-side: a broadcast hash join streaming a
    // seen scan against the broadcast keys
    assert(all.exists {
      case j: BroadcastHashJoinExec => carriesSeenRows(j.left)
      case _ => false
    }, "no broadcast hash join streamed the seen table")
  }
}
