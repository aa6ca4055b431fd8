package graft

import org.apache.spark.sql.catalyst.expressions.{EqualTo, In, InSet, Literal}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the queries must produce the plans we'd want
  * at 100 TB — column pruning and filter pushdown reaching the parquet
  * scan, broadcast joins for dimension tables, whole-stage codegen on the
  * hot paths. A query that "works" with the wrong plan is not done.
  */
class PlanSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("column pruning: q_agg_pricing scans only the 5 needed lineitem columns") {
    val p = plan("q_agg_pricing")
    assert(p.contains("ReadSchema"), p)
    val read = p.split("ReadSchema: ")(1).split("\n")(0)
    assert(read.contains("l_returnflag") && read.contains("l_quantity"))
    assert(!read.contains("l_shipdate") && !read.contains("l_partkey"),
      s"scan reads unneeded columns: $read")
  }

  test("filter pushdown: q_anti_join pushes the price filter to the orders scan") {
    val p = plan("q_anti_join")
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,400000.0)]") ||
           p.contains("GreaterThan(o_totalprice"), s"no pushed filter:\n$p")
  }

  test("broadcast joins where a side is small: q_join_agg and q_cosine_topk") {
    assert(plan("q_join_agg").contains("BroadcastHashJoin"), "part dim not broadcast")
    assert(plan("q_cosine_topk").contains("Broadcast"), "query side not broadcast")
  }

  test("semi/anti joins planned as joins, not subquery re-execution") {
    assert(plan("q_anti_join").contains("LeftAnti"), plan("q_anti_join"))
    assert(plan("q_semi_join").contains("LeftSemi"), plan("q_semi_join"))
  }

  test("whole-stage codegen on the scan+filter+project hot path of q_doc_stats") {
    // the query now opens with a Par.spread exchange, so the plan is
    // AQE-wrapped and codegen annotations only print on the FINAL plan —
    // execute first, then assert the codegen span survived the repartition
    val df = SparkEntry.queries("q_doc_stats")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" is the WholeStageCodegen stage marker; the stats Project must
    // sit inside one
    assert(p.contains("*(2) Project") || p.contains("*(1) Project"),
      s"stats projection not codegen'd:\n$p")
  }

  test("partial aggregation (map-side combine) before the shuffle in q_agg_pricing") {
    val p = plan("q_agg_pricing")
    // HashAggregate appears twice: partial then final across the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Exchange hashpartitioning"), p)
  }

  test("blocking joins are equi-joins, never nested-loop: jaccard + simhash + ann") {
    // the quadratic trap for pair-mining ops is a BroadcastNestedLoopJoin /
    // CartesianProduct; all three must plan hash-partitioned equi-joins
    Seq("q_jaccard_pairs", "q_simhash_pairs", "q_ann_lsh",
        "q_minhash_jaccard", "q_winnow_pairs", "q_winnow_jaccard").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      // the self-join on the blocking key must be an equi-join
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"), s"$q has no equi-join:\n$p")
    }
  }

  test("PQ/IVFPQ candidates: a partial WindowGroupLimit feeds their shuffle; no cell literals") {
    Seq("q_pq_topk", "q_ivfpq_topk").foreach { q =>
      val all = PlanNodes.nodes(SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan)
      def below(p: SparkPlan): SparkPlan = p match {
        case w: WholeStageCodegenExec => below(w.child)
        case i: InputAdapter => below(i.child)
        case other => other
      }
      // the per-partition top-rerank cut runs before the candidates shuffle,
      // so the shuffle carries O(partitions · queries · rerank) rows
      assert(all.exists {
        case e: ShuffleExchangeExec => below(e.child) match {
          case w: WindowGroupLimitExec => w.mode == Partial
          case _ => false
        }
        case _ => false
      }, s"$q: no partial WindowGroupLimit below an Exchange:\n${all.head.treeString}")
      // probed cells come from the cell join, not a driver-built literal
      // list; the optimizer renames the cell column (`_1`) and turns a
      // one-cell list into `= literal`, so no such filter may appear at all
      val literalLists = all.flatMap(_.expressions).flatMap(_.collect {
        case i: In => i
        case i: InSet => i
        case e @ EqualTo(_, _: Literal) => e
      })
      assert(literalLists.isEmpty, s"$q filters by a literal list: $literalLists")
    }
  }

  test("decontamination joins the broadcast benchmark shingle set, no cartesian") {
    val p = plan("q_decontam")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // the benchmark side is explicitly broadcast (eval suites are tiny
    // next to a training corpus) — the doc side must stream, not shuffle
    // against itself
    assert(p.contains("BroadcastHashJoin"), s"benchmark side not broadcast:\n$p")
  }

  test("LM scoring is shuffle-free: broadcast model, one mapPartitions pass") {
    // train once (training legitimately shuffles for its two count
    // aggregations), then assert the SCORING plan — the per-document hot
    // path that touches all 100 TB — has no exchange at all
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val model = graft.ops.NgramLm.train(docs, "text",
      minWordCount = 3L, maxVocab = 1024, minBigramCount = 2L,
      maxBigrams = 4096)
    val p = graft.ops.NgramLm.scoreDocs(docs, "doc_id", "text", model)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  test("q_ann_lsh task binaries stay small: no giant per-dim expression trees") {
    // the round-1 formulation compiled ~2k expression nodes per row and the
    // plan string itself was megabytes; the kernel form stays compact
    val p = plan("q_ann_lsh")
    assert(p.length < 100000, s"ann plan string is ${p.length} chars — expression blow-up?")
    assert(!p.contains("element_at"), "per-dim element_at tree leaked back in")
  }

  test("dataset export gate is a broadcast semi-join, split needs no shuffle") {
    val p = graft.ops.DatasetExport.prepare(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .withColumn("doc_url", concat(lit("https://"), col("source"),
          lit(".example.com/d"), col("doc_id"))),
      "doc_url", langFilter = Some("en"), minDocs = 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"gate not a broadcast semi-join:\n$p")
  }
}
