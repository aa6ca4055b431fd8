package perfbench

import graft.crawl._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.util.Locale
import scala.collection.mutable.ArrayBuffer

/** Smoke-size self-tests of the benchmark's own code: gates pass on the
  * program as it is, a corrupted result fails its gate, spans nest, and
  * output stays parseable under a comma-decimal default locale. Prints one
  * `selftest <name> PASS|FAIL` line per check and a result JSON last.
  */
object SelfTest {

  def run(spark: SparkSession, a: Main.Args): Int = {
    Locale.setDefault(Locale.GERMANY)
    val results = ArrayBuffer.empty[(String, Boolean)]
    def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
      results += name -> ok
      println(s"selftest $name ${if (ok) "PASS" else "FAIL " + detail}")
    }
    val n = Runtime.getRuntime.availableProcessors
    val ctx = new Ctx(spark, n, a.work, 7L)

    check("locale.active", String.format("%.1f", Double.box(1.5)) == "1,5",
      "default locale did not switch to comma decimals")
    check("locale.fmt", Fmt.f(1234.5678) == "1234.568" && Fmt.json(0.25) == "0.25" &&
      Fmt.json(3.0) == "3", s"${Fmt.f(1234.5678)} ${Fmt.json(0.25)}")

    // every gate passes on the program as it is, and spans nest
    val web = Inputs.churn(7L, Inputs.Smoke)
    val oracle = SequentialOracle.crawl(web.plain, web.config)
    val batch = math.max(2, oracle.documents.size / 4)
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val u = try Workloads.churnUnit(ctx, web, SyntheticFetcher.broadcast(spark, web.site),
      oracle, Workloads.seedChurn(ctx, web), batch)
    finally { rec.drain(spark.sparkContext); spark.sparkContext.removeSparkListener(rec) }
    u.gates.foreach(g => println(s"gate ${g.name} ${if (g.ok) "PASS" else "FAIL " + g.detail}"))
    check("churn.gates_pass", u.failed == 0 && u.gates.size >= 10,
      s"${u.failed} of ${u.attempted} failed")
    val straddling = u.spans.flatMap(rec.straddling)
    check("trace.jobs_inside_spans", straddling.isEmpty && u.spans.exists(s => rec.stats(s).jobs.nonEmpty),
      s"${straddling.size} jobs cross a span boundary")
    // the union of a span's job intervals (millisecond clock) fits in the
    // span's nanosecond-timed wall, within one clock tick at each end
    val overfull = u.spans.map(rec.stats).filter(st => st.busySec > st.span.seconds + 0.002)
    check("trace.idle_nonnegative", overfull.isEmpty,
      overfull.map(st => s"${st.span.name} busy ${st.busySec} wall ${st.span.seconds}").mkString(", "))
    // every job of a crawl phase belongs to exactly one of its slices
    val phaseJobs = u.phases.flatMap(p => rec.stats(p).jobs.map(_.id))
    val sliceJobs = u.spans.filter(s => s.kind == "wave" || s.kind == "empty_slice")
      .flatMap(s => rec.stats(s).jobs.map(_.id))
    check("trace.crawl_jobs_in_one_slice", phaseJobs.nonEmpty &&
      sliceJobs.sorted == phaseJobs.distinct.sorted && phaseJobs.size == phaseJobs.distinct.size,
      s"${phaseJobs.distinct.size} crawl jobs, ${sliceJobs.size} attributed to slices " +
      s"(${sliceJobs.distinct.size} distinct)")

    // one dropped page fails the oracle gates and raises the failed ratio
    val victim = oracle.documents.last.doc_id
    val dropped = web.site.copy(pages = web.site.pages - victim)
    val d = Workloads.churnUnit(ctx, web, SyntheticFetcher.broadcast(spark, dropped),
      oracle, Workloads.seedChurn(ctx, web), batch)
    check("corrupt.dropped_page", d.gates.exists(g => !g.ok && g.name == "resume.doc_ids") &&
      d.failed > 0, s"failed ${d.failed}")

    // every query gate passes on the smoke tables; one altered row fails
    val dir = s"${a.data}/sf0.001"
    val expected = Main.readExpected(a.data, "sf0.001")
    val ops = Workloads.opsGates(ctx, dir, expected)
    check("ops.gates_pass", ops.failed == 0 && ops.gates.size == Workloads.Queries.size,
      ops.gates.filter(!_.ok).map(_.name).mkString(","))
    val timedPass = Workloads.opsUnit(ctx, dir)
    check("ops.timed_pass", timedPass.failed == 0 &&
      timedPass.spans.map(_.name) == Workloads.Queries, s"${timedPass.failed} queries failed")
    val altered = Workloads.opsGates(ctx, dir, expected, Seq("q_agg_pricing", "q_doc_stats"),
      (q, df) => if (q != "q_agg_pricing") df else
        df.withColumn("sum_qty", when(col("l_returnflag") === "R", col("sum_qty") + 1)
          .otherwise(col("sum_qty"))))
    check("corrupt.altered_row", altered.gates.map(g => g.name -> g.ok).toMap ==
      Map("ops.q_agg_pricing" -> false, "ops.q_doc_stats" -> true) && altered.failed == 1,
      altered.gates.mkString(","))

    // metric lines and the result JSON, printed under the German locale
    val shown = Seq("share" -> 0.125, "seconds" -> 1234.5678)
    shown.foreach { case (k, v) => println(s"metric $k ${Fmt.f(v, 6)} s") }
    val failed = results.count(!_._2)
    println(Fmt.obj(Seq("correct" -> (failed == 0).toString,
      "attempted" -> results.size.toString, "failed" -> failed.toString,
      "metrics" -> Fmt.obj(shown.map { case (k, v) =>
        k -> Fmt.obj(Seq("value" -> Fmt.json(v), "unit" -> Fmt.quote("s"))) }))))
    if (failed == 0) 0 else 1
  }
}
