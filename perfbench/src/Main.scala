package perfbench

import graft.crawl._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** Outside-in benchmark of the crawl engine and the operator library.
  *
  * {{{
  * Main --workload <seen_churn|ops_corpus>
  *      --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir>
  * Main --selftest --work <dir> --data <dir>
  * Main --record <sf> --out <dir> --work <dir> --data <dir>   (expected digests)
  * Main --describe --work <dir> --data <dir>      (metric catalogue as JSON)
  * Main --train --work <dir> --data <dir>         (class-data archive training)
  * }}}
  *
  * Runs `local[N]` with N = available processors, shuffle partitions and
  * engine partitions N, simulated costs 0. One client runs operations back
  * to back. With `--trace 0` units of the workload repeat until `--seconds`
  * is spent and the end-to-end metrics are medians over units; with
  * `--trace 1` one unit runs under the benchmark's SparkListener and the
  * per-layer metrics are reported.
  */
object Main {

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 10,
      trace: Boolean = false, mode: String = "run", work: String = "", data: String = "",
      sf: String = "sf0.01", out: String = "")

  val Names = Seq("seen_churn", "ops_corpus")

  def parse(argv: Array[String]): Args = {
    var a = Args()
    val it = argv.iterator
    def next(flag: String): String =
      if (it.hasNext) it.next() else throw new IllegalArgumentException(s"$flag needs a value")
    while (it.hasNext) it.next() match {
      case "--workload" => a = a.copy(workload = next("--workload"))
      case "--seed" => a = a.copy(seed = next("--seed").toLong)
      case "--seconds" => a = a.copy(seconds = next("--seconds").toInt)
      case "--trace" => a = a.copy(trace = next("--trace") == "1")
      case "--work" => a = a.copy(work = next("--work"))
      case "--data" => a = a.copy(data = next("--data"))
      case "--selftest" => a = a.copy(mode = "selftest")
      case "--record" => a = a.copy(mode = "record", sf = next("--record"))
      case "--describe" => a = a.copy(mode = "describe")
      case "--train" => a = a.copy(mode = "train")
      case "--out" => a = a.copy(out = next("--out"))
      case other => throw new IllegalArgumentException(s"unknown argument $other")
    }
    require(a.work.nonEmpty && a.data.nonEmpty, "--work and --data are required")
    require(a.mode != "run" || Names.contains(a.workload),
      s"--workload must be one of ${Names.mkString(", ")}")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.mode == "describe") {
      println(Fmt.obj(Seq("end_to_end" -> Metrics.describe(Metrics.EndToEnd),
        "per_layer" -> Metrics.describe(Metrics.PerLayer))).replace("\n", ""))
      sys.exit(0)
    }
    val spark = session(a.work)
    val code =
      try a.mode match {
        case "selftest" => SelfTest.run(spark, a)
        case "record" => record(spark, a)
        case "train" => train(spark, a)
        case _ => new Run(spark, a).apply()
      } finally spark.stop()
    sys.exit(code)
  }

  /** Seconds since the JVM started. */
  def jvmSec: Double = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  var sessionSec = 0.0

  def session(work: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sessionSec = (System.nanoTime() - t0) / 1e9
    spark
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def expectedPath(data: String, sf: String): String = s"$data/expected-$sf.txt"

  def readExpected(data: String, sf: String): Map[String, String] = {
    val f = new java.io.File(expectedPath(data, sf))
    if (!f.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val (q, rest) = l.span(_ != ' '); q -> rest.trim }.toMap
      finally src.close()
    }
  }

  /** One wave of the tiny web and every query on the smoke tables, so that
    * the JVM's class-data archive holds the classes both workloads load.
    */
  def train(spark: SparkSession, a: Args): Int = {
    val n = Runtime.getRuntime.availableProcessors
    val ctx = new Ctx(spark, n, a.work, a.seed)
    val tiny = Inputs.tiny(a.seed)
    new CrawlEngine(spark, new TableIO(ctx.freshDir("train"), spark), tiny.config,
      SyntheticFetcher.broadcast(spark, tiny.site), numPartitions = n).run(1)
    val u = Workloads.opsGates(ctx, s"${a.data}/sf0.001", readExpected(a.data, "sf0.001"))
    if (u.failed == 0) 0 else 1
  }

  /** Re-record the expected digests of the query set on `<data>/<sf>`:
    * two passes must agree. The first pass writes each result as parquet,
    * with the oracle SQL beside it, under `--out`, so that
    * `tools/oracle_compare.py <data>/<sf> <out>` checks the very rows the
    * digests were taken from.
    */
  def record(spark: SparkSession, a: Args): Int = {
    val ctx = new Ctx(spark, Runtime.getRuntime.availableProcessors, a.work, a.seed)
    val dir = s"${a.data}/${a.sf}"
    val one = Workloads.opsGates(ctx, dir, Map.empty, saveTo = Some(a.out)).digests
    val two = Workloads.opsGates(ctx, dir, Map.empty).digests
    val sql = new java.io.PrintWriter(s"${a.out}/oracle_sql.json", "UTF-8")
    try sql.println(Fmt.obj(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .filter { case (q, _) => Workloads.Queries.contains(q) }
      .map { case (q, text) => q -> Fmt.quote(text.replace("__VERIFY_OUT__", a.out)) }))
    finally sql.close()
    val out = new java.io.PrintWriter(expectedPath(a.data, a.sf), "UTF-8")
    try {
      out.println(s"# query rows xor sum — digests of the query set on ${a.sf}, local[${ctx.n}]")
      Workloads.Queries.foreach { q =>
        (one.get(q), two.get(q)) match {
          case (Some(x), Some(y)) if x == y => out.println(s"$q ${x.render}")
          case (x, y) => System.err.println(s"[perfbench] $q not stable: $x vs $y")
        }
      }
    } finally out.close()
    if (one.size == Workloads.Queries.size && one == two) 0 else 1
  }
}

/** One benchmark run of one workload. */
final class Run(spark: SparkSession, a: Main.Args) {
  private val n = Runtime.getRuntime.availableProcessors
  private val ctx = new Ctx(spark, n, a.work, a.seed)
  private val setup = LinkedHashMap.empty[String, Double]
  private def out(s: String): Unit = println(s)
  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** `f` repeated `reps` times: its last value and the median time. */
  private def median[T](reps: Int)(f: => T): (T, Double) = {
    var last: Option[T] = None
    val ts = (0 until reps).map { _ => val t0 = System.nanoTime(); last = Some(f); since(t0) }
    (last.get, Stats.median(ts))
  }

  def apply(): Int = {
    setup("jvm_s") = Main.jvmSec - Main.sessionSec
    setup("session_s") = Main.sessionSec
    out(s"perfbench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} local[$n]")
    if (a.workload == "ops_corpus") opsCorpus() else seenChurn()
  }

  // ---- seen_churn -------------------------------------------------------------------

  private def seenChurn(): Int = {
    val (web, genSec) = median(3)(Inputs.churn(a.seed, Inputs.Full))
    setup("generation_s") = genSec
    val (oracle, oracleSec) = median(3)(SequentialOracle.crawl(web.plain, web.config))
    setup("oracle_s") = oracleSec
    Inputs.properties(web, oracle).foreach { case (k, v) => out(s"input $k ${Fmt.f(v, 4)}") }
    val fetcher = SyntheticFetcher.broadcast(spark, web.site)
    // untimed warm-up: one wave of a tiny-web crawl
    val t0 = System.nanoTime()
    val tiny = Inputs.tiny(a.seed)
    new CrawlEngine(spark, new TableIO(ctx.freshDir("warmup"), spark), tiny.config,
      SyntheticFetcher.broadcast(spark, tiny.site), numPartitions = n).run(1)
    setup("warmup_s") = since(t0)
    val t1 = System.nanoTime()
    var seeded = Workloads.seedChurn(ctx, web)
    setup("seeding_s") = since(t1)
    val batch = math.max(1, oracle.documents.size / 8)
    val bodyBytes = oracle.crawlOrder.flatMap(e => web.site.pages.get(e.url))
      .map(_.html.length.toLong).sum
    measure(() => {
      val io = if (seeded != null) seeded else Workloads.seedChurn(ctx, web)
      seeded = null
      Workloads.churnUnit(ctx, web, fetcher, oracle, io, batch)
    }, (rec, u) => {
      val c = Layers.crawl(rec, u, bodyBytes)
      c ++ Layers.extract(web, oracle, c.toMap.getOrElse("crawl.task_s", 0.0)) ++
        Layers.core(spark, web, oracle, n, u.warehouse, a.seed) ++ Layers.tableio(u)
    })
  }

  // ---- ops_corpus -------------------------------------------------------------------

  private def opsCorpus(): Int = {
    out("input seed ignored: the query set runs on the fixed sf0.01 tables")
    val dir = s"${a.data}/sf0.01"
    val (expected, readSec) = median(3)(Main.readExpected(a.data, "sf0.01"))
    setup("generation_s") = readSec
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    out(s"input tables ${files.length}")
    out(s"input bytes ${files.map(_.length).sum}")
    out(s"input queries ${Workloads.Queries.size}")
    out(s"input recorded_digests ${expected.size}")
    // untimed warm-up, which is also the correctness pass: every query
    // once, its row count and digest checked against the recorded ones
    val t0 = System.nanoTime()
    checkUnit(Workloads.opsGates(ctx, dir, expected))
    setup("warmup_s") = since(t0)
    measure(() => Workloads.opsUnit(ctx, dir), (rec, u) => Layers.ops(rec, u))
  }

  // ---- measurement --------------------------------------------------------------------

  /** Timed units, and untimed correctness passes; both count in
    * `attempted` and `failed`.
    */
  private val units = ArrayBuffer.empty[UnitResult]
  private val checks = ArrayBuffer.empty[UnitResult]
  private def counted = units ++ checks

  private var unitsSec = 0.0

  private def printGates(u: UnitResult): Unit =
    u.gates.foreach(g => out(s"gate ${g.name} ${if (g.ok) "PASS" else "FAIL " + g.detail}"))

  private def checkUnit(u: UnitResult): Unit = { printGates(u); checks += u }

  private def runUnit(f: () => UnitResult): UnitResult = {
    val t0 = System.nanoTime()
    val u = f()
    unitsSec += since(t0)
    printGates(u)
    units += u
    u
  }

  /** `--trace 0`: units back to back until `--seconds` is spent (at least
    * one); end-to-end metrics are medians over units. `--trace 1`: one unit
    * under the listener, then the direct layer calls.
    */
  private def measure(f: () => UnitResult,
      layers: (Recorder, UnitResult) => Seq[(String, Double)]): Int = {
    setup.foreach { case (k, v) => out(s"setup $k ${Fmt.f(v)}") }
    val metrics = LinkedHashMap.empty[String, Double]
    if (!a.trace) {
      val t0 = System.nanoTime()
      var lastSec = 0.0
      do {
        val s = System.nanoTime()
        runUnit(f)
        lastSec = since(s)
      } while (since(t0) + lastSec <= a.seconds)
      metrics ++= Seq(
        "wall_s" -> Stats.median(units.map(_.timedSec).toSeq),
        "cpu_s" -> Stats.median(units.map(_.cpuSec).toSeq),
        "peak_rss_mb" -> Main.peakRssMb,
        "setup_s" -> setup.values.sum)
      workloadFigures(units.head).foreach { case (k, v) => out(s"figure $k ${Fmt.f(v, 4)}") }
      out(s"figure units ${units.size}")
    } else {
      val rec = new Recorder
      spark.sparkContext.addSparkListener(rec)
      val u = try runUnit(f) finally {
        rec.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(rec)
      }
      metrics ++= Metrics.PerLayer.map(d => d.name -> 0.0)
      def put(kv: Seq[(String, Double)]): Unit =
        kv.foreach { case (k, v) => if (metrics.contains(k)) metrics(k) = v }
      put(workloadFigures(u))
      put(Seq("failed_ratio" -> failedRatio, "trace.wall_s" -> u.timedSec,
        "trace.straddling_jobs" -> u.spans.map(s => rec.straddling(s).size).sum.toDouble,
        "seen.seed_s" -> setup.getOrElse("seeding_s", 0.0)))
      put(setup.toSeq.map { case (k, v) => s"setup.$k" -> v })
      put(u.values.toSeq)
      put(layers(rec, u))
      writeTrace(rec, u)
    }
    val defs = (if (a.trace) Metrics.PerLayer else Metrics.EndToEnd).map(d => d.name -> d).toMap
    metrics.foreach { case (k, v) => out(s"metric $k ${Fmt.f(v, 6)} ${defs(k).unit}") }
    val attempted = counted.map(_.attempted).sum
    val failed = counted.map(_.failed).sum
    out(s"gates ${counted.map(_.gates.count(_.ok)).sum}/${counted.map(_.gates.size).sum} pass, " +
      s"failed_ratio ${Fmt.f(failedRatio, 4)}")
    out(s"elapsed jvm_uptime_s ${Fmt.f(Main.jvmSec)} units_s ${Fmt.f(unitsSec)} " +
      s"timed_s ${Fmt.f(units.map(_.timedSec).sum)}")
    out(Fmt.obj(Seq(
      "correct" -> (failed == 0 && attempted > 0).toString,
      "attempted" -> math.max(1, attempted).toString,
      "failed" -> failed.toString,
      "metrics" -> Fmt.obj(metrics.toSeq.map { case (k, v) =>
        k -> Fmt.obj(Seq("value" -> Fmt.json(v), "unit" -> Fmt.quote(defs(k).unit))) }))))
    0 // failures are reported in the result, which was printed
  }

  private def failedRatio: Double = {
    val att = counted.map(_.attempted).sum
    if (att == 0) 1.0 else counted.map(_.failed).sum.toDouble / att
  }

  /** Workload-level figures (reported per layer), from one unit. */
  private def workloadFigures(u: UnitResult): Seq[(String, Double)] = {
    val disk = Option(u.warehouse).map(Layers.disk)
    Seq("pages_per_s" -> (if (u.crawlSec > 0) u.pages / u.crawlSec else 0.0),
      "wave_p50_s" -> (if (u.waveSec.nonEmpty) Stats.median(u.waveSec.toSeq) else 0.0),
      "op_p50_s" -> Stats.median(u.opSec.toSeq),
      "forget_s" -> u.forgetSec,
      "ops_s" -> u.opsSec,
      "wh_bytes_per_page" -> disk.map(d => if (u.pages > 0) d._2.toDouble / u.pages else 0.0).getOrElse(0.0),
      "wh_files" -> disk.map(_._1.toDouble).getOrElse(0.0))
  }

  /** Span tree and per-span table of the traced unit. */
  private def writeTrace(rec: Recorder, u: UnitResult): Unit = {
    val f = new java.io.File(new java.io.File(a.work).getParentFile,
      s"trace-${a.workload}-seed${a.seed}.json")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(Trace.toJson(a.workload, a.seed, rec, u.spans.toSeq)) finally w.close()
    out(s"trace ${f.getPath}")
    out("span kind name wall_s busy_s idle_s jobs tasks")
    u.spans.foreach { s =>
      val st = rec.stats(s)
      out(s"span ${s.kind} ${s.name} ${Fmt.f(s.seconds)} ${Fmt.f(st.busySec)} " +
        s"${Fmt.f(st.idleSec)} ${st.jobs.size} ${st.tasks}")
    }
  }
}
