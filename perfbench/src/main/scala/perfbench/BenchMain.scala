package perfbench

import java.nio.file.{Path, Paths}
import scala.collection.mutable

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.SparkSession

import graft.cli.Main
import graft.engine.Sessions

/** The benchmark process: one workload, one seed, one closed-loop
  * caller that starts the next pipeline run only after the previous one
  * landed and was checked.
  *
  * {{{
  * BenchMain --workload W --seed N --seconds S --trace 0|1
  *           --work DIR --data DIR --trace-out FILE
  * }}}
  *
  * Untraced (`--trace 0`) it times `graft.cli.Main.run` and prints the
  * end-to-end metrics. Traced (`--trace 1`) it alternates untraced runs
  * with traced replays of the same pipeline and prints the per-layer
  * metrics. The last stdout line is the result object; everything else
  * goes to stderr.
  */
object BenchMain {

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, data: Path, traceOut: Path, cpus: Int)

  val Workloads: Seq[String] = Seq("ingest_paged", "curate_stages")
  val CurateStages: Seq[String] =
    Seq("span_clean", "exact_dedup", "curation_v4", "emb_ann", "emb_pq")
  val Layers: Seq[String] = Seq("http", "infer", "engine", "ops", "writer")

  val EndToEnd: Seq[String] = Seq("setup_s", "cold_run_s", "run_s", "rows_per_s")
  val PerLayer: Seq[String] =
    Seq("cli.prepare_s",
      "http.fetch_s", "http.requests", "http.retries", "http.bytes",
      "http.useful_ratio", "http.inflight_max", "http.server_busy_s",
      "infer.schema_s", "infer.parse_s", "infer.fields",
      "engine.sql_s", "engine.plan_s", "engine.queries",
      "ops.build_s", "ops.exec_s", "ops.storage_mb") ++
      CurateStages.flatMap(s => Seq(s"ops.$s.build_s", s"ops.$s.exec_s")) ++
      Seq("writer.write_s", "writer.rows", "writer.bytes", "writer.files") ++
      Layers.flatMap(l => Seq("jobs", "tasks", "cpu_s", "shuffle_bytes",
        "spill_bytes", "result_bytes", "codegen_s").map(c => s"$l.$c")) ++
      Seq("cold.ops.build_s", "cold.engine.plan_s", "cold.engine.queries",
        "cold.codegen_s", "storage.growth_mb", "check.failed_share",
        "trace.overhead_s")

  def unit(metric: String): String =
    if (metric == "rows_per_s") "1/s"
    else if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric.endsWith("bytes")) "B"
    else if (metric.endsWith("_ratio") || metric.endsWith("_share")) "ratio"
    else "count"

  /** Warm runs per process at least, whatever `--seconds`. */
  val MinRuns = 3
  /** Untraced and traced warm runs per traced process at least. */
  val MinTraced = 2
  /** Set-up repetitions whose median `setup_s` reports. */
  val SetupRepeats = 3

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val o = Opts(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      Paths.get(get("work")).toAbsolutePath, Paths.get(get("data")).toAbsolutePath,
      Paths.get(get("trace-out")).toAbsolutePath,
      m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
    require(Workloads.contains(o.workload),
      s"unknown workload '${o.workload}' (${Workloads.mkString(", ")})")
    require(o.seconds >= 1, "--seconds must be at least 1")
    o
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.out.flush()
    sys.exit(code)
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, seconds(t0))
  }

  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Executor storage once a forced GC has let the context cleaner
    * release every block whose last reference is gone.
    */
  def settledStorageMb(spark: SparkSession): Double = {
    var last = -1.0
    var cur = storageMb(spark)
    var i = 0
    while (i < 10 && cur != last) {
      System.gc()
      Thread.sleep(300)
      last = cur
      cur = storageMb(spark)
      i += 1
    }
    cur
  }

  def makeWorkload(o: Opts, spark: SparkSession): Workload = o.workload match {
    case "ingest_paged" =>
      // 100 per page is the CLI's --page-size default
      new IngestWorkload(spark, o.work, o.seed, o.cpus, rows = 200000, pageSize = 100)
    case "curate_stages" =>
      new CurateWorkload(spark, o.work, o.data, o.seed)
  }

  /** Attempt and failure tally: modules and stages run, output checks made. */
  final class Tally {
    var attempted = 0L
    var failed = 0L
    def add(units: Int, failedUnits: Int, checks: Seq[CheckResult]): Unit = {
      attempted += units + checks.size
      failed += failedUnits + checks.count(!_.ok)
      checks.filterNot(_.ok).foreach(c => System.err.println(s"CHECK $c"))
    }
  }

  def run(o: Opts): Int = {
    val t0 = System.nanoTime()
    val spark = Sessions.deployment(Some(s"local[${o.cpus}]"), o.cpus)
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    val sessionS = seconds(t0)
    try {
      val w = makeWorkload(o, spark)
      try {
        val setups = (1 to SetupRepeats).map(_ => timed(w.setup())._2)
        w.prepare()
        val setupS = sessionS + Stats.median(setups)
        System.err.println(f"setup: session $sessionS%.3f s, inputs ${setups.mkString(", ")} s")
        val tally = new Tally
        val metrics =
          if (o.trace) tracedMode(o, spark, w, counters, tally)
          else untracedMode(o, spark, w, tally, setupS)
        println(resultJson(tally, metrics))
        if (tally.failed == 0) 0 else 1
      } finally w.close()
    } finally spark.stop()
  }

  /** One pipeline run through the CLI entry point, timed, then checked. */
  private def cliRun(spark: SparkSession, w: Workload, tally: Tally): Double = {
    w.beforeRun()
    val (failed, s) = timed(Main.run(w.args, spark))
    tally.add(w.units, failed, w.check())
    s
  }

  /** Untraced runs until `secs` have passed, at least `min` of them. */
  private def runFor(secs: Int, min: Int)(run: => Double): Seq[Double] = {
    val deadline = System.nanoTime() + secs * 1000000000L
    val out = mutable.ArrayBuffer.empty[Double]
    while (out.size < min || System.nanoTime() < deadline) out += run
    out.toSeq
  }

  def untracedMode(o: Opts, spark: SparkSession, w: Workload, tally: Tally,
      setupS: Double): Seq[(String, Double)] = {
    val cold = cliRun(spark, w, tally)
    val first = settledStorageMb(spark)
    val warm = runFor(o.seconds, MinRuns)(cliRun(spark, w, tally))
    val last = settledStorageMb(spark)
    val runS = Stats.median(warm)
    val tail = Stats.tailPercentile(warm.size)
      .map(p => f", p$p%s ${Stats.percentile(warm, p)}%.4f s").getOrElse("")
    def list(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(" ")
    System.err.println(f"runs: cold $cold%.4f s, " +
      f"warm n=${warm.size} median $runS%.4f s$tail (${list(warm)}); " +
      f"storage after first $first%.2f MB, after last $last%.2f MB")
    Seq("setup_s" -> setupS, "cold_run_s" -> cold, "run_s" -> runS,
      "rows_per_s" -> w.inputRows / runS)
  }

  def tracedMode(o: Opts, spark: SparkSession, w: Workload,
      counters: SparkCounters, tally: Tally): Seq[(String, Double)] = {
    val tracer = new Tracer(spark)
    var run = 0
    def traced(): (Map[String, Double], Double) = {
      run += 1
      w.beforeRun()
      ListenerBusDrain.drain(spark.sparkContext)
      counters.reset()
      val (written, total) = timed(tracer.span(run, "run", "run")(w.traced(tracer, run)))
      ListenerBusDrain.drain(spark.sparkContext)
      tally.add(w.units, 0, w.check())
      (layerMetrics(spark, tracer, run, counters, w, written), total)
    }
    val (cold, _) = traced()
    val first = settledStorageMb(spark)
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    val untraced = mutable.ArrayBuffer.empty[Double]
    val tracedRuns = mutable.ArrayBuffer.empty[(Map[String, Double], Double)]
    while (untraced.size < MinTraced || tracedRuns.size < MinTraced ||
        System.nanoTime() < deadline) {
      untraced += cliRun(spark, w, tally)
      tracedRuns += traced()
    }
    val last = settledStorageMb(spark)
    tracer.writeJsonLines(o.traceOut)
    val layer = PerLayer.filterNot(k => k.startsWith("cold.") ||
        Set("storage.growth_mb", "check.failed_share", "trace.overhead_s")(k))
      .map(k => k -> Stats.median(tracedRuns.map(_._1(k)).toSeq))
    val overhead = Stats.median(tracedRuns.map(_._2).toSeq) - Stats.median(untraced.toSeq)
    System.err.println(f"traced n=${tracedRuns.size}, untraced n=${untraced.size}, " +
      f"overhead $overhead%.4f s; spans written to ${o.traceOut}")
    layer ++ Seq(
      "cold.ops.build_s" -> cold("ops.build_s"),
      "cold.engine.plan_s" -> cold("engine.plan_s"),
      "cold.engine.queries" -> cold("engine.queries"),
      "cold.codegen_s" -> Layers.map(l => cold(s"$l.codegen_s")).sum,
      "storage.growth_mb" -> (last - first),
      "check.failed_share" -> tally.failed.toDouble / tally.attempted,
      "trace.overhead_s" -> overhead)
  }

  /** Per-layer figures of one traced run. Times are span self times; a
    * layer's Spark counters are those of the jobs its spans started.
    */
  def layerMetrics(spark: SparkSession, tracer: Tracer, run: Int,
      counters: SparkCounters, w: Workload, written: Written): Map[String, Double] = {
    val self = tracer.selfTimes(run).filter(_._1.layer != "run")
    def byName(n: String): Double = self.filter(_._1.name == n).map(_._2).sum / 1e9
    def byLayer(l: String): Double = self.filter(_._1.layer == l).map(_._2).sum / 1e9
    def codegen(l: String): Double = self.filter(_._1.layer == l).map(_._3).sum / 1e9
    val http = w.http
    val requests = http.map(_.requests.get.toDouble).getOrElse(0.0)
    val m = mutable.LinkedHashMap[String, Double](
      "cli.prepare_s" -> byName("cli.prepare"),
      "http.fetch_s" -> byLayer("http"),
      "http.requests" -> requests,
      "http.retries" -> http.map(_.retried.get.toDouble).getOrElse(0.0),
      "http.bytes" -> http.map(_.bytes.get.toDouble).getOrElse(0.0),
      "http.useful_ratio" ->
        (if (requests == 0) 0.0 else http.get.distinctPagesServed / requests),
      "http.inflight_max" -> http.map(_.inflightMax.get.toDouble).getOrElse(0.0),
      "http.server_busy_s" -> http.map(_.busyNs.get / 1e9).getOrElse(0.0),
      "infer.schema_s" -> byName("infer.schema"),
      "infer.parse_s" -> byName("infer.parse"),
      "infer.fields" -> w.inferredFields.toDouble,
      "engine.sql_s" -> byLayer("engine"),
      "engine.plan_s" -> counters.planNs.get / 1e9,
      "engine.queries" -> counters.queries.get.toDouble,
      "ops.build_s" -> byLayer("ops"),
      "ops.exec_s" -> CurateStages.map(s => byName(s"ops.$s.exec")).sum,
      "ops.storage_mb" -> storageMb(spark),
      "writer.write_s" -> byLayer("writer"),
      "writer.rows" -> written.rows.toDouble,
      "writer.bytes" -> written.bytes.toDouble,
      "writer.files" -> written.files.toDouble)
    CurateStages.foreach { s =>
      m(s"ops.$s.build_s") = byName(s"ops.$s.build")
      m(s"ops.$s.exec_s") = byName(s"ops.$s.exec")
    }
    Layers.foreach { l =>
      val c = counters.layer(l)
      m(s"$l.jobs") = c.jobs.get.toDouble
      m(s"$l.tasks") = c.tasks.get.toDouble
      m(s"$l.cpu_s") = c.cpuNs.get / 1e9
      m(s"$l.shuffle_bytes") = c.shuffleBytes.get.toDouble
      m(s"$l.spill_bytes") = c.spillBytes.get.toDouble
      m(s"$l.result_bytes") = c.resultBytes.get.toDouble
      m(s"$l.codegen_s") = codegen(l)
    }
    m.toMap
  }

  def resultJson(tally: Tally, metrics: Seq[(String, Double)]): String = {
    val body = metrics.map { case (k, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k": {"value": $v, "unit": "${unit(k)}"}"""
    }.mkString(", ")
    s"""{"correct": ${tally.failed == 0}, "attempted": ${tally.attempted}, """ +
      s""""failed": ${tally.failed}, "metrics": {$body}}"""
  }
}
