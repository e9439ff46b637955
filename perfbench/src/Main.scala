package graft.perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One benchmark run of one workload: set up (three times with tracing off, to report
  * the median set-up), warm up, then time passes for `--seconds`. With `--trace 1` the
  * window alternates untraced and traced passes and the run reports the per-layer
  * metrics of the traced pass instead of the end-to-end ones.
  *
  * Writes its record (correct/attempted/failed/metrics) as JSON to `--out`; `run.py`
  * adds the DuckDB oracle check of the miner catalogs and prints it.
  */
object Main {

  val Layers = Seq("structure", "drain_mine", "spell_residue", "match", "route", "templates_sink", "eval")
  val SpanFields = Seq("span_s" -> "s", "task_s" -> "s", "util" -> "ratio", "stages" -> "count",
    "tasks" -> "count", "shuffle_mb" -> "MB", "spill_mb" -> "MB")
  val CountMetrics = Seq("structure.lines_in" -> "count", "structure.parsed_share" -> "ratio",
    "drain_mine.templates" -> "count", "spell_residue.residue_lines" -> "count",
    "spell_residue.templates" -> "count", "match.drain_share" -> "ratio",
    "match.spell_share" -> "ratio", "match.self_share" -> "ratio", "route.rows" -> "count",
    "route.files" -> "count", "route.bytes_mb" -> "MB")

  /** Bench.session's settings at local[cores], with every file the session writes
    * kept inside the run's work directory.
    */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val tiny = opt.get("size").contains("tiny")
    val fault = opt.getOrElse("fault", "")
    val cores = Runtime.getRuntime.availableProcessors()
    val processStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // ---- set-up: session, seeded inputs (and the stream catalog); the first one is
    // timed from process start, later ones from a stopped session
    val setups = ArrayBuffer[Double]()
    var ctx: Ctx = null
    for (r <- 0 until (if (trace) 1 else 3)) {
      val t0 = System.nanoTime()
      if (ctx != null) ctx.spark.stop()
      val dir = s"$work/s$r"
      val spark = session(cores, dir)
      ctx = new Ctx(spark, seed, dir, tiny, fault)
      System.err.println(f"[perfbench] +${(System.currentTimeMillis() - processStartMs) / 1e3}%.1f s session $r%d")
      w.setup(ctx)
      setups += (if (r == 0) (System.currentTimeMillis() - processStartMs) / 1e3
                 else (System.nanoTime() - t0) / 1e9)
    }
    val c = ctx
    System.err.println(s"[perfbench] setups: ${setups.map(x => f"$x%.2f").mkString(" ")} s")

    // ---- passes: warm-ups (negative index) then the timed window
    var attempted = 0
    var failed = 0
    val unitTimes = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
    val passWalls = ArrayBuffer[Double]()
    val peaks = ArrayBuffer[Double]()
    val tracer = if (trace) new Tracer(c.spark.sparkContext) else null
    val traced = ArrayBuffer[(Double, Map[String, Double], Seq[Span])]()

    def untraced(i: Int): Unit = {
      val before = c.failures.size
      val units = try w.pass(c, i) catch {
        case NonFatal(e) =>
          c.failures += s"${w.name} pass $i threw ${e.getClass.getName}: ${e.getMessage}"
          Seq(UnitResult(w.name, Double.NaN, ok = false))
      }
      attempted += units.size
      System.err.println(f"[perfbench] +${(System.currentTimeMillis() - processStartMs) / 1e3}%.1f s pass $i%d: ${units.map(_.seconds).sum}%.3f s: " +
        units.map(u => f"${u.name}%s=${u.seconds}%.2f").mkString(" "))
      failed += math.max(units.count(!_.ok), if (c.failures.size > before) 1 else 0)
      if (i >= 0 && units.forall(_.ok)) {
        units.foreach(u => unitTimes.getOrElseUpdate(u.name, ArrayBuffer()) += u.seconds)
        passWalls += units.map(_.seconds).sum
        peaks += c.takePeakMb()
      }
      System.gc() // the previous pass's garbage is collected outside the next one
    }

    def tracedRun(i: Int): Unit = {
      val before = c.failures.size
      val first = tracer.spans.size
      attempted += 1
      try {
        val counts = w.tracedPass(c, tracer, i)
        val spans = tracer.spans.drop(first).toSeq
        traced += ((spans.head.seconds, counts, spans))
      } catch {
        case NonFatal(e) =>
          c.failures += s"${w.name} traced pass $i threw ${e.getClass.getName}: ${e.getMessage}"
      }
      if (c.failures.size > before) failed += 1
      System.gc()
    }

    // tiny inputs (the self-test) check outputs without warming up
    for (i <- -(if (tiny) 0 else w.warmups) until 0) untraced(i)
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (i < (if (trace) 2 else if (tiny) 1 else w.minPasses) || (elapsed < seconds && i < 500)) {
      if (trace && i % 2 == 1) tracedRun(i) else untraced(i)
      i += 1
    }

    val beforeVerify = c.failures.size
    try w.verify(c) catch {
      case NonFatal(e) => c.failures += s"${w.name} verify threw ${e.getClass.getName}: ${e.getMessage}"
    }
    if (c.failures.size > beforeVerify) failed += 1

    // ---- metrics
    val metrics = ArrayBuffer[(String, Double, String)]()
    if (!trace) {
      // a pass's time is the sum of its units' medians over the timed passes
      val pass = unitTimes.values.map(ts => median(ts.toSeq)).sum
      metrics += (("lines_per_s", w.linesPerPass / pass, "lines/s"))
      w.parsingAccuracy.foreach(pa => metrics += (("parsing_accuracy", pa, "ratio")))
      metrics += (("cache_peak_mb", median(peaks.toSeq), "MB"))
      metrics += (("setup_s", median(setups.toSeq), "s"))
    } else if (traced.nonEmpty) {
      val (wall, counts, spans) = traced.sortBy(_._1).apply(traced.size / 2)
      def agg(name: String): Seq[(String, Double)] = {
        val ss = spans.filter(_.name == name)
        val sec = ss.map(_.seconds).sum
        val task = ss.map(_.taskNs).sum / 1e9
        Seq("span_s" -> sec, "task_s" -> task, "util" -> (if (sec > 0) task / (sec * cores) else 0.0),
          "stages" -> ss.map(_.stages).sum.toDouble, "tasks" -> ss.map(_.tasks).sum.toDouble,
          "shuffle_mb" -> ss.map(_.shuffleBytes).sum / 1e6, "spill_mb" -> ss.map(_.spillBytes).sum / 1e6)
      }
      val units = SpanFields.toMap
      for (l <- Layers; (f, v) <- agg(l)) metrics += ((s"$l.$f", v, units(f)))
      w match {
        case m: MinerCatalogs => for (q <- m.queries; (f, v) <- agg(s"miner.$q") if Set("span_s", "util", "stages")(f))
          metrics += ((s"miner.$q.$f", v, units(f)))
        case _: StreamMatch =>
          for ((f, v) <- agg("stream") if Set("span_s", "task_s", "util")(f)) metrics += ((s"stream.$f", v, units(f)))
          for (m <- Seq("batches", "state_rows")) metrics += ((s"stream.$m", counts(s"stream.$m"), "count"))
          for (m <- Seq("batch_p50_s", "batch_p90_s")) metrics += ((s"stream.$m", counts(s"stream.$m"), "s"))
        case _ =>
      }
      for ((m, u) <- CountMetrics) metrics += ((m, counts.getOrElse(m, 0.0), u))
      metrics += (("trace_overhead", wall / median(passWalls.toSeq), "ratio"))
      opt.get("trace-file").foreach { f =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(f), tracer.toJson())
      }
    }

    c.failures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    val record = Json.obj(Seq(
      "workload" -> Json.str(w.name), "seed" -> seed.toString, "inputs" -> Json.str(c.work),
      "correct" -> (c.failures.isEmpty && failed == 0 && traced.size + passWalls.size > 0).toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), record)
    c.spark.stop()
  }
}
