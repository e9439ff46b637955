package graft.perfbench

import graft.SparkEntry
import graft.eval.Evaluator
import graft.ingest.WebPagesGen
import graft.pipeline.{LogPipeline, MatchCatalog, PipelineConfig}
import graft.streaming.StreamingMatch
import graft.table.ParquetManifestTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One timed unit of work (a pass, a style, a catalog query) and whether its output
  * checks held.
  */
final case class UnitResult(name: String, seconds: Double, ok: Boolean)

/** What a workload's run shares: the session, the seed, its work directory, the
  * injected fault (self-test only) and the failures and memory samples seen so far.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String, val tiny: Boolean,
                val fault: String) {
  val failures = ArrayBuffer[String]()
  private var peak = 0L

  /** Record a failed check; returns `ok`. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) failures += what
    ok
  }

  /** Memory held by cached blocks, sampled at a layer boundary; the run reports the
    * peak per pass. Broadcast blocks are left out: the context cleaner frees them at
    * a time of its own, so they do not repeat from run to run.
    */
  def sampleStorage(): Unit =
    peak = math.max(peak, spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum)
  def takePeakMb(): Double = { val p = peak; peak = 0L; p / 1e6 }

  def path(name: String): String = s"$work/$name"
  def deleteDir(p: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
  }
}

/** A benchmark workload. `setup` writes its seeded inputs; `pass` runs the timed work
  * once with tracing off and checks its outputs; `tracedPass` runs the same work
  * through the program's public layer functions, each inside a span, and returns the
  * layer counts it saw.
  */
trait Workload {
  def name: String
  def linesPerPass: Long
  def warmups: Int
  def minPasses: Int
  def setup(c: Ctx): Unit
  def pass(c: Ctx, i: Int): Seq[UnitResult]
  def tracedPass(c: Ctx, t: Tracer, i: Int): Map[String, Double]
  /** Checks too costly for every pass, run once on the last pass's outputs. */
  def verify(c: Ctx): Unit = ()
  /** Line-weighted parsing accuracy of the outputs against the generator's ground truth,
    * for the workloads that have one.
    */
  def parsingAccuracy: Option[Double] = None
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "hdfs_route" => new HdfsRoute
    case "style_sweep" => new StyleSweep
    case "miner_catalogs" => new MinerCatalogs
    case "stream_match" => new StreamMatch
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def digest(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** (lines, parsed) of a structured frame, in one job. */
  def lineCounts(structured: DataFrame): (Long, Long) = {
    val r = structured.agg(count(lit(1)), sum(when(col("parsed"), 1L).otherwise(0L))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** matched_by histogram of a matched frame, in one job. */
  def matchedBy(matched: DataFrame): Map[String, Long] =
    matched.groupBy("matched_by").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  def pa(assigned: DataFrame, gt: DataFrame): Evaluator.Scores =
    Evaluator.evaluate(assigned.select("url", "line_no", "event_id").join(gt, Seq("url", "line_no")))

  def matchCounts(by: Map[String, Long]): Map[String, Double] = {
    val n = math.max(1L, by.values.sum).toDouble
    Map("match.drain_share" -> by.getOrElse("drain", 0L) / n,
      "match.spell_share" -> by.getOrElse("spell", 0L) / n,
      "match.self_share" -> by.getOrElse("self", 0L) / n,
      "spell_residue.residue_lines" -> (by.values.sum - by.getOrElse("drain", 0L)).toDouble)
  }
}

import Workloads._

/** The product's batch path, as `graft.Bench` runs it: sampled mine, match, enrich,
  * routed write through the manifest table, template counts.
  */
final class HdfsRoute extends Workload {
  val name = "hdfs_route"
  private val cfg = PipelineConfig.hdfs.copy(mineSampleLimit = Some(50000))
  private var pages = 0L
  private var lines = 0L
  private var catalogDigest: String = _
  def linesPerPass: Long = lines
  // the pass time falls for the first three or four passes while the JIT compiles
  // Spark's driver-side code; three warm-ups keep a run near one minute
  val warmups = 3
  val minPasses = 3

  def setup(c: Ctx): Unit = {
    pages = if (c.tiny) 200L else 4000L
    lines = Inputs.lineCount(c.seed, pages)
    Inputs.pages(c.spark, Seq(Inputs.Hdfs), c.seed, pages).write.mode("overwrite").parquet(c.path("pages"))
  }

  /** (routed table, templates sink) of pass `i`; the previous pass's are deleted. */
  private def outputs(c: Ctx, i: Int): (String, String) = {
    c.deleteDir(c.path(s"route_${i - 1}"))
    (c.path(s"route_$i/routed"), c.path(s"route_$i/templates"))
  }

  def pass(c: Ctx, i: Int): Seq[UnitResult] = {
    val (routed, templates) = outputs(c, i)
    c.spark.catalog.clearCache()
    val p = new LogPipeline(cfg)
    val (_, secs) = time {
      val (_, assignedRaw) = LogPipeline.assignAll(c.spark, c.spark.read.parquet(c.path("pages")), cfg)
      c.sampleStorage()
      val assigned = assignedRaw.persist(StorageLevel.MEMORY_AND_DISK)
      p.routedWrite(p.enrich(assigned, WebPagesGen.dimDomainLang(c.spark)), routed, "bench")
      c.sampleStorage()
      p.templateCounts(assigned).write.mode("overwrite").parquet(templates)
      c.sampleStorage()
      assigned.unpersist()
    }
    Seq(UnitResult(name, secs, checkOutputs(c, routed, templates)))
  }

  private var last: (String, String) = _

  /** Sink conservation and catalog digest, on every pass. */
  private def checkOutputs(c: Ctx, routed: String, templates: String): Boolean = {
    last = (routed, templates)
    val tpl = c.spark.read.parquet(templates).collect()
    val d = digest(tpl.map(_.toString).toSeq)
    if (catalogDigest == null) catalogDigest = d
    val routedRows = routedBack(c, routed).count()
    val occurrences = tpl.map(_.getAs[Long]("occurrences")).sum
    c.check(d == catalogDigest, s"$name: templates digest $d != $catalogDigest") &
      c.check(routedRows == occurrences,
        s"$name: routed rows $routedRows != template occurrences $occurrences")
  }

  /** The routed rows as a reader of the manifest table sees them. */
  private def routedBack(c: Ctx, routed: String): DataFrame = {
    val back = ParquetManifestTable.read(c.spark, routed)
    if (c.fault != "route") back
    else {
      val r = back.select("url", "line_no").head()
      back.filter(!(col("url") === r.getString(0) && col("line_no") === r.getInt(1)))
    }
  }

  /** Parse conservation (lines in = parsed + unparsed, routed = parsed) and PA. */
  override def verify(c: Ctx): Unit = {
    val p = new LogPipeline(cfg)
    val (in, parsed) = lineCounts(p.structure(p.explodeLines(c.spark.read.parquet(c.path("pages")))))
    val back = routedBack(c, last._1)
    val routedRows = back.count()
    val sc = pa(back, Inputs.groundTruth(c.spark, Seq(Inputs.Hdfs), c.seed, pages))
    c.check(in == lines, s"$name: lines in $in != generated $lines")
    c.check(routedRows == parsed, s"$name: routed rows $routedRows != parsed lines $parsed")
    c.check(sc.parsingAccuracy >= 0.95, s"$name: PA ${sc.parsingAccuracy} < 0.95")
    accuracy = sc.parsingAccuracy
  }
  private var accuracy = 0.0
  override def parsingAccuracy: Option[Double] = Some(accuracy)

  def tracedPass(c: Ctx, t: Tracer, i: Int): Map[String, Double] = {
    val (routed, templates) = outputs(c, i)
    c.spark.catalog.clearCache()
    val p = new LogPipeline(cfg)
    val pagesDf = c.spark.read.parquet(c.path("pages"))
    val counts = t.span("pass") {
      val (masked, (in, parsed)) = t.span("structure") {
        val m = p.withMasked(p.structure(p.explodeLines(pagesDf)))
          .persist(StorageLevel.MEMORY_AND_DISK)
        (m, lineCounts(m))
      }
      val drain = t.span("drain_mine")(p.mineDrain(masked))
      val spell = t.span("spell_residue")(p.mineSpellResidue(masked, drain))
      val (assigned, by) = t.span("match") {
        val bc = c.spark.sparkContext.broadcast(new MatchCatalog(drain, spell))
        val a = p.matchPhase(masked, bc).persist(StorageLevel.MEMORY_AND_DISK)
        (a, matchedBy(a))
      }
      t.span("route")(p.routedWrite(p.enrich(assigned, WebPagesGen.dimDomainLang(c.spark)), routed, "bench"))
      t.span("templates_sink")(p.templateCounts(assigned).write.mode("overwrite").parquet(templates))
      val files = routedFiles(c, routed)
      assigned.unpersist(); masked.unpersist()
      Map("structure.lines_in" -> in.toDouble, "structure.parsed_share" -> parsed.toDouble / math.max(1L, in),
        "drain_mine.templates" -> drain.clusterList.size.toDouble,
        "spell_residue.templates" -> spell.clusterList.size.toDouble,
        "route.rows" -> by.values.sum.toDouble, "route.files" -> files.size.toDouble,
        "route.bytes_mb" -> files.sum / 1e6) ++ matchCounts(by)
    }
    checkOutputs(c, routed, templates)
    counts
  }

  private def routedFiles(c: Ctx, routed: String): Seq[Long] = {
    val hp = new org.apache.hadoop.fs.Path(routed)
    val it = hp.getFileSystem(c.spark.sparkContext.hadoopConfiguration).listFiles(hp, true)
    val sizes = ArrayBuffer[Long]()
    while (it.hasNext) { val f = it.next(); if (f.getPath.getName.endsWith(".parquet")) sizes += f.getLen }
    sizes.toSeq
  }
}

/** Three log styles through the reference-faithful full mine plus the evaluator — one
  * small job sequence per style, so job latency, the Drain mine and the evaluator
  * dominate. The three are the styles whose layers differ: hdfs (the product's style,
  * 23 templates, standing also for the twelve styles that mine 6–8 templates with no
  * residue), windows (the most Drain templates and the lowest PA) and android (the
  * only style with Spell residue lines, about a quarter of them).
  */
final class StyleSweep extends Workload {
  val name = "style_sweep"
  private val styles = Seq("hdfs", "windows", "android").map(n => Inputs.styles.find(_.name == n).get)
  // log_pa_by_style's floors for these styles
  private val floors = Map("hdfs" -> 0.95, "windows" -> 0.8, "android" -> 0.8)
  private var pages = 0L
  private var lines = 0L
  private val scores = mutable.Map[String, Evaluator.Scores]()
  def linesPerPass: Long = lines * styles.size
  // the sweep time falls for about three sweeps while the JIT compiles Spark's
  // driver-side code
  val warmups = 3
  val minPasses = 2

  def setup(c: Ctx): Unit = {
    pages = if (c.tiny) 30L else 500L
    lines = Inputs.lineCount(c.seed, pages)
    // each style is read back from its own partition directory
    Inputs.pages(c.spark, styles, c.seed, pages).write.partitionBy("style").parquet(c.path("pages"))
    Inputs.groundTruth(c.spark, styles, c.seed, pages).write.partitionBy("style").parquet(c.path("gt"))
  }

  private def input(c: Ctx, what: String, style: String) = c.spark.read.parquet(c.path(s"$what/style=$style"))

  def pass(c: Ctx, i: Int): Seq[UnitResult] = styles.map { s =>
    c.spark.catalog.clearCache()
    val (sc, secs) = time {
      val (_, asg) = LogPipeline.assignNarrow(c.spark, input(c, "pages", s.name), s.cfg)
      c.sampleStorage()
      val r = pa(asg, input(c, "gt", s.name))
      c.sampleStorage()
      r
    }
    UnitResult(s.name, secs, check(c, s.name, sc))
  }

  override def parsingAccuracy: Option[Double] =
    Some(scores.values.map(s => s.parsingAccuracy * s.total).sum / math.max(1L, scores.values.map(_.total).sum))

  private def check(c: Ctx, style: String, sc: Evaluator.Scores): Boolean = {
    val same = scores.get(style).forall(_ == sc)
    scores(style) = sc
    c.check(sc.parsingAccuracy >= floors(style), s"$name/$style: PA ${sc.parsingAccuracy} < ${floors(style)}") &
      c.check(sc.total == lines, s"$name/$style: scored ${sc.total} lines != generated $lines") &
      c.check(same, s"$name/$style: scores differ between passes")
  }

  def tracedPass(c: Ctx, t: Tracer, i: Int): Map[String, Double] = t.span("pass") {
    val counts = styles.map { s =>
      c.spark.catalog.clearCache()
      val p = new LogPipeline(s.cfg)
      val pagesDf = input(c, "pages", s.name)
      val (masked, (in, parsed)) = t.span("structure") {
        val m = p.withMasked(p.structure(p.explodeLines(pagesDf)))
          .select("url", "line_no", "parsed", "masked").persist(StorageLevel.MEMORY_AND_DISK)
        (m, lineCounts(m))
      }
      val drain = t.span("drain_mine")(p.mineDrain(masked))
      val spell = t.span("spell_residue")(p.mineSpellResidue(masked, drain))
      val (asg, by) = t.span("match") {
        val bc = c.spark.sparkContext.broadcast(new MatchCatalog(drain, spell))
        val a = p.matchCore(masked, bc).select("url", "line_no", "event_id", "event_template", "matched_by")
          .persist(StorageLevel.MEMORY_AND_DISK)
        (a, matchedBy(a))
      }
      val sc = t.span("eval")(pa(asg, input(c, "gt", s.name)))
      check(c, s.name, sc)
      System.err.println(f"[perfbench] ${s.name}%s: lines=$in%d templates=${drain.clusterList.size}%d+" +
        f"${spell.clusterList.size}%d by=$by pa=${sc.parsingAccuracy}%.4f")
      Seq(in.toDouble, parsed.toDouble, drain.clusterList.size.toDouble, spell.clusterList.size.toDouble) ++
        Seq("drain", "spell", "self").map(k => by.getOrElse(k, 0L).toDouble)
    }
    val sum = counts.transpose.map(_.sum)
    val by = Map("drain" -> sum(4).toLong, "spell" -> sum(5).toLong, "self" -> sum(6).toLong)
    Map("structure.lines_in" -> sum(0), "structure.parsed_share" -> sum(1) / math.max(1.0, sum(0)),
      "drain_mine.templates" -> sum(2), "spell_residue.templates" -> sum(3)) ++ matchCounts(by)
  }
}

/** The 16 catalog queries of the 14 standalone miner modules, called through the
  * query map (`SparkEntry.queries`) over a seeded events table. The catalogs of
  * the first timed pass are written for the DuckDB oracle check, which runs after the
  * timed window.
  */
final class MinerCatalogs extends Workload {
  val name = "miner_catalogs"
  val queries = Seq("iplom_templates", "slct_templates", "ael_templates", "logcluster_templates",
    "logmine_templates", "logmine_xlen_templates", "logram_templates", "brain_templates",
    "ulp_templates", "lfa_templates", "lenma_templates", "lenma_sim_templates",
    "shiso_templates", "lke_templates", "logsig_templates", "molfi_templates")
  private var rows = 0L
  private val digests = mutable.Map[String, String]()
  def linesPerPass: Long = rows * queries.size
  val warmups = 1
  val minPasses = 1

  def setup(c: Ctx): Unit = {
    rows = if (c.tiny) 2000L else 10000L
    Inputs.events(c.spark, c.seed, rows).write.mode("overwrite").parquet(c.path("events.parquet"))
    val oracles = queries.map(q => q -> Json.str(SparkEntry.oracleSql(q)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(c.path("oracle_sql.json")), Json.obj(oracles))
  }

  def pass(c: Ctx, i: Int): Seq[UnitResult] = queries.map { q =>
    c.spark.catalog.clearCache()
    val ((schema, got), secs) = time {
      val df = SparkEntry.queries(q)(c.spark, c.work)
      val r = (df.schema, df.collect())
      c.sampleStorage()
      r
    }
    UnitResult(q, secs, check(c, q, schema, got, writeForOracle = i == 0))
  }

  private def check(c: Ctx, q: String, schema: org.apache.spark.sql.types.StructType,
                    got: Array[Row], writeForOracle: Boolean): Boolean = {
    val d = digest(got.map(_.toString).toSeq)
    val same = digests.getOrElseUpdate(q, d) == d
    if (writeForOracle) {
      val out = if (c.fault == "catalog" && q == queries.head) got.updated(0, perturb(got(0))) else got
      c.spark.createDataFrame(java.util.Arrays.asList(out: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(c.path(s"catalogs/$q"))
    }
    c.check(got.nonEmpty, s"$name/$q: empty catalog") & c.check(same, s"$name/$q: catalog differs between passes")
  }

  /** The self-test's catalog fault: one field of one row changed. */
  private def perturb(r: Row): Row = {
    val f = r.toSeq.indexWhere(v => v.isInstanceOf[Long] || v.isInstanceOf[Int] || v.isInstanceOf[String])
    Row.fromSeq(r.toSeq.updated(f, r.get(f) match {
      case v: Long => v + 1
      case v: Int => v + 1
      case v => s"$v~"
    }))
  }

  def tracedPass(c: Ctx, t: Tracer, i: Int): Map[String, Double] = t.span("pass") {
    queries.foreach { q =>
      c.spark.catalog.clearCache()
      val (schema, got) = t.span(s"miner.$q") {
        val df = SparkEntry.queries(q)(c.spark, c.work)
        (df.schema, df.collect())
      }
      check(c, q, schema, got, writeForOracle = false)
    }
    Map.empty
  }
}

/** The streaming front-end: a backlog of page files read `maxFilesPerTrigger` at a
  * time, matched against a catalog mined during set-up, counted per template in
  * complete mode into a memory sink.
  */
final class StreamMatch extends Workload {
  val name = "stream_match"
  private val cfg = PipelineConfig.hdfs.copy(mineSampleLimit = Some(50000))
  private var lines = 0L
  private var catalog: org.apache.spark.broadcast.Broadcast[MatchCatalog] = _
  private var expected: Map[(String, String), Long] = Map.empty
  def linesPerPass: Long = lines
  val warmups = 2
  val minPasses = 3
  private val filesPerTrigger = 4

  def setup(c: Ctx): Unit = {
    val pages = if (c.tiny) 200L else 4000L
    val files = if (c.tiny) 8 else 16
    lines = Inputs.lineCount(c.seed, pages)
    Inputs.pages(c.spark, Seq(Inputs.Hdfs), c.seed, pages).repartition(files)
      .write.mode("overwrite").parquet(c.path("stream_src"))
    // the catalog is mined once, in batch, over the same backlog; the batch template
    // counts over that catalog are what every stream pass must reproduce
    val (cat, assigned) = LogPipeline.assignAll(c.spark, c.spark.read.parquet(c.path("stream_src")), cfg)
    catalog = c.spark.sparkContext.broadcast(cat)
    expected = new LogPipeline(cfg).templateCounts(assigned).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    c.spark.catalog.clearCache()
  }

  private def run(c: Ctx, i: Int): Map[(String, String), Long] = {
    val sink = s"pb_stream_${i + 100}"
    val q = StreamingMatch.matchedStream(
        StreamingMatch.readPages(c.spark, c.path("stream_src"), Some(filesPerTrigger)), cfg, catalog)
      .groupBy("event_id", "event_template").agg(count(lit(1)).as("occurrences"))
      .writeStream.format("memory").queryName(sink).outputMode("complete")
      .option("checkpointLocation", c.path(s"ckpt_$i")).start()
    try q.processAllAvailable() finally q.stop()
    c.sampleStorage()
    val got = c.spark.table(sink).collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    c.spark.catalog.dropTempView(sink)
    got
  }

  private def check(c: Ctx, got0: Map[(String, String), Long]): Boolean = {
    val got = if (c.fault != "stream") got0 else {
      val Seq(a, b) = got0.toSeq.sortBy(-_._2).take(2)
      got0 ++ Map(a._1 -> b._2, b._1 -> a._2)
    }
    c.check(got == expected, s"$name: stream counts differ from batch templateCounts " +
      s"(${got.size} vs ${expected.size} templates)")
  }

  def pass(c: Ctx, i: Int): Seq[UnitResult] = {
    val (got, secs) = time(run(c, i))
    c.deleteDir(c.path(s"ckpt_$i"))
    Seq(UnitResult(name, secs, check(c, got)))
  }

  def tracedPass(c: Ctx, t: Tracer, i: Int): Map[String, Double] = {
    val l = new BatchListener
    c.spark.streams.addListener(l)
    val got = try t.span("pass")(t.span("stream")(run(c, i)))
      finally {
        org.apache.spark.perfbench.Bus.drain(c.spark.sparkContext)
        c.spark.streams.removeListener(l)
      }
    c.deleteDir(c.path(s"ckpt_$i"))
    check(c, got)
    val b = l.batchSeconds.sorted
    def pct(p: Int) = if (b.isEmpty) 0.0 else b(math.min(b.size - 1, (b.size * p + 99) / 100 - 1))
    Map("stream.batches" -> b.size.toDouble, "stream.batch_p50_s" -> pct(50),
      "stream.batch_p90_s" -> pct(90), "stream.state_rows" -> l.stateRows.toDouble)
  }
}
