package graft.perfbench

import graft.ingest.{LogStyles, WebPagesGen}
import graft.pipeline.PipelineConfig
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded benchmark inputs. Every input is a row-id window `[seed * Stride, seed *
  * Stride + n)` of the program's own pure generators, so the same seed always gives
  * the same pages, ground truth and events, and different seeds give disjoint rows
  * of the same distribution.
  */
object Inputs {

  /** Window stride: far wider than any window, so windows of two seeds never overlap. */
  val Stride = 10000000L

  def start(seed: Long): Long = seed * Stride

  /** One log style as the benchmark runs it: its pipeline config, the url path segment
    * of its pages, the pure page text of a row and the ground-truth template of a line.
    */
  final case class Style(name: String, cfg: PipelineConfig, urlSegment: String,
                         text: Long => String, gt: (Long, Int) => Int)

  /** HDFS pages: `WebPagesGen.pageFor` — 10 of 200 domains own 60% of rows. */
  val Hdfs: Style = Style("hdfs", PipelineConfig.hdfs, "p",
    rowId => WebPagesGen.pageFor(rowId).text, WebPagesGen.templateIdFor)

  /** The 16 styles of the product's PA sweep (`log_pa_by_style`): HDFS + LogStyles.all. */
  val styles: Seq[Style] = Hdfs +: LogStyles.all.map { spec =>
    Style(spec.style.name,
      PipelineConfig(spec.style.logFormat, spec.style.rexes, st = spec.style.st,
        depth = spec.style.depth),
      spec.style.name,
      rowId => (0 until WebPagesGen.linesPerPage(rowId))
        .map(LogStyles.lineFor(spec, rowId, _)._1).mkString("\n"),
      (rowId, l) => LogStyles.lineFor(spec, rowId, l)._2)
  }

  private def url(segment: String, rowId: Long): String =
    s"https://${WebPagesGen.domainFor(rowId)}/$segment/$rowId"

  /** Narrow pages (style, url, warc_ts, text) of each of `styles` over the seed's
    * window — the columns the pipeline and the streaming source read. One generator
    * job for all styles.
    */
  def pages(spark: SparkSession, styles: Seq[Style], seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    val s0 = start(seed)
    val gen = styles.map(s => (s.name, s.urlSegment, s.text)).toArray // the closure ships these
    spark.range(0, gen.length * n).as[Long].map { k =>
      val (name, segment, text) = gen((k / n).toInt)
      val rowId = s0 + k % n
      (name, url(segment, rowId), new java.sql.Timestamp(1704067200000L + (k % n) * 997L), text(rowId))
    }.toDF("style", "url", "warc_ts", "text")
  }

  /** Per-line ground truth (style, url, line_no, gt_id) for the same windows. */
  def groundTruth(spark: SparkSession, styles: Seq[Style], seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    val s0 = start(seed)
    val gen = styles.map(s => (s.name, s.urlSegment, s.gt)).toArray
    spark.range(0, gen.length * n).as[Long].flatMap { k =>
      val (name, segment, gt) = gen((k / n).toInt)
      val rowId = s0 + k % n
      val u = url(segment, rowId)
      (0 until WebPagesGen.linesPerPage(rowId)).map(l => (name, u, l, gt(rowId, l)))
    }.toDF("style", "url", "line_no", "gt_id")
  }

  /** Number of lines of `n` pages of the window (pure: no Spark job). */
  def lineCount(seed: Long, n: Long): Long = {
    val s0 = start(seed)
    (s0 until s0 + n).iterator.map(r => WebPagesGen.linesPerPage(r).toLong).sum
  }

  private val EventTypes = IndexedSeq("view", "click", "purchase", "signup", "error")

  /** An events table with the shape of the repository's testdata `events`: five uniform
    * event types, `user_id` in `[0, users)`, a 2-decimal `value`, increasing `ts` and a
    * `{"k": n}` props string. `users` keeps the testdata's ratio of 1.5 users per 100
    * rows, which the miner catalog queries' constructions are written for.
    */
  def events(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    val s0 = start(seed)
    val users = math.max(1L, n * 15 / 1000)
    spark.range(0, n).as[Long].map { i =>
      val h = WebPagesGen.mix(s0 + i, 77)
      def pick(k: Long, m: Long): Long = (WebPagesGen.mix(h, k) & Long.MaxValue) % m
      (i, new java.sql.Timestamp(1704067200000L + i * 259200L + pick(1, 259200L)),
        pick(2, users), EventTypes(pick(3, EventTypes.size).toInt),
        pick(4, 49002L).toDouble / 100.0, s"""{"k": ${pick(5, 100L)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }
}
