package graft.eval

import graft.SparkSuite
import graft.eval.Evaluator.Scores
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.util.Random

/** `Evaluator.evaluate` (one job: cells combined map-side and exchanged by
  * `event_id`, a per-partition fold) against the five-aggregate DataFrame
  * formulation it replaced, kept here as the reference. Every case is scored at 1, 3 and 7 shuffle
  * partitions and must match the reference bit for bit.
  */
class EvaluatorSpec extends SparkSuite {
  import spark.implicits._

  private val widths = Seq(1, 3, 7)

  private def atWidths(body: Int => Unit): Unit = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try widths.foreach { w =>
      spark.conf.set("spark.sql.shuffle.partitions", w.toString)
      body(w)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  /** Field-for-field, bit-for-bit; `==` on Scores would call NaN PA unequal to itself. */
  private def bits(s: Scores): Seq[Long] =
    Seq(s.precision, s.recall, s.f1, s.parsingAccuracy).map(java.lang.Double.doubleToLongBits) :+
      s.total

  private def assertMatchesReference(joined: DataFrame): Scores = {
    val want = EvaluatorSpec.reference(joined)
    atWidths { w =>
      val got = Evaluator.evaluate(joined)
      assert(bits(got) == bits(want), s"at $w shuffle partitions: $got != $want")
    }
    want
  }

  /** Lines drawn over `nGt` groups; with probability `faithful` a line's event
    * mirrors its group, otherwise it lands in one of `nEv` noise events. */
  private def lines(seed: Long, n: Int, nGt: Int, nEv: Int, faithful: Double): Seq[(Int, Int)] = {
    val rnd = new Random(seed)
    Seq.fill(n) {
      val g = rnd.nextInt(nGt)
      val e = if (rnd.nextDouble() < faithful) g else nGt + rnd.nextInt(nEv)
      (e, g)
    }
  }

  private val shapes = Seq( // (lines, gt groups, noise events, faithful share)
    (1, 1, 1, 1.0), (12, 3, 2, 0.8), (200, 40, 5, 0.9), (2000, 7, 30, 0.6), (3000, 200, 3, 0.95))

  test("string gt_id: equals the five-aggregate reference on seeded random tables") {
    for (((n, g, e, f), i) <- shapes.zipWithIndex; seed <- Seq(11L, 12L)) {
      val df = lines(seed * 100 + i, n, g, e, f).map { case (ev, gt) => (s"e$ev", s"g$gt") }
        .toDF("event_id", "gt_id")
      assertMatchesReference(df)
    }
  }

  test("binary keys group by content") {
    val rows = lines(41, 60, 20, 2, 0.9).map { case (ev, gt) =>
      (s"e$ev".getBytes("UTF-8"), s"g$gt".getBytes("UTF-8"))
    }
    val s = assertMatchesReference(rows.toDF("event_id", "gt_id"))
    assert(s.parsingAccuracy > 0.0)
  }

  test("int gt_id: equals the five-aggregate reference on seeded random tables") {
    for (((n, g, e, f), i) <- shapes.zipWithIndex; seed <- Seq(21L, 22L)) {
      val df = lines(seed * 100 + i, n, g, e, f).map { case (ev, gt) => (f"$ev%08x", gt) }
        .toDF("event_id", "gt_id")
      assertMatchesReference(df)
    }
  }

  test("empty input: zero pairs, NaN PA (the reference threw on its null total)") {
    val empty = Seq.empty[(String, String)].toDF("event_id", "gt_id")
    atWidths { _ =>
      val s = Evaluator.evaluate(empty)
      assert(s.precision == 0.0 && s.recall == 0.0 && s.f1 == 0.0 && s.total == 0L)
      assert(s.parsingAccuracy.isNaN)
    }
    val err = intercept[Exception](EvaluatorSpec.reference(empty))
    assert(err.getMessage.contains("ROW_VALUE_IS_NULL"))
  }

  test("one event spanning many gt groups; one gt group split over many events") {
    val wide = (0 until 50).flatMap(g => Seq.fill(1 + g % 3)(("wide", s"g$g")))
    val split = (0 until 80).map(e => (s"part$e", "split"))
    val exact = (0 until 30).flatMap(g => Seq.fill(2 + g % 4)((s"x$g", s"h$g")))
    val s = assertMatchesReference((wide ++ split ++ exact).toDF("event_id", "gt_id"))
    assert(s.parsingAccuracy == exact.size.toDouble / (wide.size + split.size + exact.size))
  }

  test("every line its own event_id (self-templates): the driver gets per-gt_id slices only") {
    val nGt = 25
    val rnd = new Random(7)
    // 40k unmatched lines, each its own event; plus singleton gt groups, which are 1:1
    val df = ((0 until 40000).map(i => (s"self$i", s"g${rnd.nextInt(nGt)}")) ++
      (0 until 10).map(i => (s"solo$i", s"single$i"))).toDF("event_id", "gt_id")
    val s = assertMatchesReference(df)
    assert(s.parsingAccuracy == 10.0 / 40010)
    atWidths { w =>
      val parts = Evaluator.partials(df)
      assert(parts.length <= w)
      assert(parts.forall(_.gts.size <= nGt + 10))
      assert(parts.map(_.total).sum == 40010L)
    }
  }

  test("null gt_id / event_id rows: count_distinct ignores nulls, groupBy keeps them") {
    // two events each pair one group with null-gt_id lines: both have psize == gsize
    val mixed = Seq(("m1", Some("g")), ("m1", None), ("m2", Some("g")), ("m2", None))
    val hand = mixed.map { case (e, g) => (Option(e), g) } ++
      Seq((None, Some("n")), (None, Some("n"))) // the null event is 1:1 with group n
    val h = assertMatchesReference(hand.toDF("event_id", "gt_id"))
    assert(h.parsingAccuracy == 1.0)

    for (((n, g, e, f), i) <- shapes.zipWithIndex; seed <- Seq(31L, 32L)) {
      val rnd = new Random(seed * 7 + i)
      val rows = lines(seed * 100 + i, n, g, e, f).map { case (ev, gt) =>
        (if (rnd.nextDouble() < 0.1) None else Some(s"e$ev"),
         if (rnd.nextDouble() < 0.15) None else Some(gt))
      }
      assertMatchesReference(rows.toDF("event_id", "gt_id"))
    }
  }
}

object EvaluatorSpec {

  /** The scorer as it stood before the one-pass fold: five aggregates over a
    * one-partition cached contingency, assembled with three cross joins. */
  def reference(joined: DataFrame): Scores = {
    val cont = Evaluator.contingency(joined).coalesce(1).persist()
    try {
      val gtAgg = cont.groupBy("gt_id").agg(sum("n").as("gsize"))
      val parsedAgg = cont.groupBy("event_id")
        .agg(count_distinct(col("gt_id")).as("span"), sum("n").as("psize"),
             max("gt_id").as("gt1"))
      val accurate = parsedAgg.filter(col("span") === 1)
        .join(gtAgg, parsedAgg("gt1") === gtAgg("gt_id"))
        .filter(col("psize") === col("gsize"))
        .agg(coalesce(sum("psize"), lit(0L)).as("accurate"))
      val row = cont.agg(pairSumCol("n").as("pairs"), sum("n").as("total"))
        .crossJoin(gtAgg.agg(pairSumCol("gsize").as("real_pairs")))
        .crossJoin(parsedAgg.agg(pairSumCol("psize").as("parsed_pairs")))
        .crossJoin(accurate)
        .collect()(0)
      val pairs = row.getLong(0)
      val total = row.getLong(1)
      val realPairs = row.getLong(2)
      val parsedPairs = row.getLong(3)
      val accurateEvents = row.getLong(4)

      val precision = if (parsedPairs == 0) 0.0 else pairs.toDouble / parsedPairs
      val recall = if (realPairs == 0) 0.0 else pairs.toDouble / realPairs
      val f1 = if (precision + recall == 0) 0.0
               else 2 * precision * recall / (precision + recall)
      Scores(precision, recall, f1, accurateEvents.toDouble / total, total)
    } finally cont.unpersist()
  }

  private def pairSumCol(sizeCol: String): Column =
    coalesce(sum(col(sizeCol) * (col(sizeCol) - 1) / 2), lit(0L)).cast("long")
}
