package graft.eval

import org.apache.spark.Partitioner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

/** Spark port of the reference's scoring entry point
  * (`utils/evaluator.py::evaluate/get_accuracy` ≈L20–110; SURVEY §2.4 A4, §3 E3;
  * §0.1 citation caveat).
  *
  * The reference relies on pandas positional index alignment between the groundtruth
  * and parsed CSVs — an implicit 1:1 join on line identity (J1). We make that an
  * explicit equi-join on the line key and never rely on row order.
  *
  * Metrics (pair-counting, Zhu et al. ICSE-SEIP 2019):
  *  - real_pairs     = Σ C(n,2) over groundtruth groups
  *  - parsed_pairs   = Σ C(n,2) over parsed groups
  *  - accurate_pairs = Σ C(n,2) over cells of the (parsed × groundtruth) contingency
  *  - precision = accurate/parsed, recall = accurate/real, F1 harmonic
  *  - Parsing Accuracy = fraction of lines in parsed groups that correspond 1:1 to a
  *    groundtruth group (same member set).
  */
object Evaluator {

  final case class Scores(precision: Double, recall: Double, f1: Double,
                          parsingAccuracy: Double, total: Long)

  /** The contingency table — also exposed as a queryable operator (SQL-expressible,
    * used by the harness oracle). Input needs columns `gt_id` and `event_id`, one row
    * per line (already joined on the line key).
    */
  def contingency(joined: DataFrame): DataFrame =
    joined.groupBy("event_id", "gt_id").agg(count(lit(1)).as("n"))

  /** One partition's share of the scores. The partition holds every contingency
    * cell of its events, so the per-event quantities are final here; only the
    * per-`gt_id` slices still need summing across partitions.
    */
  private[eval] final class Partial extends Serializable {
    var pairs = 0L       // Σ C(n,2) over cells
    var total = 0L       // Σ n
    var parsedPairs = 0L // Σ C(psize,2) over events
    val gts = mutable.HashMap.empty[Any, GtSlice]
  }

  /** One `gt_id` group as seen by one partition: its lines, its cells, and the
    * events that span it alone. `sole` counts events whose only cell is in this
    * group; `mixed` counts, by psize, events whose one non-null group is this one
    * and that also hold null-`gt_id` lines.
    */
  private[eval] final class GtSlice extends Serializable {
    var gsize = 0L
    var cells = 0L
    var sole = 0L
    var mixed = Map.empty[Long, Long]

    def addMixed(psize: Long, events: Long): Unit =
      mixed = mixed.updated(psize, mixed.getOrElse(psize, 0L) + events)

    def add(o: GtSlice): Unit = {
      gsize += o.gsize; cells += o.cells; sole += o.sole
      o.mixed.foreach { case (psize, events) => addMixed(psize, events) }
    }
  }

  /** One job, one shuffle: every line's (`event_id`, `gt_id`) cell is counted with a
    * map-side combine into partitions keyed by `event_id` alone, and each partition
    * folds the cells of its events into a [[Partial]]. The driver receives one record
    * per shuffle partition, each holding one slice per `gt_id` group the partition
    * saw, plus one `mixed` entry per event that pairs null-`gt_id` lines with exactly
    * one group (none when `gt_id` has no nulls). It never receives the contingency
    * itself, which grows with the corpus when unmatched lines get their own
    * self-template `event_id`.
    */
  def evaluate(joined: DataFrame): Scores = {
    var pairs, total, parsedPairs = 0L
    val gts = mutable.HashMap.empty[Any, GtSlice]
    partials(joined).foreach { p =>
      pairs += p.pairs; total += p.total; parsedPairs += p.parsedPairs
      p.gts.foreach { case (g, s) =>
        gts.get(g) match { case Some(acc) => acc.add(s); case None => gts(g) = s }
      }
    }
    var realPairs, accurateEvents = 0L
    gts.valuesIterator.foreach { s =>
      realPairs += pairCount(s.gsize)
      // 1:1 groups: an event spanning exactly one non-null gt group whose size
      // (null-gt_id lines included) equals that group's size.
      if (s.cells == 1 && s.sole == 1) accurateEvents += s.gsize
      accurateEvents += s.gsize * s.mixed.getOrElse(s.gsize, 0L)
    }

    val precision = if (parsedPairs == 0) 0.0 else pairs.toDouble / parsedPairs
    val recall = if (realPairs == 0) 0.0 else pairs.toDouble / realPairs
    val f1 = if (precision + recall == 0) 0.0
             else 2 * precision * recall / (precision + recall)
    Scores(precision, recall, f1, accurateEvents.toDouble / total, total)
  }

  private[eval] def partials(joined: DataFrame): Array[Partial] = {
    val byEvent = new EventPartitioner(
      joined.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    joined.select("event_id", "gt_id").rdd
      .map(r => ((key(r.get(0)), key(r.get(1))), 1L))
      .reduceByKey(byEvent, _ + _)
      .mapPartitions(cells => Iterator.single(fold(cells)))
      .collect()
  }

  /** Places a contingency cell by its event alone, so one partition sees every cell
    * of an event. */
  private final class EventPartitioner(val numPartitions: Int) extends Partitioner {
    def getPartition(cell: Any): Int =
      Math.floorMod(cell.asInstanceOf[(Any, Any)]._1.##, numPartitions)
  }

  private final class Event {
    var psize = 0L
    var span = 0 // non-null gt_id cells; count_distinct ignores nulls
    var gt: Any = null
    var nullGt = false
  }

  private def fold(cells: Iterator[((Any, Any), Long)]): Partial = {
    val p = new Partial
    val events = mutable.HashMap.empty[Any, Event]
    cells.foreach { case ((ev, g), n) =>
      p.pairs += pairCount(n)
      p.total += n
      val s = p.gts.getOrElseUpdate(g, new GtSlice)
      s.gsize += n
      s.cells += 1
      val e = events.getOrElseUpdate(ev, new Event)
      e.psize += n
      if (g == null) e.nullGt = true else { e.span += 1; e.gt = g }
    }
    events.valuesIterator.foreach { e =>
      p.parsedPairs += pairCount(e.psize)
      if (e.span == 1) {
        val s = p.gts(e.gt)
        if (e.nullGt) s.addMixed(e.psize, 1) else s.sole += 1
      }
    }
    p
  }

  /** Spark groups binary keys by content; the combine and the folds compare them by
    * value too. */
  private def key(v: Any): Any = v match {
    case b: Array[Byte] => ArraySeq.unsafeWrapArray(b)
    case other => other
  }

  private def pairCount(n: Long): Long = n * (n - 1) / 2
}
