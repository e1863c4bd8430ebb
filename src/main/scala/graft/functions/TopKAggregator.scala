package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Single-pass per-group top-k (SURVEY.md §7.3's optional Aggregator):
  * a typed `Aggregator` whose buffer is a bounded, sorted list — Spark
  * runs it with map-side partial aggregation, so each upstream
  * partition ships AT MOST k rows per group into the shuffle instead
  * of every candidate (the window/row_number formulation sorts entire
  * groups after a full shuffle).
  *
  * At 100 TB kNN this is the difference between shuffling
  * |corpus| rows and shuffling k·partitions rows. The window variant
  * stays the oracle (`q_knn_batch`); TopKSpec proves them equivalent.
  *
  * Ordering: score desc, then id asc — the engine's global
  * deterministic tie-break.
  */
class TopKAggregator(k: Int)
    extends Aggregator[(Long, Double), Seq[(Long, Double)], Seq[(Long, Double)]] {

  private def better(a: (Long, Double), b: (Long, Double)): Boolean =
    TopKAggregator.better(a._1, a._2, b._1, b._2)

  override def zero: Seq[(Long, Double)] = Seq.empty

  override def reduce(buf: Seq[(Long, Double)],
      x: (Long, Double)): Seq[(Long, Double)] = insert(buf, x)

  override def merge(a: Seq[(Long, Double)],
      b: Seq[(Long, Double)]): Seq[(Long, Double)] =
    b.foldLeft(a)(insert)

  private def insert(buf: Seq[(Long, Double)],
      x: (Long, Double)): Seq[(Long, Double)] = {
    if (buf.length == k && !better(x, buf.last)) buf
    else {
      val (before, after) = buf.span(better(_, x))
      (before :+ x) ++ after.take(k - before.length - 1)
    }
  }

  override def finish(buf: Seq[(Long, Double)]): Seq[(Long, Double)] = buf

  override def bufferEncoder: Encoder[Seq[(Long, Double)]] =
    ExpressionEncoder[Seq[(Long, Double)]]()
  override def outputEncoder: Encoder[Seq[(Long, Double)]] =
    ExpressionEncoder[Seq[(Long, Double)]]()
}

object TopKAggregator {
  /** The aggregator's order: score desc, then id asc. */
  def better(aId: Long, aScore: Double, bId: Long, bScore: Double): Boolean =
    aScore > bScore || (aScore == bScore && aId < bId)

  /** Column form for `Dataset.groupByKey(...).agg(...)`. */
  def topK(k: Int) = new TopKAggregator(k).toColumn

  /** Untyped-udaf form for `DataFrame.groupBy(...).agg(...)`. Same
    * bounded buffer and ordering; the difference is plan shape: the
    * typed `groupByKey` route inserts a DeserializeToObject boundary
    * that materializes EVERY input row as a Scala tuple before the
    * aggregate, while the udaf rides ObjectHashAggregate directly over
    * Tungsten rows — upstream projections and joins stay codegen'd. */
  def topKUdaf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new TopKAggregator(k),
      ExpressionEncoder[(Long, Double)]())
}

/** The keep-k-SMALLEST sibling of [[TopKAggregator]], ordered
  * lexicographically on a `(Long, Long)` pair — the shape of "k
  * smallest keyed hashes per stratum" sampling (hash asc, id asc as
  * the tie-break). Same map-side partial-aggregation property: each
  * upstream partition ships at most k pairs per group into the
  * shuffle, where the window/row_number formulation shuffles every
  * row of the stratum and sorts it in one task. Exact-integer
  * ordering end-to-end (no Double cast — a 60-bit hash does not fit a
  * 53-bit mantissa), so the result is identical to the window plan. */
class MinKPairAggregator(k: Int)
    extends Aggregator[(Long, Long), Seq[(Long, Long)], Seq[(Long, Long)]] {

  private def smaller(a: (Long, Long), b: (Long, Long)): Boolean =
    MinKPairAggregator.smaller(a._1, a._2, b._1, b._2)

  override def zero: Seq[(Long, Long)] = Seq.empty

  override def reduce(buf: Seq[(Long, Long)],
      x: (Long, Long)): Seq[(Long, Long)] = insert(buf, x)

  override def merge(a: Seq[(Long, Long)],
      b: Seq[(Long, Long)]): Seq[(Long, Long)] =
    b.foldLeft(a)(insert)

  private def insert(buf: Seq[(Long, Long)],
      x: (Long, Long)): Seq[(Long, Long)] = {
    if (buf.length == k && !smaller(x, buf.last)) buf
    else {
      val (before, after) = buf.span(smaller(_, x))
      (before :+ x) ++ after.take(k - before.length - 1)
    }
  }

  override def finish(buf: Seq[(Long, Long)]): Seq[(Long, Long)] = buf

  override def bufferEncoder: Encoder[Seq[(Long, Long)]] =
    ExpressionEncoder[Seq[(Long, Long)]]()
  override def outputEncoder: Encoder[Seq[(Long, Long)]] =
    ExpressionEncoder[Seq[(Long, Long)]]()
}

object MinKPairAggregator {
  /** The aggregator's order: first component asc, then second asc. */
  def smaller(a1: Long, a2: Long, b1: Long, b2: Long): Boolean =
    a1 < b1 || (a1 == b1 && a2 < b2)

  /** Column form for `Dataset.groupByKey(...).agg(...)`. */
  def minK(k: Int) = new MinKPairAggregator(k).toColumn

  /** Untyped-udaf form for `DataFrame.groupBy(...).agg(...)` — lets
    * the bounded k-smallest buffer ride the SAME aggregate exec as
    * sibling metrics (`count`, `sum`), so a multi-metric report stays
    * one pass over its input instead of one pass per consumer joined
    * back together. Same reduce/merge, same exact-integer ordering. */
  def minKUdaf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new MinKPairAggregator(k),
      ExpressionEncoder[(Long, Long)]())
}
