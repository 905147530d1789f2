package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** One scored candidate for bounded top-k selection. */
case class Scored(qId: Long, score: Double, vecId: Long)

/** Aggregation buffer/output: at most k candidates, best first. */
case class TopKBuf(items: Seq[Scored])

/** Bounded top-k selection as a typed `Aggregator` — the shape that
  * survives batch kNN at 100 TB: the buffer holds AT MOST k rows, so
  * map-side partial aggregation reduces each partition's contribution
  * to k candidates per query BEFORE the shuffle, and the exchange
  * carries O(partitions × k) rows per query instead of the full n×q
  * candidate set a `row_number` ranking window would sort and shuffle.
  *
  * Deterministic under any reduce/merge order: candidates are kept
  * under the total order (score DESC, vecId ASC) — vecIds are unique,
  * so ties cannot reorder — which is also the output order (rank 1
  * first). Scores compare via java.lang.Double.compare, whose NaN-total
  * order keeps `better` a strict weak order even if a degenerate
  * embedding (zero norm → cosine 0/0 = NaN) enters: primitive `>` is
  * false BOTH ways against NaN, which would make placement
  * insertion-order dependent and the oracle-checked output
  * nondeterministic. Under Double.compare, NaN sorts as the largest
  * score, surfacing the degenerate input at rank 1 instead of hiding it
  * somewhere order-dependent.
  */
class TopKAggregator(k: Int) extends Aggregator[Scored, TopKBuf, TopKBuf] {
  require(k > 0, "k must be positive")

  private def better(a: Scored, b: Scored): Boolean = {
    val c = java.lang.Double.compare(a.score, b.score)
    c > 0 || (c == 0 && a.vecId < b.vecId)
  }

  override def zero: TopKBuf = TopKBuf(Vector.empty)

  override def reduce(b: TopKBuf, in: Scored): TopKBuf =
    if (b.items.size >= k && better(b.items.last, in)) b
    else {
      // the buffer is ALREADY sorted — insert at the binary-search
      // position instead of re-sorting the whole buffer per accepted
      // row (this is the map-side hot path: one reduce per corpus row
      // per query in batch kNN; the append+TimSort+take shape allocated
      // three collections and O(k log k) comparisons per row)
      val items = b.items
      var lo = 0
      var hi = items.size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (better(items(mid), in)) lo = mid + 1 else hi = mid
      }
      val patched = (items.take(lo) :+ in) ++ items.drop(lo)
      TopKBuf(if (patched.size > k) patched.dropRight(1) else patched)
    }

  override def merge(a: TopKBuf, b: TopKBuf): TopKBuf =
    if (a.items.isEmpty) b
    else if (b.items.isEmpty) a
    else TopKBuf((a.items ++ b.items).sortWith(better).take(k))

  override def finish(r: TopKBuf): TopKBuf = r

  override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  override def outputEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]

  /** Stable across runs: plans print the aggregator by this name. */
  override def toString: String = s"TopKAggregator(k=$k)"
}
