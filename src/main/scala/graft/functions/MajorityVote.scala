package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** The reference's majority-vote reduction (win_juice1.py:10-32 — per
  * pair, count 1-bits vs total, strict majority wins) as a typed
  * `Aggregator[IN, BUF, OUT]` — the algebraic form of a juice
  * executable (SURVEY §2.12): partial buffers merge associatively, so
  * Spark plans it partial+final like any built-in aggregate.
  *
  * Two callers: `q_majority_vote_typed` (as a UDAF over lineitem) and
  * the typed Condorcet stage-1 juice in `graft.workloads.Workloads.condorcet`
  * (via `groupByKey(...).agg(MajorityVote.toColumn)`), where the
  * map-side partial shuffles one tally per pair instead of every vote.
  */
object MajorityVote extends Aggregator[Boolean, (Long, Long), String] {
  override def zero: (Long, Long) = (0L, 0L)
  override def reduce(b: (Long, Long), vote: Boolean): (Long, Long) =
    (b._1 + (if (vote) 1L else 0L), b._2 + 1L)
  override def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
    (a._1 + b._1, a._2 + b._2)
  // win_juice1.py:29 — strict majority of 1-bits
  override def finish(b: (Long, Long)): String =
    if (2 * b._1 > b._2) "R" else "other"
  override def bufferEncoder: Encoder[(Long, Long)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
  override def outputEncoder: Encoder[String] = Encoders.STRING
}
