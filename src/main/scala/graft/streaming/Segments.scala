package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.Shim

/** Carried maintainer state as CHECKPOINTED SEGMENTS (round 16,
  * optimization guide §1.2/§5).
  *
  * The maintainers previously carried state as ONE eagerly
  * localCheckpointed frame, re-materializing the ENTIRE relation on
  * every micro-batch (`state = state.union(fresh).localCheckpoint()`):
  * O(total) blocks rewritten per drop, O(waves²) over a stream's life —
  * at 100 TB that is rewriting the whole index to ingest a drop, the
  * exact pathology the SnapTable manifest work solved with O(delta)
  * segment commits. This helper applies the same shape to in-session
  * stream state:
  *
  *  - [[append]] checkpoints ONLY the drop-sized delta (the fresh rows
  *    must materialize anyway — they reference the foreachBatch frame,
  *    which is only valid inside the callback);
  *  - [[view]] is ONE scan over the segments' checkpointed RDDs
  *    ([[Shim.checkpointUnion]]): block reads, no recompute, the monolithic
  *    carry's row multiset. One leaf keeps a same-shape query's generated
  *    code equal after an append, so Spark's codegen cache serves it;
  *  - every [[compactEvery]] appends the segments collapse into one
  *    checkpointed frame (the ContextCleaner reclaims the old blocks),
  *    bounding the segment count on an unbounded stream at amortized
  *    O(total/compactEvery) per drop. It keeps the segments' summed
  *    partitions, so nothing bounds the scan's task count yet.
  *
  * Restart/replay semantics are untouched: segments hold exactly the
  * rows the monolithic frame held, callers re-seed from persisted data
  * on restart, and idempotence still comes from the callers' anti-joins.
  */
private[graft] final class Segments private (
    private var segs: Vector[DataFrame], compactEvery: Int) {

  /** The full carried relation: one scan over the checkpointed segments. */
  def view: DataFrame = Shim.checkpointUnion(segs)

  /** Checkpoint `fresh` as a new segment (drop-sized write), compact if
    * the union is getting wide, and return the updated [[view]]. */
  def append(fresh: DataFrame): DataFrame =
    appendCheckpointed(fresh.localCheckpoint())

  /** [[append]] for a delta the CALLER already materialized (several
    * maintainers eagerly checkpoint the fresh rows anyway because two
    * per-batch consumers share them) — skips the second checkpoint. */
  def appendCheckpointed(seg: DataFrame): DataFrame = {
    segs = segs :+ seg
    if (segs.size > compactEvery) segs = Vector(view.localCheckpoint())
    view
  }

  /** Segment count, for specs asserting the compaction fires. */
  private[graft] def width: Int = segs.size
}

private[graft] object Segments {
  /** Bound on segment count before a compaction pass — wide enough that
    * compaction cost amortizes to a small constant per drop, narrow
    * enough that the per-segment work behind each view stays trivial. */
  final val DefaultCompactEvery = 32

  def apply(initial: DataFrame,
      compactEvery: Int = DefaultCompactEvery): Segments =
    new Segments(Vector(initial.localCheckpoint()), compactEvery)
}
