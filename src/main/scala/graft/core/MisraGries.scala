package graft.core

import scala.collection.mutable

/**
 * Misra-Gries heavy-hitters summary — the core of the `topk_freq`
 * aggregate (functions.FreqAgg).
 *
 * The summary holds at most `capacity` (item, counter) pairs:
 *  - an unseen item over a full buffer decrements EVERY counter instead
 *    of inserting (the classic MG step, amortized O(1) — each decrement
 *    sweep is paid for by the `capacity` inserts before it);
 *  - summaries MERGE by pointwise sum, then subtracting the
 *    (capacity+1)-th largest counter and dropping non-positive entries —
 *    the mergeable-summaries form (Agarwal et al., PODS'12), which keeps
 *    the result a valid MG sketch across any combine tree.
 *
 * Guarantees: every item with true frequency > n/(capacity+1) survives,
 * and each reported estimate undercounts by at most n/(capacity+1).
 * When the distinct item count never exceeds `capacity`, no decrement
 * ever fires and all counts are EXACT.
 */
object MisraGries {

  /** Fold one item into the summary (mutates `buf`). */
  def add(buf: mutable.HashMap[String, Long], item: String, capacity: Int): Unit =
    buf.get(item) match {
      case Some(c) => buf.update(item, c + 1)
      case None if buf.size < capacity => buf.update(item, 1L)
      case None =>
        // decrement-all; drop zeros (frees slots for later inserts)
        val dead = mutable.ArrayBuffer.empty[String]
        buf.mapValuesInPlace((_, c) => c - 1)
        buf.foreach { case (s, c) => if (c <= 0) dead += s }
        dead.foreach(buf.remove)
        ()
    }

  /** Merge `b2` into `b1` (mutates and returns `b1`). */
  def mergeInto(b1: mutable.HashMap[String, Long],
      b2: collection.Map[String, Long], capacity: Int): mutable.HashMap[String, Long] = {
    b2.foreach { case (s, c) => b1.update(s, b1.getOrElse(s, 0L) + c) }
    if (b1.size > capacity) {
      // subtract the (capacity+1)-th largest counter from everything
      val counts = b1.values.toArray
      java.util.Arrays.sort(counts)
      val cut = counts(counts.length - capacity - 1)
      val dead = mutable.ArrayBuffer.empty[String]
      b1.mapValuesInPlace((_, c) => c - cut)
      b1.foreach { case (s, c) => if (c <= 0) dead += s }
      dead.foreach(b1.remove)
    }
    b1
  }

  /** Top `k` entries, (est DESC, item ASC) — deterministic under retries. */
  def topK(buf: collection.Map[String, Long], k: Int): Seq[(String, Long)] =
    buf.toArray.sortBy { case (s, c) => (-c, s) }.take(k).toSeq
}
