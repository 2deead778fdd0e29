package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The keyed state fold of the timeout-free streaming twins: each
  * trigger's rows for a key fold into its state (`zero` at first), the
  * state is stored and one row is emitted from it; the latest row per
  * key wins downstream. The state is what the batch twin's answer is
  * recomputed from (a count map, moment sums, a bottom-k set), so it is
  * sized by the key's vocabulary, not its events, and the latest row
  * equals the batch twin after any trigger chop. Keys are never
  * evicted; that needs an event-time timeout ([[StatefulSessions]]).
  *
  * A call that brings no rows emits nothing and leaves the state
  * untouched. Under `NoTimeout` Spark calls only keys with new rows, so
  * only a direct call can bring none.
  */
private[graft] final class KeyedFold[K, V, S, U](zero: S,
    fold: (S, Iterator[V]) => S, emit: (K, S) => U) extends Serializable {

  /** `rows` grouped by `key`, one [[apply]] per key and trigger. */
  def over(rows: Dataset[V])(key: V => K)(implicit k: Encoder[K],
      s: Encoder[S], u: Encoder[U]): Dataset[U] =
    rows.groupByKey(key).flatMapGroupsWithState(OutputMode.Append,
      GroupStateTimeout.NoTimeout)(apply _)

  /** One trigger for one key. */
  def apply(key: K, rows: Iterator[V], state: GroupState[S]): Iterator[U] =
    if (!rows.hasNext) Iterator.empty
    else {
      val s = fold(state.getOption.getOrElse(zero), rows)
      state.update(s)
      Iterator.single(emit(key, s))
    }
}

private[graft] object KeyedFold {
  def apply[K, V, S, U](zero: S)(fold: (S, Iterator[V]) => S)(
      emit: (K, S) => U) = new KeyedFold(zero, fold, emit)

  /** A fold that adds one to the count of each row's `of` value. */
  def countBy[V, C](of: V => C)(counts: Map[C, Long],
      rows: Iterator[V]): Map[C, Long] =
    rows.map(of).foldLeft(counts)((m, c) => m.updated(c, m.getOrElse(c, 0L) + 1L))
}
