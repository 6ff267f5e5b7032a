package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The one keyed-state operator behind the streaming twins (all but
  * [[SessionState]], which needs an event-time timeout): rows group by
  * `key`, and per key a pure `fold` turns the stored carry plus this
  * trigger's rows into the next carry and the rows to emit.
  *
  * The carry lives in a `GroupState` (`flatMapGroupsWithState`, Append,
  * no timeout), which runs on every state-store provider; over a batch
  * Dataset each key folds once, with no store at all. A `None` carry
  * leaves the stored one as it was.
  *
  * No ordering policy: a trigger's rows reach `fold` in arrival order,
  * and a fold that needs event order sorts them itself. */
object KeyedFold {

  def apply[I, K: Encoder, C: Encoder, O: Encoder](in: Dataset[I], key: I => K)(
      fold: (K, Option[C], Iterator[I]) => (Option[C], Iterator[O])): Dataset[O] =
    in.groupByKey(key).flatMapGroupsWithState[C, O](OutputMode.Append,
        GroupStateTimeout.NoTimeout) { (k, rows, state: GroupState[C]) =>
      val (next, out) = fold(k, state.getOption, rows)
      next.foreach(state.update)
      out
    }
}
