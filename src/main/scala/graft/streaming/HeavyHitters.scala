package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** One tracked entry of the space-saving summary: estimated count and
  * the maximum overestimation error inherited at insertion. */
case class HhEntry(user_id: Long, est_count: Long, max_err: Long)

/** Per-trigger emission: the shard's current summary (one row per
  * tracked key). The newest trigger's rows supersede older ones —
  * downstream keeps max(est_count) per user or reads the last batch. */
case class HhRow(shard: Long, user_id: Long, est_count: Long,
    max_err: Long)

/** Input projection for the heavy-hitters stream. */
case class HhEvent(user_id: Long)

/** Streaming heavy hitters via the space-saving algorithm (Metwally,
  * Agrawal, El Abbadi 2005 — "Efficient computation of frequent and
  * top-k elements in data streams") as a keyed fold: each shard's carry
  * tracks at most [[HeavyHitters.capacity]] candidate keys; an unseen
  * key arriving at a full summary EVICTS the minimum-count entry and
  * inherits its count as the new entry's error bound. The classic
  * guarantees hold per shard: any key with true count >
  * N_shard / capacity is present, and for every tracked key
  * `est − err ≤ true ≤ est`.
  *
  * Sharding makes it distributed: keys hash into
  * [[HeavyHitters.shards]] disjoint shards (a key always lands in its
  * own shard, so per-key estimates never split), state per shard is a
  * CONSTANT `capacity` entries regardless of stream volume — the whole
  * operator's state is shards × capacity rows, the property that lets
  * it run forever at any event rate. Eviction ties break
  * deterministically by (count, user_id); events fold in arrival
  * order.
  *
  * Like the other twins, the same fold runs in batch mode for the
  * parity spec — no state store needed there. */
object HeavyHitters {

  /** Summary capacity per shard (error bound: N_shard / capacity). */
  val capacity = 8

  /** Disjoint hash shards — state is shards × capacity, constant. */
  val shards = 4

  private[streaming] def fold(cap: Int)(shard: Long,
      start: Option[Map[Long, HhEntry]],
      rows: Iterator[HhEvent]): (Option[Map[Long, HhEntry]], Iterator[HhRow]) = {
    var m = start.getOrElse(Map.empty[Long, HhEntry])
    rows.foreach { e =>
      m.get(e.user_id) match {
        case Some(cur) =>
          m = m.updated(e.user_id, cur.copy(est_count = cur.est_count + 1))
        case None if m.size < cap =>
          m = m.updated(e.user_id, HhEntry(e.user_id, 1L, 0L))
        case None =>
          val victim = m.values.minBy(v => (v.est_count, v.user_id))
          m = (m - victim.user_id).updated(e.user_id,
            HhEntry(e.user_id, victim.est_count + 1, victim.est_count))
      }
    }
    (Some(m), m.values.toSeq.sortBy(v => (-v.est_count, v.user_id))
      .map(v => HhRow(shard, v.user_id, v.est_count, v.max_err)).iterator)
  }

  /** Attach space-saving tracking (stream or batch input). Emits each
    * shard's full current summary per trigger. */
  def track(events: Dataset[HhEvent],
      cap: Int = capacity): Dataset[HhRow] = {
    import events.sparkSession.implicits._
    implicit val summary: Encoder[Map[Long, HhEntry]] =
      Encoders.kryo[Map[Long, HhEntry]]
    KeyedFold(events, (e: HhEvent) => math.floorMod(e.user_id, shards.toLong))(
      fold(cap))
  }
}
