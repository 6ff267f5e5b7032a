package graft

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.Materialize.PinOps

/** The engine's one convergent loop: iterate `step` over a frame until
  * a per-round signature stops changing, pinning every round so the
  * plan cannot grow with the round count.
  *
  * Why one combinator: the per-round cost of these loops is dominated
  * by the fixed price of a SQL execution, not by per-row work. Each
  * round therefore takes its convergence signature with
  * `Dataset.observe` INSIDE the pin's own job — the checkpoint and the
  * aggregate are one execution, where a pin followed by `count()` is
  * two. The only exception is the `none` Materialize mode: there the
  * pin runs no job, so no observation would ever fire, and the
  * signature is computed with a plain aggregate instead.
  *
  * Callers: the k-core peel (`Similarity.kcoreEdges`, two layers per
  * round), the k-truss peel (`Similarity.ktrussPeel`), the BFS census
  * (`Similarity.bfsCensus`, four layers per round), big-star connected
  * components (`Dedup.clustersBigStar`) and label propagation
  * (`Dedup.clusters`).
  *
  * Small inputs skip the distributed rounds altogether: when the first
  * observed row count is at most [[Local.maxRows]], the caller's local
  * step finishes the fixpoint in one task (the CC analog of a broadcast
  * threshold — below it every round is pure scheduling latency).
  *
  * Contract for callers:
  *   - `step` must reach a fixpoint, and the signature of two
  *     consecutive states must be equal exactly when the state stopped
  *     changing. For monotone loops (a set that only shrinks or only
  *     grows, labels that only decrease) [[rows]] or [[checksum]] gives
  *     that.
  *   - `layers > 1` applies `step` that many times per pinned round. It
  *     is exact only for monotone steps, where an unchanged signature
  *     across several layers forces every layer in between to be
  *     unchanged too.
  *   - the empty state is a fixpoint (every operator here maps empty
  *     to empty), so an empty first state returns at once.
  */
object Fixpoint {

  /** Aggregates over one round's state whose values are equal for two
    * consecutive rounds exactly when the state stopped changing. The
    * first aggregate is always the row count. */
  final case class Measure(aggs: Seq[Column])

  /** Row count: the signature of a set that only ever shrinks, or
    * only ever grows. */
  val rows: Measure = Measure(Seq(count(lit(1))))

  /** Row count plus an order-insensitive `bit_xor` of per-row hashes:
    * detects a rewritten set whose size stayed the same. */
  def checksum(cols: Column*): Measure = Measure(Seq(count(lit(1)),
    coalesce(bit_xor(xxhash64(cols: _*)), lit(0L))))

  /** A single-task finish: when the first state has at most `maxRows`
    * rows, `finish` maps it to the fixpoint state (same schema) in one
    * task instead of running the distributed rounds. */
  final case class Local(maxRows: Long, finish: DataFrame => DataFrame)

  /** How long a pinned round waits for its observation before it falls
    * back to a separate aggregate. Observations arrive on the listener
    * bus, normally within milliseconds of the pin's job. */
  private val observeWait = 30.seconds

  /** The pinned first state of a loop with its signature. Callers that
    * also read the first state (initial degrees, initial support) read
    * `frame`, so it is pinned once. */
  final case class Start(frame: DataFrame, sig: Seq[Any], measure: Measure) {
    def rowCount: Long = sig.head.asInstanceOf[Long]
  }

  /** Pin `init` eagerly and take its signature under `measure`, inside
    * the pin's own job where the pin runs one. */
  def start(init: DataFrame, measure: Measure = rows): Start = {
    def aggregate(d: DataFrame): Seq[Any] =
      d.agg(measure.aggs.head, measure.aggs.tail: _*).head().toSeq
    if (!Materialize.pinRunsJob) {
      val frame = init.pin(eager = true)
      Start(frame, aggregate(frame), measure)
    } else {
      val obs = Observation()
      val frame = init.observe(obs, measure.aggs.head, measure.aggs.tail: _*)
        .pin(eager = true)
      val sig =
        try Await.result(obs.future, observeWait).toSeq
        catch { case _: java.util.concurrent.TimeoutException => aggregate(frame) }
      Start(frame, sig, measure)
    }
  }

  /** Iterate `step` from `s0` to its fixpoint and return the final
    * state: pinned from the distributed rounds, or the lazy result of
    * `local`. Fails past `maxRounds` single-step layers, naming `name`
    * and the last signature. */
  def apply(name: String, s0: Start, maxRounds: Int, layers: Int = 1,
      local: Option[Local] = None)(step: DataFrame => DataFrame): DataFrame = {
    require(layers >= 1, s"$name: layers must be >= 1, got $layers")
    if (local.exists(l => s0.rowCount <= l.maxRows))
      return local.get.finish(s0.frame)
    var cur = s0
    var converged = s0.rowCount == 0L
    var rounds = 0
    while (!converged) {
      rounds += layers
      if (rounds > maxRounds) throw new IllegalStateException(
        s"$name did not converge within $maxRounds rounds (signature " +
          s"${cur.sig.mkString("(", ", ", ")")} still changing)")
      val next = start((1 to layers).foldLeft(cur.frame)((s, _) => step(s)),
        s0.measure)
      converged = next.sig == cur.sig
      cur = next
    }
    cur.frame
  }
}
