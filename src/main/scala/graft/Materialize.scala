package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** The engine's single materialization seam — every operator that cuts
  * lineage / pins a reused intermediate calls `.pin(...)` from here
  * instead of `Dataset.localCheckpoint` directly.
  *
  * Why a seam: `localCheckpoint` stores blocks on executors with NO
  * replication and NO recompute path (lineage is truncated). On
  * `local[n]` and on a healthy long-lived cluster that is the cheapest
  * correct choice; on a 1000-executor cluster with preemptible /
  * autoscaled executors, one lost executor fails the whole job. The
  * cluster operator flips ONE switch instead of auditing ~40 call
  * sites:
  *
  *   - `-Dgraft.materialize.mode=local` (default): executor-block
  *     `localCheckpoint` — zero-infra, fastest.
  *   - `-Dgraft.materialize.mode=reliable`: `Dataset.checkpoint` to the
  *     SparkContext checkpoint dir (HDFS/object store in production —
  *     set `spark.checkpoint.dir` or call `setCheckpointDir`). Survives
  *     executor loss; costs one write+read of the pinned frame. A local
  *     temp dir is auto-provisioned ONLY under a `local[*]` master
  *     (where the driver's filesystem IS every executor's filesystem,
  *     so the mode is testable anywhere); on a real cluster an unset
  *     checkpoint dir fails fast instead of silently writing
  *     driver-local "reliable" checkpoints no executor could re-read —
  *     exactly the deployment the mode exists for.
  *
  * Both modes produce bit-identical results (MaterializeSpec proves it
  * on the iterative CC chain) — the choice is purely a
  * fault-tolerance/cost trade. Iterative operators (big-star CC,
  * k-means, PageRank) MUST pin each round whatever the mode: without a
  * lineage cut the plan doubles per iteration.
  *
  * Pin hygiene: pinned blocks (and reliable-mode checkpoint files)
  * outlive the query that made them — a long-lived session running many
  * self-contained queries accumulates orphaned state until the block
  * manager fills (measured in round 5: a 2.9 s query decayed to 19.8 s
  * from OTHER queries' leftovers). [[withPins]] scopes that cleanup to
  * any caller; [[releasePins]] is the between-queries form Bench/Verify
  * use.
  */
object Materialize {
  val modeProp = "graft.materialize.mode"
  private def mode: String = sys.props.getOrElse(modeProp, "local")

  /** Whether an eager pin runs a job in the current mode (it does not
    * in `none`) — [[Fixpoint]] observes its round signatures in that job. */
  private[graft] def pinRunsJob: Boolean = mode != "none"

  implicit class PinOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** Materialize this frame as the configured mode's checkpoint.
      * `eager = false` defers the job to the first downstream action
      * (use when the frame might not be consumed on every path; use
      * `eager = true` when the cut must happen BEFORE a side effect —
      * e.g. reading a path the caller is about to overwrite). */
    def pin(eager: Boolean = false): Dataset[T] = {
      // dev seam: -Dgraft.explain.pins=true prints every pinned
      // subchain's physical plan — the only way to SEE what a
      // checkpoint materializes (the final query plan shows pinned
      // frames as opaque `Scan ExistingRDD`). Used by the round-12
      // plans/r12 evidence dumps.
      if (sys.props.get("graft.explain.pins").contains("true")) {
        println(s"=== pinned subplan (eager=$eager) ===")
        println(ds.queryExecution.executedPlan.toString)
      }
      pinImpl(eager)
    }

    private def pinImpl(eager: Boolean): Dataset[T] = mode match {
      // dev/test escape hatch: identity pin, so plan-inspection specs
      // can see THROUGH materialization boundaries (a checkpoint wraps
      // everything upstream in a LogicalRDD, hiding scans from the
      // final plan). Never the right production mode: the iterative
      // operators rely on pins for lineage truncation.
      case "none" => ds
      case "reliable" =>
        val sc = ds.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) {
          require(sc.isLocal,
            s"reliable materialization needs a cluster-visible checkpoint " +
              s"dir: set spark.checkpoint.dir / setCheckpointDir (a " +
              s"driver-local temp dir is only valid under local[*] masters)")
          sc.setCheckpointDir(
            java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
        }
        ds.checkpoint(eager)
      case _ => ds.localCheckpoint(eager)
    }
  }

  /** The `rdd-*` checkpoint directories currently under the session's
    * checkpoint dir. Reliable-mode pins are tracked at the FILESYSTEM,
    * not via `getPersistentRDDs`: a reliable `Dataset.checkpoint` marks
    * its RDD for checkpointing without persisting it, so the block
    * manager never hears about it — only the `rdd-<id>` directory
    * exists to find and free. */
  private def checkpointEntries(spark: SparkSession): Set[String] =
    if (mode != "reliable") Set.empty
    else spark.sparkContext.getCheckpointDir.toSet[String].flatMap { dir =>
      val base = new org.apache.hadoop.fs.Path(dir)
      val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Option(fs.globStatus(new org.apache.hadoop.fs.Path(base, "rdd-*")))
        .toSeq.flatten.map(_.getPath.getName)
    }

  private def deleteCheckpointEntries(spark: SparkSession,
      names: Set[String]): Unit =
    if (mode == "reliable" && names.nonEmpty)
      spark.sparkContext.getCheckpointDir.foreach { dir =>
        val base = new org.apache.hadoop.fs.Path(dir)
        val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
        names.foreach { n =>
          val p = new org.apache.hadoop.fs.Path(base, n)
          if (fs.exists(p)) fs.delete(p, true)
        }
      }

  /** Release every pin on this session: unpersist all persistent RDD
    * blocks and, in reliable mode, delete all checkpoint data. Callers
    * assert their work is self-contained (nothing pinned is still
    * needed) — the between-self-contained-queries cleanup that Bench
    * and Verify run so 145 queries × trials can't fill the block
    * manager (or, in reliable mode, the checkpoint dir) with orphans. */
  def releasePins(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    deleteCheckpointEntries(spark, checkpointEntries(spark))
  }

  /** Scoped pin hygiene for ANY caller, not just the harness: pins
    * created inside `body` (blocks + reliable-mode checkpoint files)
    * are released when the scope exits, success or failure; pins that
    * existed before the scope are left untouched, so scopes nest.
    * (Scoping is diff-based — concurrent pinning from OTHER threads
    * during the scope would be swept with it; use [[releasePins]]
    * semantics deliberately in that case.) */
  def withPins[A](spark: SparkSession)(body: => A): A = {
    val sc = spark.sparkContext
    val beforeIds = sc.getPersistentRDDs.keySet.toSet
    val beforeCkpts = checkpointEntries(spark)
    try body
    finally {
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!beforeIds(id)) rdd.unpersist(blocking = false)
      }
      deleteCheckpointEntries(spark, checkpointEntries(spark) -- beforeCkpts)
    }
  }
}
