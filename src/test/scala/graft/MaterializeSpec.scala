package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

/** The materialization seam's cluster story: `-Dgraft.materialize
  * .mode=reliable` must route every pin through a RELIABLE checkpoint
  * (survives executor loss) and produce bit-identical results to the
  * default executor-block mode. Proven on the most checkpoint-heavy
  * chain in the engine (MinHash pairs → iterative CC). */
class MaterializeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def clustersRows(): Seq[(Long, Long)] =
    Dedup.clustersBigStar(Dedup.minhashPairs(Tables.documents(spark, dir)))
      .orderBy(col("doc_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSeq

  test("reliable mode is bit-identical to local mode on the CC chain " +
      "and actually writes reliable checkpoints") {
    val local = clustersRows()
    withProp(Materialize.modeProp -> "reliable") {
      val reliable = clustersRows()
      assert(reliable === local)
      // the mode really engaged: a checkpoint dir was provisioned and
      // holds RDD checkpoint data from the run
      val ckptDir = spark.sparkContext.getCheckpointDir
      assert(ckptDir.isDefined, "reliable pin must provision a checkpoint dir")
      val root = new java.io.File(new java.net.URI(ckptDir.get).getPath)
        .getParentFile // per-app subdir lives under the provisioned root
      def hasRddDir(f: java.io.File): Boolean =
        f.isDirectory && (f.getName.startsWith("rdd-") ||
          Option(f.listFiles()).exists(_.exists(hasRddDir)))
      assert(hasRddDir(root),
        s"expected rdd-* checkpoint data under $root")
    }
  }

  test("withPins frees blocks pinned in scope and leaves outer pins intact") {
    import graft.Materialize.PinOps
    import spark.implicits._
    Materialize.releasePins(spark) // clean slate
    val outer = Seq(1, 2, 3).toDF("x").pin(eager = true)
    assert(outer.count() === 3)
    val outerIds = spark.sparkContext.getPersistentRDDs.keySet
    assert(outerIds.nonEmpty, "an eager local pin must register blocks")
    Materialize.withPins(spark) {
      val inner = Seq(4, 5).toDF("y").pin(eager = true)
      assert(inner.count() === 2)
      assert(spark.sparkContext.getPersistentRDDs.keySet.size > outerIds.size,
        "the scope's pin must be live inside the scope")
    }
    // scope exit: the inner pin is gone, the outer one untouched
    assert(spark.sparkContext.getPersistentRDDs.keySet === outerIds)
    assert(outer.count() === 3)
    Materialize.releasePins(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "releasePins must drop every remaining pin")
  }

  test("withPins releases pins when the body throws") {
    import graft.Materialize.PinOps
    import spark.implicits._
    Materialize.releasePins(spark)
    intercept[RuntimeException] {
      Materialize.withPins(spark) {
        Seq(1).toDF("x").pin(eager = true).count()
        throw new RuntimeException("boom")
      }
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("reliable mode: withPins deletes the scope's checkpoint files") {
    import graft.Materialize.PinOps
    import spark.implicits._
    withProp(Materialize.modeProp -> "reliable") {
      def rddDirs(): Set[String] =
        spark.sparkContext.getCheckpointDir.toSet[String].flatMap { d =>
          Option(new java.io.File(new java.net.URI(d).getPath).listFiles())
            .toSeq.flatten.map(_.getName).filter(_.startsWith("rdd-"))
        }
      val before = rddDirs()
      Materialize.withPins(spark) {
        Seq(1, 2).toDF("x").pin(eager = true).count()
        assert((rddDirs() -- before).nonEmpty,
          "an eager reliable pin must write rdd-* checkpoint data")
      }
      assert(rddDirs() === before,
        "scope exit must delete the scope's rdd-* checkpoint dirs")
    }
  }
}
