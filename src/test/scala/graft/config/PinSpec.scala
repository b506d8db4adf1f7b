package graft.config

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** The scale-aware pin switch (round 18): `spark.graft.pin.reliable`
  * routes every engine pin through a RELIABLE `Dataset.checkpoint`
  * (survives executor loss) instead of `localCheckpoint`. The contract
  * under test: identical results either way, and the reliable path
  * actually writes to the checkpoint directory. */
class PinSpec extends SparkFunSuite {

  /** Runs `body` with reliable pins into a fresh checkpoint dir, then
    * restores the flag and the previous dir, so each test passes alone
    * and in any order. Spark has no public way to unset the dir, so a
    * session that had none keeps the fresh one. */
  private def reliablePins[A](body: String => A): A = {
    val sc = spark.sparkContext
    // getCheckpointDir is the per-context subdirectory Spark made under
    // the dir it was given; setting that parent again restores the base
    val prev = sc.getCheckpointDir.map(p => new java.io.File(p).getParent)
    val dir = java.nio.file.Files.createTempDirectory("graft_pin_spec")
      .toString
    sc.setCheckpointDir(dir)
    spark.conf.set("spark.graft.pin.reliable", "true")
    try body(dir)
    finally {
      spark.conf.set("spark.graft.pin.reliable", "false")
      prev.foreach(sc.setCheckpointDir)
    }
  }

  test("reliable pins produce identical results and hit the " +
      "checkpoint dir") {
    val s = spark
    import s.implicits._
    val docs = (0L until 200L).map(i =>
      (i, s"alpha beta gamma delta ${i % 7} tail ${i % 3}"))
      .toDF("doc_id", "text")

    def run(): Seq[String] =
      graft.operators.Dedup.simhashNearDup(docs, "text", "doc_id")
        .orderBy($"a", $"b").collect().map(_.toString).toSeq

    val local = run()

    reliablePins { ckDir =>
      val rel = run()
      assert(rel == local,
        "reliable pins must not change operator results")
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "reliable pin must write checkpoint files")
    }
  }

  test("pinLazy defers materialization until first use, both modes") {
    val s = spark
    import s.implicits._
    import graft.config.Pin._
    val base = (0L until 50L).toDF("v")
    assert(base.pinLazy().agg(sum($"v")).head().getLong(0) == 1225L)
    reliablePins { _ =>
      assert(base.pinLazy().agg(sum($"v")).head().getLong(0) == 1225L)
    }
  }
}
