package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{BucketStore, EventStreams}
import graft.streaming.BucketStore.StoreMeta

/** The shared dirty rewrite: O(dirty) merges with inheritance, and a
  * delta pipeline that runs once whether the rewrite checkpoints it
  * or the caller shares its own checkpoint across stores. */
class BucketStoreSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private val upsert: (DataFrame, DataFrame) => DataFrame = (state, d) =>
    d.unionByName(state.join(d.select("id"), Seq("id"), "left_anti"))

  /** A 4-bucket store at v0 holding ids 1..8. */
  private def store(tag: String) = {
    val dir = tmp(tag)
    val rows = (1 to 8).map(i => (i, s"v$i")).toDF("id", "v")
    rows.limit(0).coalesce(1).write.mode("overwrite").parquet(s"$dir/_empty")
    val base = BucketStore.writeVersion(spark, dir, 0, rows, Seq("id"), 4,
      StoreMeta(4), rows.schema)
    (dir, base, rows.schema)
  }

  private def rowsOf(df: DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getString(1))).toSet

  test("dirty rewrite: merges the delta's buckets, inherits the rest, " +
      "and runs an unmaterialized delta pipeline once") {
    val (dir, base, schema) = store("bucketstore_rewrite")
    val runs = spark.sparkContext.longAccumulator("delta_rows")
    val counted = udf { (i: Int) => runs.add(1); i }.asNondeterministic()
    val delta = Seq((2, "B"), (9, "n")).toDF("id", "v")
      .select(counted(col("id")).as("id"), col("v"))
    // the dirty set is the caller's: one that reads its delta twice
    // (this set's collect, then upsert's two references) checkpoints
    // it lazily, as cdcApply does, and the collect materializes it
    val d = delta.localCheckpoint(eager = false)
    val dirty = BucketStore.bucketsFor(spark, dir, base, Seq("id"), Right(d),
      None)
    val next = BucketStore.rewriteDirty(spark, dir, base, 1, d, dirty,
      Seq("id"), StoreMeta(4), schema)(upsert)
    assert(runs.value == 2, "the delta pipeline must run once per row")
    val hit = Seq(2, 9).map(i =>
      Seq(i).toDF("id").select(EventStreams.bucketCol(Seq("id"), 4))
        .head().getInt(0)).toSet
    assert(dirty == hit)
    assert(next.collect { case (k, bf) if bf.version == 1 => k }.toSet == hit)
    assert(next.filter { case (k, _) => !hit(k) } ==
      base.filter { case (k, _) => !hit(k) }, "clean buckets inherit")
    assert(rowsOf(BucketStore.stateAt(spark, dir, next, Some(schema))) ==
      (1 to 8).map(i => (i, if (i == 2) "B" else s"v$i")).toSet + ((9, "n")))
  }

  test("dirty rewrite: a caller's checkpoint shared by two stores is " +
      "not copied again") {
    val (d1, b1, schema) = store("bucketstore_twin_a")
    val (d2, b2, _) = store("bucketstore_twin_b")
    val runs = spark.sparkContext.longAccumulator("shared_delta_rows")
    val counted = udf { (i: Int) => runs.add(1); i }.asNondeterministic()
    val shared = Seq((3, "C"), (10, "t")).toDF("id", "v")
      .select(counted(col("id")).as("id"), col("v")).localCheckpoint()
    assert(runs.value == 2)
    Seq((d1, b1), (d2, b2)).foreach { case (dir, base) =>
      BucketStore.rewriteDirty(spark, dir, base, 1, shared,
        BucketStore.bucketsFor(spark, dir, base, Seq("id"), Right(shared),
          None), Seq("id"), StoreMeta(4), schema)(upsert)
    }
    assert(runs.value == 2, "the shared delta must not run again")
  }

  test("dirty rewrite: a delta the merge reads once runs once with no " +
      "checkpoint, given a driver-known dirty set") {
    val (dir, base, schema) = store("bucketstore_once")
    val runs = spark.sparkContext.longAccumulator("once_delta_rows")
    val counted = udf { (i: Int) => runs.add(1); i }.asNondeterministic()
    val delta = Seq((4, "D"), (11, "e")).toDF("id", "v")
      .select(counted(col("id")).as("id"), col("v"))
    val hit = BucketStore.bucketsFor(spark, dir, base, Seq("id"),
      Left((Seq(org.apache.spark.sql.types.IntegerType), Seq(Seq(4), Seq(11)))),
      None)
    val createOnly: (DataFrame, DataFrame) => DataFrame = (state, d) =>
      state.unionByName(d.join(state.select("id"), Seq("id"), "left_anti"))
    val next = BucketStore.rewriteDirty(spark, dir, base, 1, delta, hit,
      Seq("id"), StoreMeta(4), schema)(createOnly)
    assert(runs.value == 2, "the delta pipeline must run once per row")
    assert(rowsOf(BucketStore.stateAt(spark, dir, next, Some(schema))) ==
      (1 to 8).map(i => (i, s"v$i")).toSet + ((11, "e")))
  }

  test("bucket write: one data file per non-empty bucket at every width, " +
      "in min(width, parallelism) write tasks, AQE on or off") {
    val par = spark.sparkContext.defaultParallelism
    for (aqe <- Seq(true, false); width <- Seq(1, 4, 16, 64)) {
      val session = spark.newSession()
      session.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      val rows = session.range(0, 200, 1, 8).select(
        col("id").cast("int").as("id"), col("id").cast("string").as("v"))
      val dir = tmp(s"bucketstore_files_${aqe}_$width")
      // the tasks of every stage that reads a shuffle: the write's
      val writeTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          if (s.stageInfo.parentIds.nonEmpty)
            writeTasks.add(s.stageInfo.numTasks)
      }
      Thread.sleep(300)
      spark.sparkContext.addSparkListener(listener)
      val written = try {
        val w = BucketStore.writeVersion(session, dir, 0, rows, Seq("id"),
          width, StoreMeta(width), rows.schema)
        Thread.sleep(300)
        w
      } finally spark.sparkContext.removeSparkListener(listener)
      val clue = s"aqe $aqe, width $width"
      assert(writeTasks.toArray.toSeq == Seq(math.min(width, par)),
        s"$clue: write stages' tasks ${writeTasks.toArray.mkString(", ")}")
      val live = written.collect { case (k, bf) if bf.version == 0 => k }
      assert(live.size > width / 2, s"$clue: ${live.size} live")
      for (k <- live) {
        val files = new java.io.File(EventStreams.bucketPath(dir, 0, k))
          .list().filterNot(n => n.startsWith("_") || n.startsWith("."))
        assert(files.length == 1 && written(k).files.get.size == 1,
          s"$clue, bucket $k: ${files.mkString(", ")}")
      }
    }
  }
}
