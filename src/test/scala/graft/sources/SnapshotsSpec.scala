package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("graft_snap").toString + "/tbl"

  test("publish/readLatest/time-travel: versions are immutable and pinned") {
    val dir = freshDir()
    val v1 = Snapshots.publish(spark, dir, Seq((1, "a"), (2, "b")).toDF("k", "s"))
    val v2 = Snapshots.publish(spark, dir, Seq((1, "a")).toDF("k", "s"))
    assert(v1 == 1 && v2 == 2)
    assert(Snapshots.latestVersion(spark, dir).contains(2))
    assert(Snapshots.readLatest(spark, dir).count() == 1)
    // time travel: v1 still reads in full after v2 committed
    assert(Snapshots.readVersion(spark, dir, 1).count() == 2)
    // a frame resolved BEFORE a publish keeps reading its own version
    val pinned = Snapshots.readLatest(spark, dir)
    Snapshots.publish(spark, dir, Seq((9, "z"), (8, "y"), (7, "x")).toDF("k", "s"))
    assert(pinned.count() == 1)
    assert(Snapshots.readLatest(spark, dir).count() == 3)
  }

  test("rollback is O(1) pointer swap; publish-after-rollback never overwrites") {
    val dir = freshDir()
    Snapshots.publish(spark, dir, Seq(1, 2, 3).toDF("k"))
    Snapshots.publish(spark, dir, Seq(1).toDF("k"))
    Snapshots.rollback(spark, dir, 1)
    assert(Snapshots.readLatest(spark, dir).count() == 3)
    // next publish allocates PAST the abandoned v2 (directory-max + 1),
    // so v2 stays readable and nothing is overwritten
    val v3 = Snapshots.publish(spark, dir, Seq(1, 2).toDF("k"))
    assert(v3 == 3)
    assert(Snapshots.readVersion(spark, dir, 2).count() == 1)
    assert(Snapshots.versions(spark, dir) == Seq(1, 2, 3))
    intercept[IllegalArgumentException] { Snapshots.rollback(spark, dir, 99) }
  }

  test("vacuum drops old versions, never the committed one") {
    val dir = freshDir()
    (1 to 4).foreach(i => Snapshots.publish(spark, dir, Seq.fill(i)(i).toDF("k")))
    Snapshots.rollback(spark, dir, 2)
    // keepLast=1 keeps v4 (newest) AND v2 (committed)
    val dropped = Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(dropped == Seq(1, 3))
    assert(Snapshots.versions(spark, dir) == Seq(2, 4))
    assert(Snapshots.readLatest(spark, dir).count() == 2)
  }

  test("vacuum never deletes a version a pinned reader resolves") {
    val dir = freshDir()
    (1 to 4).foreach(i => Snapshots.publish(spark, dir, Seq.fill(i)(i).toDF("k")))
    // a long-running reader pins v1 BEFORE resolving it (the contract),
    // then keeps scanning while retention churns underneath
    Snapshots.pin(spark, dir, 1, "nightly-train")
    val reader = Snapshots.readVersion(spark, dir, 1)
    val dropped = Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(dropped == Seq(2, 3), s"dropped $dropped") // v4 newest+committed, v1 pinned
    assert(Snapshots.versions(spark, dir) == Seq(1, 4))
    assert(reader.count() == 1, "pinned reader must keep resolving v1")
    assert(Snapshots.pinnedVersions(spark, dir) == Map("nightly-train" -> 1))
    // reader done: unpin releases v1 to the next vacuum; unpin is idempotent
    Snapshots.unpin(spark, dir, "nightly-train")
    Snapshots.unpin(spark, dir, "nightly-train")
    assert(Snapshots.vacuum(spark, dir, keepLast = 1) == Seq(1))
    intercept[IllegalArgumentException] { Snapshots.pin(spark, dir, 99, "x") }
    intercept[IllegalArgumentException] { Snapshots.pin(spark, dir, 4, "bad/name") }
  }

  test("one meta publish writes one parquet file") {
    // the local batch/stat/extra relations union into defaultParallelism
    // slices: without the coalesce, a 40-row meta version wrote ~35
    // near-empty files that every later meta read listed and opened
    val root = java.nio.file.Files.createTempDirectory("graft_meta").toString
    val v = VersionedPool.publishMeta(spark, root, Seq("b00001"),
      Seq("sketch_k" -> 64.0), None, "doc_id", org.apache.spark.sql.types.LongType,
      Some((1 to 40).map(i => ("grain", s"k$i", i.toDouble)).toDF("kind", "key", "num")))
    val files = new java.io.File(f"$root/meta/v=$v%05d").list()
      .filter(_.endsWith(".parquet"))
    assert(files.length == 1, files.toSeq)
  }

  test("crash before commit leaves the previous version live") {
    val dir = freshDir()
    Snapshots.publish(spark, dir, Seq(1, 2).toDF("k"))
    // simulate a writer that died after the data write, before the pointer
    // swap: an orphan directory appears but the table still reads as v1
    Seq(9).toDF("k").write.parquet(dir + "/v=00002")
    assert(Snapshots.latestVersion(spark, dir).contains(1))
    assert(Snapshots.readLatest(spark, dir).count() == 2)
    // the next successful publish allocates past the orphan
    val v = Snapshots.publish(spark, dir, Seq(7, 8, 9).toDF("k"))
    assert(v == 3 && Snapshots.readLatest(spark, dir).count() == 3)
  }
}
