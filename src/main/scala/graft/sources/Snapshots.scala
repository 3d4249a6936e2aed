package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned snapshot publishing with an atomic pointer commit — the
  * minimal table-format core (the pattern Delta/Iceberg/Hive-ACID build
  * on): writers never mutate data a reader might be scanning; they write
  * a COMPLETE new version directory and then commit it by atomically
  * replacing a tiny pointer file. Readers resolve the pointer once at
  * plan time and scan an immutable directory, so there are no partial
  * reads, no torn listings, and time travel / instant rollback are free.
  *
  * Layout under `dir`:
  * {{{
  *   v=00001/ v=00002/ ...   immutable parquet version directories
  *   _LATEST                 the committed version number
  *   _PINS/<name>            reader pins: versions vacuum must not touch
  * }}}
  *
  * Scale shape: the commit is O(1) regardless of table size — one
  * [[AtomicFile.write]] of a bytes-sized pointer. Old versions stay
  * readable until [[vacuum]] reclaims them, which is what makes long-running 100 TB readers safe against concurrent
  * publishes: a reader that resolved v=N keeps scanning v=N's files even
  * after v=N+1 commits. Single-writer by contract (a real lake format
  * adds a lock/CAS for writer-writer races; readers need none).
  */
object Snapshots {

  private val Pointer = "_LATEST"

  private def fs(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    val f = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    (f, f.makeQualified(p))
  }

  private def versionDir(root: Path, v: Int): Path = new Path(root, f"v=$v%05d")

  /** Write `df` as the next version and commit it. Returns the new
    * version number. The data write lands in the (unreferenced) version
    * directory first; the pointer swap is the commit point — a crash
    * before it leaves the table at the previous version with only an
    * orphan directory to vacuum, never a torn table. */
  def publish(spark: SparkSession, dir: String, df: DataFrame): Int = {
    val (_, root) = fs(spark, dir)
    val v = nextVersion(spark, dir)
    df.write.mode("error").parquet(versionDir(root, v).toString)
    commitPointer(spark, root, v)
    v
  }

  /** The committed version, if any. */
  def latestVersion(spark: SparkSession, dir: String): Option[Int] =
    AtomicFile.read(spark.sparkContext.hadoopConfiguration,
      new Path(dir, Pointer).toString).map(_.trim.toInt)

  /** Cheap existence probe for a committed version dir — what memo
    * layers above ([[graft.plan.RollupVersioned]]'s MetaL memo) must
    * re-check before serving a cached entry, so a vacuumed version keeps
    * failing fast at [[readVersion]]'s `require` instead of surfacing
    * later as FileNotFound on deleted pool batches (ADVICE r14). */
  def versionExists(spark: SparkSession, dir: String, v: Int): Boolean = {
    val (f, root) = fs(spark, dir)
    f.exists(versionDir(root, v))
  }

  /** Read a pinned version — time travel. A committed version's files
    * never change, so the manifest-keyed [[Pq.read]] memo serves every
    * repeated read of it without a schema-inference job. */
  def readVersion(spark: SparkSession, dir: String, v: Int): DataFrame = {
    val (f, root) = fs(spark, dir)
    val p = versionDir(root, v)
    require(f.exists(p), s"snapshot version $v does not exist under $dir")
    Pq.read(spark, p.toString)
  }

  /** [[readVersion]] for METADATA-BOUNDED snapshot tables (version meta,
    * manifests): the rows come back as a driver-local relation read with
    * zero Spark jobs when the table is small and flat, else exactly
    * [[readVersion]]. Callers must be metadata layers — a data snapshot
    * (q120-style time travel over real tables) keeps the scan path. */
  def readVersionLocal(spark: SparkSession, dir: String, v: Int): DataFrame = {
    val (f, root) = fs(spark, dir)
    val p = versionDir(root, v)
    require(f.exists(p), s"snapshot version $v does not exist under $dir")
    Pq.readLocal(spark, p.toString)
      .getOrElse(readVersion(spark, dir, v))
  }

  /** [[readVersionLocal]] of the committed version. */
  def readLatestLocal(spark: SparkSession, dir: String): DataFrame = {
    val v = latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $dir"))
    readVersionLocal(spark, dir, v)
  }

  /** Read the committed version (resolved ONCE, here — the returned frame
    * keeps scanning that version even if a publish lands mid-query). */
  def readLatest(spark: SparkSession, dir: String): DataFrame = {
    val v = latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $dir"))
    readVersion(spark, dir, v)
  }

  /** Point the table back at an existing older version — O(1), data
    * untouched. The abandoned newer versions remain readable (and
    * re-publishable over: [[publish]] always allocates max+1 of the
    * DIRECTORIES present, so a rolled-back version is never overwritten). */
  def rollback(spark: SparkSession, dir: String, v: Int): Unit = {
    val (f, root) = fs(spark, dir)
    require(f.exists(versionDir(root, v)), s"cannot roll back to missing version $v")
    commitPointer(spark, root, v)
  }

  /** All version numbers present on disk (committed or orphaned), ascending. */
  def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val (f, root) = fs(spark, dir)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toInt).sorted
  }

  /** Delete all versions strictly older than the newest `keepLast` —
    * never the committed one, and never a [[pin]]ned one — plus any
    * uncommitted version dir without a data file (a publish that died
    * mid-write: nothing can resolve it). Returns the versions deleted.
    * Readers that outlive the retention window MUST register via [[pin]] before resolving their version; unpinned
    * readers are only safe within the newest `keepLast`. */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val (f, root) = fs(spark, dir)
    val all = versions(spark, dir)
    val current = latestVersion(spark, dir)
    val keep = all.takeRight(keepLast)
      .filter(v => Pq.holdsData(spark, versionDir(root, v).toString)).toSet ++
      current ++ pinnedVersions(spark, dir).values
    val drop = all.filterNot(keep)
    drop.foreach(v => f.delete(versionDir(root, v), true))
    drop
  }

  private val PinsDir = "_PINS"

  private def pinName(name: String): String = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"pin name must be [A-Za-z0-9._-]+: '$name'")
    name
  }

  /** Register a named pin on version `v`: [[vacuum]] will never delete a
    * pinned version, so a long-running reader (a multi-day training job
    * scanning one snapshot of a 100 TB table) pins BEFORE resolving and
    * [[unpin]]s when done — the lock-free reader contract extended past
    * the retention window. Pin creation is a one-file write under
    * `_PINS/`; re-pinning an existing name moves it. The pin file commits
    * through [[AtomicFile.write]], like the `_LATEST` pointer: a
    * [[vacuum]] listing `_PINS/` concurrently with registration must see
    * either no pin or the complete pin — never an empty or truncated
    * file, which would abort the vacuum (or worse, pin the wrong
    * version while the reader's intended one gets deleted). */
  def pin(spark: SparkSession, dir: String, v: Int, name: String): Unit = {
    val (f, root) = fs(spark, dir)
    require(f.exists(versionDir(root, v)), s"cannot pin missing version $v")
    AtomicFile.write(spark.sparkContext.hadoopConfiguration,
      new Path(new Path(root, PinsDir), pinName(name)).toString, v.toString)
  }

  /** Remove a named pin (idempotent — a finished reader's cleanup must
    * not fail if the pin is already gone). */
  def unpin(spark: SparkSession, dir: String, name: String): Unit = {
    val (f, root) = fs(spark, dir)
    f.delete(new Path(new Path(root, PinsDir), pinName(name)), false)
  }

  /** All registered pins, name → version. In-flight `.name.tmp` files
    * from a concurrent [[pin]] (or a crash before its rename) are not
    * pins and are skipped, as is a pin [[unpin]]ned between the listing
    * and its read; a COMMITTED pin that doesn't parse is a hard
    * error with the offending path named — silently ignoring it would
    * let [[vacuum]] delete the version that reader intended to hold. */
  def pinnedVersions(spark: SparkSession, dir: String): Map[String, Int] = {
    val (f, root) = fs(spark, dir)
    val pins = new Path(root, PinsDir)
    if (!f.exists(pins)) Map.empty
    else f.listStatus(pins).toSeq
      .map(_.getPath).filterNot(_.getName.startsWith("."))
      .flatMap { p =>
        AtomicFile.read(spark.sparkContext.hadoopConfiguration, p.toString)
          .map { raw =>
            val txt = raw.trim
            val v = try txt.toInt catch {
              case _: NumberFormatException => throw new IllegalStateException(
                s"unparsable pin file $p (content '${txt.take(40)}') — " +
                  "refusing to vacuum/resolve against a corrupt pin registry")
            }
            p.getName -> v
          }
      }.toMap
  }

  private def commitPointer(spark: SparkSession, root: Path, v: Int): Unit =
    AtomicFile.write(spark.sparkContext.hadoopConfiguration,
      new Path(root, Pointer).toString, v.toString)

  /** `publish` always allocates past every DIRECTORY on disk, not just the
    * committed pointer — so publish-after-rollback never overwrites the
    * rolled-back-from version. (Kept private-free for the spec.) */
  private[sources] def nextVersion(spark: SparkSession, dir: String): Int =
    (versions(spark, dir) :+ latestVersion(spark, dir).getOrElse(0)).max + 1
}
