package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Warehouse-backed catalog standing in for the Glue Data Catalog
  * (SURVEY.md §2.1 catalog source/sink, §2.14 crawler): databases and
  * tables live in the Spark session catalog (`saveAsTable` under
  * `spark.sql.warehouse.dir`), so `spark.table(db.table)` and catalog
  * pushdown work unchanged. `crawl` registers existing parquet paths —
  * the crawler step of the reference pipeline collapses to one call.
  */
class GraftCatalog(spark: SparkSession) {

  import GraftCatalog.MetaFile

  def createDatabase(name: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$name`")

  def dropDatabase(name: String): Unit =
    spark.sql(s"DROP DATABASE IF EXISTS `$name` CASCADE")

  /** The session catalog is in-memory: a previous session's managed files
    * can survive as an orphaned warehouse directory the new session's
    * catalog doesn't know about — Overwrite means the caller wants that
    * location replaced, not LOCATION_ALREADY_EXISTS. Deletes ONLY
    * directories that verifiably look like Spark table output (part
    * files / underscore+dot metadata / key=value partition dirs, checked
    * recursively / the `_temporary` or `.spark-staging-*` dir a write
    * that died leaves behind): with a shared or persistent warehouse
    * dir, the default table path can hold another process's live non-table data, and
    * silently destroying it on a name collision would be far worse than
    * failing this save with an explicit error. */
  private def clearOrphanedLocation(db: String, table: String, mode: SaveMode): Unit =
    if (mode == SaveMode.Overwrite && !tableExists(db, table)) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db))))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) {
        if (looksLikeSparkTableOutput(fs, loc)) fs.delete(loc, true)
        else throw new IllegalStateException(
          s"refusing to clear orphaned location $loc for `$db`.`$table`: " +
            "it contains files that are not Spark table output " +
            "(drop or move the directory manually if replacement is intended)")
      }
    }

  private def looksLikeSparkTableOutput(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Boolean =
    fs.listStatus(dir).forall { st =>
      val n = st.getPath.getName
      if (st.isDirectory)
        n == "_temporary" || n.startsWith(".spark-staging-") ||
          n.contains("=") && looksLikeSparkTableOutput(fs, st.getPath)
      else n.startsWith("part-") || n.startsWith("_") || n.startsWith(".")
    }

  /** Catalog sink (`write_dynamic_frame_from_catalog`, `context.py:358-405`). */
  def saveTable(db: String, table: String, df: DataFrame,
                mode: SaveMode = SaveMode.Overwrite,
                partitionKeys: Seq[String] = Nil): Unit = {
    validateLayoutCols(partitionKeys)
    createDatabase(db)
    clearOrphanedLocation(db, table, mode)
    val w = df.write.mode(mode)
    (if (partitionKeys.nonEmpty) w.partitionBy(partitionKeys: _*) else w)
      .saveAsTable(s"`$db`.`$table`")
    if (partitionKeys.nonEmpty)
      writeMeta(db, table, Map("partitionKeys" -> partitionKeys.mkString(",")))
  }

  /** Bucketed catalog sink — the co-located-join layout for keys that are
    * joined or aggregated REPEATEDLY: the one-time write pays the shuffle
    * into a fixed hash-bucket layout, and every later join between tables
    * bucketed the same way (same key, same bucket count), and every
    * aggregation on the bucket key, plans with ZERO exchanges — at 100 TB
    * this converts the recurring fact⋈dim shuffle into a free scan-side
    * property (spec-pinned in GraftCatalogSpec). `sortCols` additionally
    * sorts within buckets, letting a sort-merge join skip its sort. */
  def saveBucketed(db: String, table: String, df: DataFrame,
                   bucketCol: String, numBuckets: Int,
                   sortCols: Seq[String] = Nil,
                   mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(numBuckets >= 1, "numBuckets must be >= 1")
    validateLayoutCols(bucketCol +: sortCols)
    createDatabase(db)
    clearOrphanedLocation(db, table, mode)
    val w = df.write.mode(mode).bucketBy(numBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(s"`$db`.`$table`")
    writeMeta(db, table, Map(
      "bucketCol" -> bucketCol,
      "numBuckets" -> numBuckets.toString,
      "sortCols" -> sortCols.mkString(",")))
  }

  /** `_GRAFT_META` is a line-oriented `k=v` sidecar with comma-joined
    * column lists; a layout column name containing a delimiter would
    * round-trip SILENTLY wrong through [[crawl]] (the restored table gets
    * a corrupted bucket/partition spec) — reject it at write time
    * instead. */
  private def validateLayoutCols(cols: Seq[String]): Unit =
    cols.foreach { c =>
      require(!c.exists(ch => ch == ',' || ch == '=' || ch == '\n' || ch == '\r'),
        s"layout column name '$c' contains a _GRAFT_META delimiter " +
          "(',', '=' or a newline) — rename the column to use it as a " +
          "catalog partition/bucket/sort key")
    }

  /** Layout metadata that is CATALOG state, not file state (bucket spec,
    * partition keys), persisted as an underscore-prefixed sidecar IN the
    * table directory — parquet readers ignore `_*` files, and a fresh
    * catalog (new JVM, in-memory metastore) can [[crawl]] the directory
    * back to a fully-functional table, bucket layout included. Commits
    * through [[AtomicFile.write]] (Hadoop FileSystem, so it works on
    * object stores too): a crash mid-commit leaves an append's committed
    * sidecar in place. An Overwrite drops the old table, sidecar and
    * all, before its data write, so a crash before this commit leaves a
    * directory without one, which [[crawl]] refuses. */
  private def writeMeta(db: String, table: String, kv: Map[String, String]): Unit = {
    // the table's ACTUAL resolved location (an Overwrite onto an existing
    // external table keeps its location — defaultTablePath would miss it)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db))).location)
    AtomicFile.write(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(loc, MetaFile).toString,
      kv.map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n"))
  }

  private def readMeta(path: String): Map[String, String] =
    AtomicFile.read(spark.sparkContext.hadoopConfiguration,
        new org.apache.hadoop.fs.Path(path, MetaFile).toString)
      .fold(Map.empty[String, String])(_.linesIterator.filter(_.contains("="))
        .map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }
        .toMap)

  /** Catalog source (`create_dynamic_frame_from_catalog`,
    * `context.py:158-188`); `pushDownPredicate` becomes a plan filter that
    * Catalyst turns into partition pruning for partitioned tables. */
  def table(db: String, tableName: String,
            pushDownPredicate: Option[String] = None): DataFrame = {
    val t = spark.table(s"`$db`.`$tableName`")
    pushDownPredicate.fold(t)(t.filter)
  }

  def schemaOf(db: String, tableName: String): StructType =
    spark.table(s"`$db`.`$tableName`").schema

  def listTables(db: String): Seq[String] =
    spark.catalog.listTables(db).collect().map(_.name).toSeq

  def tableExists(db: String, tableName: String): Boolean =
    spark.catalog.tableExists(s"`$db`.`$tableName`")

  def dropTable(db: String, tableName: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$tableName`")

  /** The crawler analog: register an existing parquet path as an external
    * table (schema inferred from the files, like a crawl). If the
    * directory carries a [[MetaFile]] sidecar (written by [[saveBucketed]]
    * / partitioned [[saveTable]]), the catalog-only layout metadata is
    * restored too: the re-registered table plans bucketed joins with zero
    * exchanges and partitioned scans with pruning in a BRAND-NEW catalog
    * (new JVM) — the serving contract a restart must not break
    * (GraftCatalogSpec pins it against a from-scratch catalog). Bucketed
    * DDL requires an explicit schema, which is read from the parquet
    * footers (exactly what the files say, not what a previous session
    * remembered). A directory without the sidecar that holds no data,
    * Spark's bucket-numbered part files, or the `_temporary` dir of a
    * write that never committed is what a save leaves when it dies
    * before committing its layout: crawl refuses it rather than register
    * its rows without their layout, or only some of them. */
  def crawl(db: String, tableName: String, path: String): Unit = {
    createDatabase(db)
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$tableName`")
    val meta = readMeta(path)
    if (meta.isEmpty) {
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(dir)) {
        val names = fs.listStatus(dir).map(_.getPath.getName).toSeq
        (if (names.forall(n => n.startsWith("_") || n.startsWith("."))) Some("no data")
         else names.find(n => n == "_temporary" || n.startsWith("part-") &&
           org.apache.spark.sql.execution.datasources.BucketingUtils
             .getBucketId(n).isDefined))
          .foreach(n => throw new IllegalStateException(
            s"refusing to crawl $path: it holds $n but no $MetaFile to " +
              "restore its layout from, as a save leaves it when it dies " +
              "before committing its layout; re-run the save"))
      }
      spark.catalog.createTable(s"`$db`.`$tableName`", path, "parquet")
    } else {
      val schema = spark.read.parquet(path).schema.toDDL
      val parts = meta.get("partitionKeys").map(_.split(",").filter(_.nonEmpty)).getOrElse(Array.empty)
      val partDdl =
        if (parts.isEmpty) ""
        else parts.map(c => s"`$c`").mkString("PARTITIONED BY (", ", ", ")")
      val bucketDdl = meta.get("bucketCol").fold("") { bc =>
        val sorts = meta.get("sortCols").map(_.split(",").filter(_.nonEmpty)).getOrElse(Array.empty)
        val sortClause =
          if (sorts.isEmpty) "" else sorts.map(c => s"`$c`").mkString("SORTED BY (", ", ", ") ")
        s"CLUSTERED BY (`$bc`) ${sortClause}INTO ${meta("numBuckets")} BUCKETS"
      }
      spark.sql(
        s"""CREATE TABLE `$db`.`$tableName` ($schema) USING parquet
           |$partDdl $bucketDdl
           |LOCATION '$path'""".stripMargin)
      if (parts.nonEmpty) spark.catalog.recoverPartitions(s"`$db`.`$tableName`")
    }
  }
}

object GraftCatalog {
  /** Underscore-prefixed so parquet scans skip it; plain `k=v` lines. */
  val MetaFile = "_GRAFT_META"
}
