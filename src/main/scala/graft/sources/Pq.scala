package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Memoized parquet reads — the r14 schema-memo device (Snapshots'
  * immutable-version-dir memo) generalized to EVERY internal parquet
  * read (r15, guide §7.3 driver overhead / VERDICT r14 #1).
  *
  * Why: each bare `spark.read.parquet(path)` pays schema inference
  * inside the analyzer's `ResolveDataSource` rule — a footer read that
  * Spark schedules as a 1-task job, ~40-70 ms of driver latency per
  * call. The summary/versioned maintenance gates issue 20-60 such reads
  * per run and measured 2.7 s of a 10 s gate inside ResolveDataSource
  * alone (RuleTime probe, r15). At 100 TB the same cost appears as a
  * footer fetch per maintenance op against object storage.
  *
  * Soundness: the memo key is the file MANIFEST — every visible file's
  * `path|length|mtime` under the read paths (the same digest the
  * staleness guard uses). Identical bytes ⇒ identical inferred schema,
  * so serving a cached schema can never diverge from what inference
  * would return: an append, overwrite, or compaction changes the
  * manifest and the new state re-infers. The listing this costs is
  * driver-side metadata the subsequent FileIndex build performs anyway;
  * the 1-task footer JOB is what the memo removes. Row data never
  * enters the memo; entries are schema-only and bounded.
  *
  * Anything unusual (nonexistent path, empty dir, exotic filesystem
  * error) falls back to a plain `spark.read.parquet`, byte-identical
  * behavior to the un-memoized call.
  */
object Pq {

  private val memo = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Resolved-DataFrame memo, keyed on (session identity, manifest).
    * A parquet DataFrame is a pure function of (session, file bytes):
    * the relation freezes its file listing at resolve time exactly like
    * a bare `spark.read.parquet` does, and every ACTION on it re-reads
    * the parquet inputs — this reuses the resolved plan OBJECT, never
    * results. Any append/delete/overwrite changes the manifest and thus
    * the key, so a stale listing can never serve. Keying on the session
    * identity keeps cloned-session (streaming gates) plans apart and
    * lets a retired session's entries age out with the bound below. */
  private val dfMemo = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Whether directory `path` exists and holds a visible file (hidden
    * `_`/`.` entries skipped, as below): a parquet write that died
    * before its job commit leaves none. */
  def holdsData(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(st => !hidden(st.getPath.getName))
  }

  /** Whether Spark's file sources treat `name` as hidden. */
  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** Visible-file manifest under `paths` (hidden `_`/`.` entries skipped,
    * matching Spark's own file-source visibility rule), the first
    * visible parquet file (the cold-read footer probe target), and the
    * paths to hand Spark: each root, except that a hidden-named root
    * holding only visible files directly (a `Bm25.swapWrite`
    * `.gen_<table>_<n>` generation) is replaced by those files while
    * that leaves no more paths than the session's
    * `parallelPartitionDiscovery.threshold`. Spark reads such a root
    * when it is named, but its `DataSource` first warns that all paths
    * were ignored; past the threshold its file index would list the
    * paths with a Spark job, so the roots are kept and the warning with
    * them. */
  private def manifestKey(spark: SparkSession, paths: Seq[String])
      : (String, Option[org.apache.hadoop.fs.Path], Seq[String]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val listed = paths.map(p => p -> visibleFiles(conf, p))
    val all = listed.flatMap(_._2.map(_._1))
    val first = all.find(st => st.getPath.getName.endsWith(".parquet") && st.getLen > 0)
      .map(_.getPath)
    val sparkPaths = listed.flatMap { case (p, files) =>
      // every visible file of the root lies directly in it
      if (hidden(new org.apache.hadoop.fs.Path(p).getName) && files.nonEmpty &&
          files.forall(_._2 == 1))
        files.map(_._1.getPath.toString).sorted
      else Seq(p)
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    // the root path list joins the digest so two reads are only ever
    // memo-shared when BOTH the roots and every visible file match —
    // in particular two different empty dirs can never share a key
    paths.sorted.foreach(p =>
      md.update(s"root:$p\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    all.map(st => s"${st.getPath}|${st.getLen}|${st.getModificationTime}").sorted.foreach(e =>
      md.update(s"$e\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    (java.util.Base64.getEncoder.encodeToString(md.digest), first,
      if (sparkPaths.size <= spark.sessionState.conf.parallelPartitionDiscoveryThreshold) sparkPaths
      else paths)
  }

  /** The visible files under `root`, zero-length ones included, each
    * with its depth below `root` (0 when `root` is itself a file), in
    * listing order. The hidden-name rule applies to DISCOVERED children
    * only, never to the root passed in — Spark reads a `.gen_*`-named dir
    * fine when it IS the path argument (Bm25.swapWrite generations);
    * skipping it here read every such dir as an EMPTY manifest and
    * collapsed all their memo keys into one (the r15
    * dfs-schema-served-for-stats bug). */
  private def visibleFiles(conf: org.apache.hadoop.conf.Configuration,
                           root: String): Seq[(org.apache.hadoop.fs.FileStatus, Int)] = {
    val hp = new org.apache.hadoop.fs.Path(root)
    val fs = hp.getFileSystem(conf)
    def walk(st: org.apache.hadoop.fs.FileStatus,
             depth: Int): Seq[(org.apache.hadoop.fs.FileStatus, Int)] =
      if (depth > 0 && hidden(st.getPath.getName)) Nil
      else if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk(_, depth + 1))
      else Seq(st -> depth)
    walk(fs.getFileStatus(hp), 0)
  }

  /** Open `file` with the read options of `conf`, the session's Hadoop
    * conf. The one-argument `ParquetFileReader.open(InputFile)` builds a
    * fresh Hadoop `Configuration` for its options, which re-parses the
    * default resources on every open: 12.9 ms against 1.1 ms here per
    * open of a 1 KB file (medians of 100 opens, 4-CPU host). */
  private def openReader(conf: org.apache.hadoop.conf.Configuration,
                         file: org.apache.hadoop.fs.Path): org.apache.parquet.hadoop.ParquetFileReader =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, file).build())

  /** Spark serializes the EXACT StructType it wrote into every parquet
    * footer's key-value metadata (`org.apache.spark.sql.parquet.row.metadata`)
    * — and its own schema inference PREFERS that entry over footer-type
    * conversion (`ParquetFileFormat.readSchemaFromFooter`). Reading it
    * driver-side (one footer, no Spark job) therefore yields the same
    * schema inference would, minus the 1-task job the cold read pays.
    * `asNullable` mirrors what the file-source relation does to any
    * data schema. None for non-Spark-written files (no metadata entry):
    * the caller then falls back to inference. */
  private def footerSchema(reader: org.apache.parquet.hadoop.ParquetFileReader): Option[StructType] =
    Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .map(json => deepNullable(org.apache.spark.sql.types.DataType
        .fromJson(json).asInstanceOf[StructType]))

  /** Visible bytes of a table up to which [[readLocal]] reads it on the
    * driver: the metadata-table cap. */
  val MaxLocalBytes: Long = 16L << 20

  /** Driver-side read of a SMALL, FLAT parquet table into a local-
    * relation DataFrame — ZERO Spark jobs (guide §7.3: driver overhead).
    * For metadata-bounded tables (version meta, manifests, 1-row stats)
    * the cluster path costs a full plan+schedule+AQE round trip per
    * read; reading the bytes driver-side and serving a LocalRelation
    * makes every downstream filter/collect constant-fold driver-local.
    * NOT caching: the files are re-read on every call — this changes
    * WHERE the bytes are read, never whether they are.
    *
    * Returns None (caller falls back to the cluster read) unless every
    * visible file is Spark-written parquet (footer schema present), the
    * schema is flat with primitive types only, and the total visible
    * bytes stay under [[MaxLocalBytes]]. */
  def readLocal(spark: SparkSession, paths: String*): Option[DataFrame] =
    localRows(spark, paths: _*).map { case (schema, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(
        rows.map(vals => org.apache.spark.sql.Row(vals.toIndexedSeq: _*)): _*), schema)
    }

  /** The rows [[readLocal]] serves, before any Catalyst plan: the footer
    * schema of the first file and every record as [[decodeLocal]] emits
    * it. None where [[readLocal]] refuses the table. Each file is opened
    * once: the first file's reader gives the schema and then its rows. */
  private[graft] def localRows(spark: SparkSession,
                               paths: String*): Option[(StructType, Seq[Array[Any]])] =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val listed = paths.flatMap(visibleFiles(conf, _)).map(_._1).filter(_.getLen > 0)
      val files = listed.map(_.getPath)
      if (files.isEmpty || listed.map(_.getLen).sum > MaxLocalBytes) None
      else {
        val rows = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
        val first = openReader(conf, files.head)
        val schema =
          try footerSchema(first).filter(decodable).map { s => decode(first, s)(rows += _); s }
          finally first.close()
        schema.map { s =>
          files.tail.foreach(decodeLocal(conf, _, s)(rows += _))
          (s, rows.toSeq)
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Whether [[decodeLocal]] reads every field of `schema`: flat
    * primitives (dates as INT32 epoch days) and arrays of them. */
  private[graft] def decodable(schema: StructType): Boolean = {
    import org.apache.spark.sql.types._
    def primOk(dt: DataType): Boolean = dt match {
      case StringType | DoubleType | LongType | IntegerType |
           BooleanType | FloatType | DateType => true
      case _ => false
    }
    schema.fields.forall(f => f.dataType match {
      case ArrayType(et, _) => primOk(et)
      case dt => primOk(dt)
    })
  }

  /** The one driver-side parquet decoder — [[readLocal]] and the
    * driver-local serve regimes ([[LocalServe.decode]]) both read
    * through it: `emit` receives every record of `file` as the values of
    * `schema`'s fields (a [[decodable]] schema), null where a value is
    * absent. Fields resolve by NAME against the file's own schema: a
    * file written from a projected frame can order them differently.
    * Each row group decodes column by column straight off parquet's
    * column readers (no record assembly); arrays are Spark's 3-level
    * LIST shape; a date is a `java.time.LocalDate`. A date column of a
    * file Spark would rebase on read (legacy hybrid-calendar metadata, or
    * no Spark version) is refused. No Spark job; the array passed to
    * `emit` is fresh per record. */
  private[graft] def decodeLocal(conf: org.apache.hadoop.conf.Configuration,
                                 file: org.apache.hadoop.fs.Path,
                                 schema: StructType)(emit: Array[Any] => Unit): Unit = {
    val reader = openReader(conf, file)
    try decode(reader, schema)(emit) finally reader.close()
  }

  /** [[decodeLocal]] over a reader already open on the file. */
  private def decode(reader: org.apache.parquet.hadoop.ParquetFileReader,
                     schema: StructType)(emit: Array[Any] => Unit): Unit = {
    import org.apache.spark.sql.types._
    import org.apache.parquet.column.ColumnReader
    def value(cr: ColumnReader, dt: DataType): Any = dt match {
      case StringType => cr.getBinary.toStringUsingUTF8
      case DoubleType => cr.getDouble
      case LongType => cr.getLong
      case IntegerType => cr.getInteger
      case BooleanType => cr.getBoolean
      case FloatType => cr.getFloat
      case DateType => java.time.LocalDate.ofEpochDay(cr.getInteger)
      case other => throw new IllegalArgumentException(s"not decodable: $other")
    }
    val meta = reader.getFooter.getFileMetaData
    val fileSchema = meta.getSchema
    val kv = meta.getKeyValueMetaData
    if (schema.fields.exists(_.dataType == DateType) &&
        (kv.containsKey("org.apache.spark.legacyDateTime") ||
          !kv.containsKey("org.apache.spark.version")))
      throw new IllegalArgumentException("dates Spark would rebase on read")
    val root = new org.apache.parquet.example.data.simple.convert
      .GroupRecordConverter(fileSchema).getRootConverter
    val fields = schema.fields
    val descs = fields.map(f => fileSchema.getColumnDescription(f.dataType match {
      case _: ArrayType => Array(f.name, "list", "element")
      case _ => Array(f.name)
    }))
    var pages = reader.readNextRowGroup()
    while (pages != null) {
      val n = pages.getRowCount.toInt
      val store = new org.apache.parquet.column.impl.ColumnReadStoreImpl(
        pages, root, fileSchema, meta.getCreatedBy)
      val cols = fields.indices.map { c =>
        val cr = store.getColumnReader(descs(c))
        val maxDef = descs(c).getMaxDefinitionLevel
        val out = new Array[Any](n)
        fields(c).dataType match {
          case ArrayType(et, _) =>
            // definition levels: below the list's own → null list; below
            // its repeated group's → empty list; maxDef → a value
            val listDef = fileSchema.getMaxDefinitionLevel(fields(c).name)
            val entryDef = fileSchema.getMaxDefinitionLevel(fields(c).name, "list")
            val total = pages.getPageReader(descs(c)).getTotalValueCount
            var read = 0L
            var r = 0
            while (r < n) {
              val d = cr.getCurrentDefinitionLevel
              if (d < listDef) { out(r) = null; cr.consume(); read += 1 }
              else if (d < entryDef) { out(r) = Vector.empty; cr.consume(); read += 1 }
              else {
                val buf = Vector.newBuilder[Any]
                var more = true
                while (more) {
                  buf += (if (cr.getCurrentDefinitionLevel == maxDef) value(cr, et) else null)
                  cr.consume(); read += 1
                  more = read < total && cr.getCurrentRepetitionLevel > 0
                }
                out(r) = buf.result()
              }
              r += 1
            }
          case dt =>
            var r = 0
            while (r < n) {
              if (cr.getCurrentDefinitionLevel == maxDef) out(r) = value(cr, dt)
              cr.consume()
              r += 1
            }
        }
        out
      }
      var r = 0
      while (r < n) {
        val vals = new Array[Any](cols.length)
        var c = 0
        while (c < cols.length) { vals(c) = cols(c)(r); c += 1 }
        emit(vals)
        r += 1
      }
      pages = reader.readNextRowGroup()
    }
  }

  /** [[readLocal]], falling back to the memoized cluster read. */
  def readSmall(spark: SparkSession, paths: String*): DataFrame =
    readLocal(spark, paths: _*)
      .getOrElse(read(spark, paths: _*))

  /** `DataType.asNullable` (private[spark]) re-spelled: what the file
    * source relation applies to any data schema it serves. */
  private def deepNullable(s: StructType): StructType = {
    import org.apache.spark.sql.types._
    def nn(dt: DataType): DataType = dt match {
      case st: StructType =>
        StructType(st.fields.map(f =>
          f.copy(dataType = nn(f.dataType), nullable = true)))
      case at: ArrayType =>
        at.copy(elementType = nn(at.elementType), containsNull = true)
      case mt: MapType =>
        mt.copy(keyType = nn(mt.keyType), valueType = nn(mt.valueType),
          valueContainsNull = true)
      case other => other
    }
    nn(s).asInstanceOf[StructType]
  }

  /** [[footerSchema]] of `file`, None on any read failure. */
  private def probe(spark: SparkSession, file: org.apache.hadoop.fs.Path): Option[StructType] =
    try {
      val reader = openReader(spark.sparkContext.hadoopConfiguration, file)
      try footerSchema(reader) finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** `spark.read.parquet(paths: _*)` with schema inference memoized by
    * file manifest. Drop-in: same relation, same schema, same plan — the
    * first read of a given file state infers and caches, every later
    * read of the SAME bytes skips the footer-inference job. */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    if (paths.isEmpty) return spark.read.parquet(paths: _*)
    val keyAndFirst =
      try manifestKey(spark, paths)
      catch { case scala.util.control.NonFatal(_) => null }
    if (keyAndFirst == null) return spark.read.parquet(paths: _*)
    val (key, firstFile, sparkPaths) = keyAndFirst
    val dfKey = s"${System.identityHashCode(spark)}|$key"
    val cachedDf = dfMemo.get(dfKey)
    if (cachedDf != null) return cachedDf
    if (memo.size > 4096) memo.clear() // bound the memos
    if (dfMemo.size > 1024) dfMemo.clear()
    val df = {
      val cached = memo.get(key)
      if (cached != null) spark.read.schema(cached).parquet(sparkPaths: _*)
      else {
        // cold read: one driver-side footer probe replaces the 1-task
        // inference job for Spark-written files (everything the engine
        // writes); non-Spark files (the raw testdata tables) infer once
        // and hit the memo thereafter
        firstFile.flatMap(probe(spark, _)) match {
          case Some(s) =>
            memo.putIfAbsent(key, s)
            spark.read.schema(s).parquet(sparkPaths: _*)
          case None =>
            val inferred = spark.read.parquet(sparkPaths: _*)
            memo.putIfAbsent(key, inferred.schema)
            inferred
        }
      }
    }
    dfMemo.putIfAbsent(dfKey, df)
    df
  }
}
