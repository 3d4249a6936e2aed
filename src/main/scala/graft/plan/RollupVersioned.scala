package graft.plan

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{Snapshots, VersionedPool}

/** SNAPSHOT-VERSIONED rollup summaries — the FOURTH
  * [[graft.sources.VersionedPool]] tier (after BM25 / IVF / phrase,
  * q162/q167/q184), closing VERDICT r12 #6: today a refresh
  * RE-REGISTERS in place, so a dashboard mid-flight over a refreshed
  * summary has no pinned snapshot to keep reading. Here every summary
  * state is an immutable pool batch and every maintenance op commits
  * with ONE [[Snapshots.publish]] pointer swap:
  *
  * {{{
  * root/
  *   pool/bNNNNN/   one FULL summary (Rollup.materialize layout) per
  *                  version — summaries are group-cardinality-sized, so
  *                  a whole-summary batch per version is the honest and
  *                  CHEAP cost (unlike postings, there is nothing big to
  *                  share between versions)
  *   meta/          Snapshots table: manifest (the one batch) + layout
  *                  rows (grain/measure/sketch/hist columns in order) +
  *                  the BASE FILE MANIFEST the version aggregates —
  *                  `kind='basefile'`, the time-travel key
  * }}}
  *
  * TIME TRAVEL is staleness-guard-shaped: [[registerVersion]] registers
  * version v's batch against the AS-OF base frame (an explicit read of
  * exactly v's basefile manifest), whose own FileIndex fingerprint
  * matches by construction — so a dashboard holding the as-of frame
  * serves v forever, a dashboard over the live base dir serves the
  * CURRENT version, and neither can ever read the other's data as
  * fresh (the guard falls through on any mismatch, as always).
  * [[Snapshots.pin]]/[[VersionedPool.vacuum]] give long-readers the
  * same bytes-linger-until-vacuum contract as every other tier.
  * Crash model: a crash before publish leaves an unreferenced pool
  * orphan — nothing to repair, only to vacuum. Single-writer
  * maintenance.
  *
  * COMPENSATION POLICY (r14, VERDICT r13 #7 — decided and documented):
  * versioned as-of serves are IMMUTABLE-BY-CONTRACT. An as-of frame
  * always answers from its own version's batch (fresh by construction)
  * and a later publish never upgrades it in place — there is
  * deliberately NO q198-style delta splice from an old version to the
  * head. Serving the head is `registerVersion(None)` — a NEW
  * registration over the head's manifest — and zero-maintenance
  * freshness for a LIVE base belongs to the unversioned
  * [[RollupRewrite]] tier (`setCompensation`), whose summaries bind the
  * live directory rather than a pinned manifest. The q214/q219/q220
  * gates pin pinned-version bit-stability across later publishes,
  * which is exactly this contract.
  *
  * ONE SIDE-LIST CORE (r14, VERDICT r13 #5): the plain, JOINED (AJI,
  * r13) and STAR (r13) shapes are one implementation over a
  * `fact ⋈ dim1 ⋈ … ⋈ dimk` side list — plain is k = 0, joined k = 1,
  * star k ≥ 2 — and every refresh folds through ONE fold,
  * [[Rollup.foldDiff]], the same fold [[RollupRewrite.refreshStale]]
  * runs: appends via the q212 TELESCOPING decomposition (`ΔF ⋈
  * dims_cur` plus one `F_saved ⋈ dims<i SAVED ⋈ ΔDi ⋈ dims>i cur` term
  * per appended dim — with k = 0 the plain delta aggregate, with k = 1
  * the q206 two-term fold), trash deletes via the q217 set-difference
  * retraction ([[Rollup.retract]] over the joined frame), mixed diffs
  * (q221) as sequential retraction ∘ append fold. The three entry kinds
  * differ only in which diffs they accept — classified once, by the
  * number of appended and removed sides — and they commit with
  * [[Snapshots.publish]] instead of a re-registration. Only the META
  * DIALECT and the registration entry point differ per shape, kept
  * byte-compatible with the r13 per-shape formats: plain metas carry no
  * key/dim rows, joined metas `kind='key'`/`'dimfile'`, star metas
  * `kind='keyI'`/`'dimfileI'`. */
object RollupVersioned {
  import RollupRewrite.filesOf

  /** The summary layout, fixed at [[init]] and carried in every
    * version's meta. */
  case class Layout(groupCols: Seq[String], measures: Seq[String],
                    distinctCols: Seq[String] = Nil, sketchK: Int = 64,
                    histCols: Seq[String] = Nil)

  /** One versioned side list: the fact plus k dims with their
    * (fact col, dim col) equi-keys. */
  private type Dims = Seq[(DataFrame, Seq[(String, String)])]

  // ---------------------------------------------------------------------
  // meta encode/decode — the only per-shape surface
  // ---------------------------------------------------------------------

  private def layoutRows(spark: SparkSession, layout: Layout,
                         baseEntries: Seq[String]): DataFrame = {
    import spark.implicits._
    def rows(kind: String, cols: Seq[String]) =
      cols.zipWithIndex.map { case (c, i) => (kind, c, i.toDouble) }
    (rows("grain", layout.groupCols) ++ rows("measure", layout.measures) ++
      rows("distinct", layout.distinctCols) ++ rows("hist", layout.histCols) ++
      baseEntries.sorted.zipWithIndex.map { case (e, i) =>
        ("basefile", e, i.toDouble) })
      .toDF("kind", "key", "num")
  }

  // key pairs URL-encode both names before joining with ':' (ADVICE r13
  // #2 — a fact column containing ':' would mis-split otherwise),
  // matching the j2/s2 lattice-manifest convention. Decode is identity
  // on the raw names older metas persisted (no '%' in practice).
  private def encName(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def decName(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Meta kind names per dim index: the joined dialect (`key` /
    * `dimfile`, k = 1) and the star dialect (`keyI` / `dimfileI`,
    * k ≥ 2) — exactly the r13 on-disk formats. */
  private def keyKind(n: Int, i: Int): String =
    if (n == 1) "key" else s"key$i"
  private def dimKind(n: Int, i: Int): String =
    if (n == 1) "dimfile" else s"dimfile$i"

  private def metaRows(spark: SparkSession, layout: Layout,
                       factEntries: Seq[String],
                       dims: Seq[(Seq[(String, String)], Seq[String])])
      : DataFrame = {
    import spark.implicits._
    val base = layoutRows(spark, layout, factEntries)
    if (dims.isEmpty) base
    else base.unionByName(
      dims.zipWithIndex.flatMap { case ((keys, entries), i) =>
        keys.zipWithIndex.map { case ((f, d), j) =>
          (keyKind(dims.size, i), s"${encName(f)}:${encName(d)}",
            j.toDouble) } ++
          entries.sorted.zipWithIndex.map { case (e, j) =>
            (dimKind(dims.size, i), e, j.toDouble) }
      }.toDF("kind", "key", "num"))
  }

  /** Driver-local (kind, key, num) rows of ONE version's meta — the meta
    * table is metadata-bounded by contract, and collecting it ONCE per
    * maintenance/serve op replaces the ~7 filter+collect Spark jobs the
    * per-field readers used to schedule (each a full plan+schedule round
    * trip on a tiny table; measured as a dominant driver-gap component of
    * the versioned gates). */
  private final case class MetaL(rows: Seq[(String, String, Double)]) {
    def keysOf(kind: String): Seq[String] = rows.iterator
      .filter(_._1 == kind).toSeq.sortBy(_._3).map(_._2)
    def keySetOf(kind: String): Set[String] =
      rows.iterator.filter(_._1 == kind).map(_._2).toSet
  }

  private def localMeta(meta: DataFrame): MetaL =
    MetaL(meta.select("kind", "key", "num").collect().toSeq.map(r =>
      (r.getString(0), if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2))))

  /** MetaL memo keyed by immutable (metaDir, version) (r14): a committed
    * version's meta rows never change, and one maintenance/serve op reads
    * the same version's meta several times — each a plan+collect Spark
    * job round trip (19 per versioned-AJI gate, measured). Metadata-sized
    * rows only (layout + manifest); pool row data never enters. */
  private val metaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, MetaL]()

  private def readMetaL(spark: SparkSession, root: String,
                        version: Option[Int] = None): MetaL = {
    val dir = VersionedPool.metaDir(root)
    val v = version.getOrElse(Snapshots.latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $dir")))
    val key = s"$dir#v=$v"
    val cached = metaMemo.get(key)
    // a warm memo must not outlive a vacuum: re-check the version dir
    // still exists (one fs probe, metadata-only) so time travel to a
    // vacuumed version keeps failing fast at readVersion's require
    // instead of surfacing later as FileNotFound on deleted pool
    // batches (ADVICE r14)
    if (cached != null && Snapshots.versionExists(spark, dir, v)) cached
    else {
      if (cached != null) metaMemo.remove(key)
      val m = localMeta(Snapshots.readVersionLocal(spark, dir, v))
      if (metaMemo.size > 1024) metaMemo.clear() // bound the memo
      metaMemo.putIfAbsent(key, m)
      m
    }
  }

  private def layoutOf(meta: MetaL): Layout =
    Layout(meta.keysOf("grain"), meta.keysOf("measure"),
      meta.keysOf("distinct"), 64, meta.keysOf("hist"))

  private def sketchKOf(meta: MetaL): Int =
    meta.rows.collectFirst {
      case ("stat", "sketch_k", n) => n.toInt }.getOrElse(64)

  private def baseEntriesOf(meta: MetaL): Set[String] =
    meta.keySetOf("basefile")

  private def metaDimCount(meta: MetaL): Int = {
    val kinds = meta.rows.iterator.map(_._1)
      .filter(_.startsWith("key")).toSeq.distinct
    if (kinds.isEmpty) 0
    else if (kinds == Seq("key")) 1
    else kinds.map(_.stripPrefix("key").toInt).max + 1
  }

  private def metaKeysOf(meta: MetaL, n: Int, i: Int)
      : Seq[(String, String)] =
    meta.keysOf(keyKind(n, i)).map { kv =>
      val Array(f, d) = kv.split(":", 2)
      decName(f) -> decName(d)
    }

  private def metaDimEntriesOf(meta: MetaL, n: Int, i: Int)
      : Set[String] =
    meta.keySetOf(dimKind(n, i))

  // ---------------------------------------------------------------------
  // shared frame plumbing
  // ---------------------------------------------------------------------

  private def baseEntries(base: DataFrame): Seq[String] = {
    val rel = base.queryExecution.analyzed.collectFirst {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
          _, _, _, _) => fs
    }.getOrElse(throw new IllegalArgumentException(
      "base must be a file-backed relation"))
    rel.location match {
      case p: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex =>
        p.allFiles().map(f =>
          s"${f.getPath}|${f.getLen}|${f.getModificationTime}").toSeq
      case other => other.inputFiles.toSeq.map { s =>
        val pth = new org.apache.hadoop.fs.Path(s)
        val st = pth.getFileSystem(
          base.sparkSession.sparkContext.hadoopConfiguration).getFileStatus(pth)
        s"$s|${st.getLen}|${st.getModificationTime}"
      }
    }
  }

  private def writeBatch(spark: SparkSession, root: String,
                         summary: DataFrame): String = {
    val batch = VersionedPool.nextBatch(spark, root)
    summary.write.mode("overwrite")
      .parquet(VersionedPool.poolPath(root, batch))
    batch
  }

  private def publishState(spark: SparkSession, root: String,
      layout: Layout, sketchK: Int, summary: DataFrame,
      factEntries: Seq[String],
      dims: Seq[(Seq[(String, String)], Seq[String])]): Int = {
    val batch = writeBatch(spark, root, summary)
    // the batch holds the summary now: release the retraction
    // checkpoints it was computed from
    Checkpoints.releaseInputs(summary)
    VersionedPool.publishMeta(spark, root, Seq(batch),
      Seq("sketch_k" -> sketchK.toDouble), None, "doc_id",
      org.apache.spark.sql.types.LongType,
      Some(metaRows(spark, layout.copy(sketchK = sketchK), factEntries,
        dims)))
  }

  // ---------------------------------------------------------------------
  // the side-list core: init and the refresh classification around
  // Rollup.foldDiff — shared verbatim by all three shapes
  // ---------------------------------------------------------------------

  private def initCore(spark: SparkSession, root: String, fact: DataFrame,
                       dims: Dims, layout: Layout): Int = {
    VersionedPool.requireFresh(spark, root)
    publishState(spark, root, layout, layout.sketchK,
      Rollup.materialize(Rollup.starJoin(fact, dims), layout.groupCols,
        layout.measures, layout.distinctCols, layout.sketchK,
        layout.histCols),
      baseEntries(fact),
      dims.map { case (d, keys) => (keys, baseEntries(d)) })
  }

  /** Every refresh entry: read the latest version's meta ONCE, classify
    * each side's current manifest against it, and — when the entry
    * `accepts` (appended sides, removed sides) — fold the diff with
    * [[Rollup.foldDiff]], the fold [[RollupRewrite.refreshStale]] runs,
    * and publish the result as a new version. Grains are plain columns
    * here. None when the entry refuses the diff kind, or the fold does
    * (unresolvable trash, a bare read missing a needed column). */
  private def refreshCore(spark: SparkSession, root: String,
      fact: DataFrame, dims: Seq[DataFrame], trashDirs: Seq[String])(
      accepts: (Int, Int) => Boolean): Option[Int] = {
    val meta = readMetaL(spark, root)
    val n = metaDimCount(meta)
    require(dims.size == n, s"expected $n dims, got ${dims.size}")
    val (layout, sketchK) = (layoutOf(meta), sketchKOf(meta))
    val keys = (0 until n).map(metaKeysOf(meta, n, _))
    val saved = baseEntriesOf(meta) +: (0 until n).map(metaDimEntriesOf(meta, n, _))
    val frames = fact +: dims
    val current = frames.map(baseEntries(_).toSet)
    val appended = current.zip(saved).count { case (c, s) => (c -- s).nonEmpty }
    val removed = saved.zip(current).count { case (s, c) => (s -- c).nonEmpty }
    if (!accepts(appended, removed)) return None
    Rollup.foldDiff(spark, saved, current, frames, keys, layout.groupCols,
      Map.empty, layout.measures, layout.distinctCols, sketchK,
      layout.histCols, summaryAt(spark, root, meta), trashDirs).map {
      case (folded, _, _) => publishState(spark, root, layout, sketchK,
        folded, current.head.toSeq, keys.zip(current.tail.map(_.toSeq)))
    }
  }

  // the diff kinds each entry folds, by (appended sides, removed sides)
  private val PureAppend = (a: Int, r: Int) => a > 0 && r == 0
  private val SingleSideDelete = (a: Int, r: Int) => a == 0 && r == 1
  private val Mixed = (a: Int, r: Int) => a > 0 && r > 0

  /** As-of state of version v (latest when None): the meta plus
    * explicit reads of exactly the manifests the version aggregated. */
  private def asOfState(spark: SparkSession, root: String,
      version: Option[Int]): (Layout, Int, DataFrame, Dims) = {
    val meta = readMetaL(spark, root, version)
    val n = metaDimCount(meta)
    val asOfFact = graft.sources.Pq.read(spark, filesOf(baseEntriesOf(meta)): _*)
    val asOfDims = (0 until n).map { i =>
      graft.sources.Pq.read(spark, filesOf(metaDimEntriesOf(meta, n, i)): _*) ->
        metaKeysOf(meta, n, i)
    }
    (layoutOf(meta), sketchKOf(meta), asOfFact, asOfDims)
  }

  // ---------------------------------------------------------------------
  // public API — the three shapes, each a thin dispatch onto the core
  // ---------------------------------------------------------------------

  /** Aggregate `base` under `layout`, commit it as version 1. */
  def init(spark: SparkSession, root: String, base: DataFrame,
           layout: Layout): Int =
    initCore(spark, root, base, Nil, layout)

  /** Fold a PURE APPEND of `base` (vs the committed version's basefile
    * manifest) into a NEW version: aggregate exactly the appended
    * files, [[Rollup.merge]] with the committed summary, commit one new
    * batch + publish. Old versions stay readable/pinned. Returns None —
    * publishing nothing — when the diff is not a pure append (removals
    * / in-place changes: rebuild via [[init]] on a fresh root) or is
    * empty. */
  def refreshAppended(spark: SparkSession, root: String,
                      base: DataFrame): Option[Int] =
    refreshCore(spark, root, base, Nil, Nil)(PureAppend)

  /** Fold a PURE DELETE (files moved out of the base through
    * [[RollupRewrite.deleteFiles]]' trash protocol — bytes linger for
    * the retraction read) into a NEW version: the removed files'
    * partials RETRACT from the committed summary via the shared
    * [[Rollup.retract]] arithmetic (sums/counts subtract exactly,
    * emptied groups drop, extremum/sketch-touched groups recompute
    * from the reduced base filtered to the affected grains), one new
    * batch commits with one publish, and every older version — pinned
    * dashboards included — keeps serving its own state. Returns None
    * when the diff is not a pure delete, the removed files cannot be
    * resolved in `trashDirs`, or the bare reads miss a needed column
    * (the same refusal discipline as [[RollupRewrite.refreshStale]]'s
    * delete path). */
  def refreshRemoved(spark: SparkSession, root: String, base: DataFrame,
                     trashDirs: Seq[String]): Option[Int] =
    refreshCore(spark, root, base, Nil, trashDirs)(SingleSideDelete)

  /** Fold a MIXED diff (removes AND appends in one window — a
    * trash-protocol compaction of the base, e.g.
    * [[graft.sources.PathLifecycle.compactParquetTrash]]) into a NEW
    * version: the q221 retraction ∘ append-fold composition as ONE
    * atomic publish. Returns None on pure diffs (use
    * [[refreshAppended]] / [[refreshRemoved]]), unresolvable trash, or
    * a bare read missing a needed column. */
  def refreshMixed(spark: SparkSession, root: String, base: DataFrame,
                   trashDirs: Seq[String]): Option[Int] =
    refreshCore(spark, root, base, Nil, trashDirs)(Mixed)

  /** Version v's summary frame (latest when None) — a plain scan of its
    * immutable pool batch, serving-stable while maintenance publishes. */
  def summaryOf(spark: SparkSession, root: String,
                version: Option[Int]): DataFrame =
    summaryAt(spark, root, readMetaL(spark, root, version))

  private def summaryAt(spark: SparkSession, root: String,
                        meta: MetaL): DataFrame =
    graft.sources.Pq.read(spark, meta.keysOf("batch").sorted
      .map(VersionedPool.poolPath(root, _)).toIndexedSeq: _*)

  /** Register version v (latest when None) with [[RollupRewrite]] and
    * return the AS-OF base frame its dashboards should query: an
    * explicit read of exactly the basefile manifest the version
    * aggregated, whose FileIndex fingerprint matches the registration
    * by construction — so aggregates over the returned frame serve from
    * this version's batch, aggregates over a moved-on base dir fall
    * through (or serve a LATER registered version). Registrations for
    * different versions coexist: their base path sets differ. */
  def registerVersion(spark: SparkSession, root: String,
                      version: Option[Int] = None): DataFrame = {
    val (layout, sketchK, asOf, _) = asOfState(spark, root, version)
    RollupRewrite.register(asOf, summaryOf(spark, root, version),
      layout.groupCols, layout.measures, layout.distinctCols, sketchK,
      histCols = layout.histCols)
    asOf
  }

  /** [[VersionedPool.vacuum]]: drop unpinned meta versions past
    * `keepLast`, delete pool batches no remaining version references. */
  def vacuum(spark: SparkSession, root: String,
             keepLast: Int): (Seq[Int], Seq[String]) =
    VersionedPool.vacuum(spark, root, keepLast)

  // ---------------------------------------------------------------------
  // The JOINED (AJI) versioned tier (r13): the k = 1 side list. Meta
  // additionally carries the join keys (`kind='key'`) and the DIM
  // side's basefile manifest (`kind='dimfile'`) — time travel over a
  // maintained aggregate join summary. Same crash model, pinning, and
  // vacuum as the plain tier.
  // ---------------------------------------------------------------------

  /** Aggregate `fact ⋈ dim` under `layout`, commit as version 1 of a
    * VERSIONED aggregate join summary. */
  def initJoined(spark: SparkSession, root: String, fact: DataFrame,
                 dim: DataFrame, keys: Seq[(String, String)],
                 layout: Layout): Int =
    initCore(spark, root, fact, Seq(dim -> keys), layout)

  /** Fold PURE APPENDS on either (or both) sides into a NEW version via
    * the q206 inner-join distributivity — `ΔF ⋈ dimCur` plus
    * `F_saved ⋈ ΔD` (the saved fact manifest read directly: the honest
    * dim-append cost, like [[RollupRewrite]]'s joined refresh) — merged
    * with the committed summary, one batch + one publish. Returns None
    * on a non-append diff on either side (rebuild via [[initJoined]] on
    * a fresh root), an empty diff, or a bare read missing a needed
    * column. Old versions stay readable and pinnable. */
  def refreshAppendedJoined(spark: SparkSession, root: String,
                            fact: DataFrame, dim: DataFrame): Option[Int] =
    refreshCore(spark, root, fact, Seq(dim), Nil)(PureAppend)

  /** Fold a PURE SINGLE-SIDE DELETE (files trash-moved through
    * [[RollupRewrite.deleteFiles]]) into a NEW version of the versioned
    * AJI: the removed join tuples are exactly `removed-side rows ⋈ the
    * other side` (the q217 set-difference distributivity), so
    * [[Rollup.retract]] applies verbatim to the joined frame —
    * sums/counts subtract exactly, extremum-touched groups recompute
    * from the CURRENT join, emptied groups drop — and one batch commits
    * with one publish while older versions stay pinned/readable.
    * Returns None when the delete is mixed with an append, touches both
    * sides, cannot be trash-resolved, or a bare read misses a needed
    * column. */
  def refreshRemovedJoined(spark: SparkSession, root: String,
                           fact: DataFrame, dim: DataFrame,
                           trashDirs: Seq[String]): Option[Int] =
    refreshCore(spark, root, fact, Seq(dim), trashDirs)(SingleSideDelete)

  /** [[refreshMixed]] at AJI width: any trash-resolvable diff folds
    * as sequential retraction ∘ append-fold into one new version —
    * the q221 composition through the q217/q206 join algebra. None on
    * pure diffs (use the append/remove ops). */
  def refreshMixedJoined(spark: SparkSession, root: String,
                         fact: DataFrame, dim: DataFrame,
                         trashDirs: Seq[String]): Option[Int] =
    refreshCore(spark, root, fact, Seq(dim), trashDirs)(Mixed)

  /** Register version v of a versioned AJI (latest when None) and
    * return the AS-OF (fact, dim) frames its dashboards should join:
    * explicit reads of exactly the manifests the version aggregated,
    * whose fingerprints match the registration by construction —
    * different versions' registrations coexist (their path sets
    * differ), and a moved-on live base falls through. */
  def registerVersionJoined(spark: SparkSession, root: String,
                            version: Option[Int] = None)
      : (DataFrame, DataFrame) = {
    val (layout, sketchK, asOfFact, asOfDims) =
      asOfState(spark, root, version)
    val (asOfDim, keys) = asOfDims.head
    RollupRewrite.registerJoined(asOfFact, asOfDim, keys,
      summaryOf(spark, root, version), layout.groupCols, layout.measures,
      layout.distinctCols, sketchK, layout.histCols)
    (asOfFact, asOfDim)
  }

  // ---------------------------------------------------------------------
  // The STAR versioned tier (r13): the k ≥ 2 side list. Meta carries
  // per-dim keys (`kind='keyI'`) and per-dim basefile manifests
  // (`kind='dimfileI'`). Appends fold via the q212 TELESCOPING
  // decomposition; single-side trash deletes retract via the q217
  // algebra. Same pool/pin/vacuum contract as the other tiers.
  // ---------------------------------------------------------------------

  /** Aggregate the star join under `layout`, commit as version 1. */
  def initStar(spark: SparkSession, root: String, fact: DataFrame,
               dims: Seq[(DataFrame, Seq[(String, String)])],
               layout: Layout): Int = {
    require(dims.size >= 2, "initStar needs 2+ dims; use initJoined")
    initCore(spark, root, fact, dims, layout)
  }

  /** Fold PURE APPENDS on the fact and/or ANY subset of dims into a NEW
    * version via the q212 telescoping decomposition: `ΔF ⋈ dims_cur`
    * plus one term per appended dim i — `F_saved ⋈ dims<i SAVED ⋈ ΔDi ⋈
    * dims>i cur` — pairwise disjoint by first-new-side, merged with the
    * committed summary, one batch + one publish. Returns None on any
    * removal, an empty diff, or a bare read missing a needed column. */
  def refreshAppendedStar(spark: SparkSession, root: String,
                          fact: DataFrame,
                          dims: Seq[(DataFrame, Seq[(String, String)])])
      : Option[Int] =
    refreshCore(spark, root, fact, dims.map(_._1), Nil)(PureAppend)

  /** Fold a PURE SINGLE-SIDE trash delete (fact or ONE dim) into a NEW
    * version — the q217 star retraction as one atomic publish. Returns
    * None on mixed diffs, multi-side deletes, unresolvable trash, or a
    * bare read missing a needed column. */
  def refreshRemovedStar(spark: SparkSession, root: String,
                         fact: DataFrame,
                         dims: Seq[(DataFrame, Seq[(String, String)])],
                         trashDirs: Seq[String]): Option[Int] =
    refreshCore(spark, root, fact, dims.map(_._1), trashDirs)(SingleSideDelete)

  /** [[refreshMixed]] at star width: any trash-resolvable diff folds
    * as sequential retraction ∘ append-fold into one new version.
    * None on pure diffs (use the append/remove ops). */
  def refreshMixedStar(spark: SparkSession, root: String,
                       fact: DataFrame,
                       dims: Seq[(DataFrame, Seq[(String, String)])],
                       trashDirs: Seq[String]): Option[Int] =
    refreshCore(spark, root, fact, dims.map(_._1), trashDirs)(Mixed)

  /** Register version v of a versioned STAR summary (latest when None)
    * and return the AS-OF (fact, dims) frames its dashboards should
    * join — explicit reads of exactly the version's manifests, so
    * different versions' registrations coexist and a moved-on live
    * base falls through. */
  def registerVersionStar(spark: SparkSession, root: String,
                          version: Option[Int] = None)
      : (DataFrame, Seq[(DataFrame, Seq[(String, String)])]) = {
    val (layout, sketchK, asOfFact, asOfDims) =
      asOfState(spark, root, version)
    RollupRewrite.registerStar(asOfFact, asOfDims,
      summaryOf(spark, root, version), layout.groupCols, layout.measures,
      layout.distinctCols, sketchK, layout.histCols)
    (asOfFact, asOfDims)
  }
}
