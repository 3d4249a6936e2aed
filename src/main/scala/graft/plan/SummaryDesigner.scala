package graft.plan

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The DESIGN half of the self-tuning summary loop — where q187's
  * workload capture feeds the HRU grain advisor, this completes the
  * circle to FULL summary specifications: which grains to materialize
  * (the advisor's business) AND which measure / sketch / histogram
  * columns each must carry so that every captured query actually serves
  * from it. capture → design → [[buildAndRegister]] → serve, no human
  * in the loop.
  *
  * Requirement model (the serving rules of [[RollupRewrite]], inverted):
  * a query is servable by a grain G iff its grouping dims, its filter
  * columns, AND its exact count(distinct) arguments all lie in G (the
  * q191/q196 conjunct rule + the q180 distinct-in-grain rule) — so each
  * captured entry's requirement set is that union, and the advisor runs
  * on requirement sets exactly like [[LatticeAdvisor.adviseFiltered]].
  * The carried columns of an advised grain are then the union of the
  * needs of every entry it can serve: plain measures (sum / count /
  * min / max / avg), KMV sketch columns (q171; a single sketch k per
  * design — entries with conflicting ks are skipped, the layout stores
  * one k), and histogram columns (q200). Entries with underivable
  * aggregate shapes (`servable = false`) are ignored — designing for
  * them would waste storage on summaries nothing can use.
  *
  * Computed grains flow through: a captured `month(o_orderdate)` grain
  * token is re-parsed with `expr()` and becomes a synthesized summary
  * column registered via `groupExprOf` — the q191 machinery.
  *
  * Everything is DETERMINISTIC: tokens sort lexicographically, the
  * advisor's greedy is exact-integer, carried columns sort — identical
  * captures produce identical designs (the property the q201 gate's
  * hash-oracle leans on). Scale shape: the design itself is
  * driver-sized (capture log + one advisor cardinality pass); the cost
  * is in materializing the chosen summaries, which is the point. */
object SummaryDesigner {

  /** One designed summary: materialize + register arguments.
    * `grainExprSql` carries the defining SQL of SYNTHESIZED (computed)
    * grain columns; plain grain columns are absent from it. */
  case class SummarySpec(grainCols: Seq[String],
                         grainExprSql: Map[String, String],
                         measures: Seq[String],
                         distinctCols: Seq[String],
                         histCols: Seq[String],
                         sketchK: Int)

  private def dimName(token: String, plainCols: Set[String]): String =
    if (plainCols.contains(token)) token
    else "__g" + java.security.MessageDigest.getInstance("MD5")
      .digest(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(8)

  /** Design a k-summary lattice for `fact ⋈ dims` — plain rollups over
    * `fact` with no dims, join or star summaries with one or more — from
    * the current capture log (see
    * [[RollupRewrite.startWorkloadCapture]]; a one-dim lookup matches
    * either orientation). Grain cardinalities come from one advisor pass
    * over the joined frame; `sketchCardK = Some(k)` switches it to the
    * approx (cube-free) mode — the 100-TB path. Grains are plain columns
    * from any side, or EXPRESSION grains captured by resolved SQL and
    * synthesized as `__g` columns over the joined output (r13). Returns
    * Nil when nothing servable was captured for this side list. */
  def design(fact: DataFrame,
             dims: Seq[(DataFrame, Seq[(String, String)])] = Nil, k: Int,
             sketchCardK: Option[Int] = None): Seq[SummarySpec] =
    designWith(fact, dims)((frame, cols, wl) => LatticeAdvisor.advise(frame,
      cols, wl, math.min(k, 1 << cols.size), sketchCardK))

  /** [[design]] of plain rollups under a TOTAL ROW budget instead of a
    * view count — the HRU resource-bounded mode
    * ([[LatticeAdvisor.adviseUnderBudget]]): grains are admitted while
    * their summary rows fit the remaining budget and stop at zero
    * benefit, so the design never commits to more summary storage than
    * `maxRows` rows across the lattice. */
  def designUnderBudget(base: DataFrame, maxRows: Long,
                        sketchCardK: Option[Int] = None): Seq[SummarySpec] =
    designWith(base, Nil)((frame, cols, wl) =>
      LatticeAdvisor.adviseUnderBudget(frame, cols, wl, maxRows, sketchCardK))

  /** The one design core: requirement sets of the servable captured
    * entries (one sketch k per design — conflicting-k sketch entries are
    * skipped), advised over `Rollup.starJoin(fact, dims)`, each advised
    * grain carrying the union of the needs of the entries it serves.
    * Global (empty-grain) entries stay out of the workload — an
    * unfiltered one has no grain to design for — but their requirement
    * tokens still become advisor dims. */
  private def designWith(fact: DataFrame,
      dims: Seq[(DataFrame, Seq[(String, String)])])(
      adviseFn: (DataFrame, Seq[(String, Column)], Seq[Set[String]]) =>
        Seq[LatticeAdvisor.Advice]): Seq[SummarySpec] =
    RollupRewrite.withCaptureSuspended {
      val all = RollupRewrite.capturedEntries(RollupRewrite.scanRootPaths(fact),
        dims.map { case (d, keys) => (RollupRewrite.scanRootPaths(d), keys.toSet) }.toSet)
      val sketchK = all.filter(_.servable).flatMap(_.sketchKs).headOption.getOrElse(64)
      val entries = all.filter(e => e.servable &&
        (e.sketchKs.isEmpty || e.sketchKs == Set(sketchK)))
      val designable = entries.filter(_.grain.nonEmpty)
      if (designable.isEmpty) Nil
      else {
        val reqOf: RollupRewrite.CaptureEntry => Set[String] =
          e => e.grain ++ e.filterCols ++ e.distinctCols
        val frame = Rollup.starJoin(fact, dims)
        val frameCols = frame.columns.toSet
        val tokens = entries.flatMap(reqOf).distinct.sorted
        val nameOf = tokens.map(t => t -> dimName(t, frameCols)).toMap
        val cols: Seq[(String, Column)] = tokens.map(t =>
          nameOf(t) -> (if (frameCols.contains(t)) col(t) else expr(t)))
        adviseFn(frame, cols, designable.map(e => reqOf(e).map(nameOf))).flatMap { a =>
          val served = designable.filter(e => reqOf(e).map(nameOf).subsetOf(a.grain.toSet))
          if (served.isEmpty) None
          else Some(SummarySpec(a.grain,
            a.grain.collect {
              case n if !frameCols.contains(n) => n -> tokens.find(t => nameOf(t) == n).get
            }.toMap,
            served.flatMap(_.measures).distinct.sorted,
            served.flatMap(_.sketchCols).distinct.sorted,
            served.flatMap(_.histCols).distinct.sorted,
            sketchK))
        }
      }
    }

  /** Materialize + register every designed spec over `fact ⋈ dims`
    * under `outDir` (`design<tag>_<i>_<grain digest>` parquet each, tag
    * "", "j" or "s" for 0, 1 or N dims) — after this, the captured
    * workload re-serves from the designed summaries with no base scans
    * and no serve-time joins. Returns the summary paths in spec order. */
  def buildAndRegister(spark: SparkSession, fact: DataFrame,
                       dims: Seq[(DataFrame, Seq[(String, String)])],
                       specs: Seq[SummarySpec], outDir: String): Seq[String] =
    specs.zipWithIndex.map { case (sp, i) =>
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(sp.grainCols.mkString(",")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString.take(8)
      val tag = Seq("", "j", "s")(math.min(dims.size, 2))
      build(spark, fact, dims, sp, s"$outDir/design${tag}_${i}_$digest")
    }

  /** The one build: materialize `sp` over `fact ⋈ dims` at `out` and
    * register it, capture suspended. */
  private def build(spark: SparkSession, fact: DataFrame,
                    dims: Seq[(DataFrame, Seq[(String, String)])],
                    sp: SummarySpec, out: String): String =
    RollupRewrite.withCaptureSuspended {
      Rollup.materializeExpr(Rollup.starJoin(fact, dims),
          sp.grainCols.map(g => g -> sp.grainExprSql.get(g).map(expr).getOrElse(col(g))),
          sp.measures, sp.distinctCols, sp.sketchK, sp.histCols)
        .write.mode("overwrite").parquet(out)
      RollupRewrite.registerSides(fact, dims, graft.sources.Pq.read(spark, out),
        sp.grainCols, sp.measures, sp.distinctCols, sp.sketchK, sp.histCols,
        sp.grainExprSql.map { case (n, sql) => n -> expr(sql) })
      out
    }

  /** CROSS-TIER design under ONE row budget (VERDICT r12 #2): where
    * [[design]] optimizes one side list at a time — a mixed workload
    * over SHARED bases gets independent plain, join and star designs
    * that double-spend the budget — this runs ONE
    * HRU greedy over the UNION of candidate structures across tiers,
    * with the shared-benefit dedupe the per-tier split cannot see: a
    * join-aggregate is servable EITHER by an AJI (one summary, cost =
    * its rows) OR by a PAIR of plain summaries through navigation over
    * one dim (q197 — fact grain ⊇ fact-side requirements ∪ join
    * keys, dim grain ⊇ dim-side requirements ∪ keys; cost = the two
    * summaries' rows), and the plain summaries that serve the join
    * ALSO serve the plain queries — so their benefit absorbs both and
    * the greedy stops building a redundant AJI when the pair already
    * pays (or picks the AJI when its rows beat the pair's). Navigation
    * serves only undistincted sum/count/min/max/avg of fact measures,
    * so join queries carrying sketch/histogram/exact-distinct needs
    * get AJI-only options. Moves per round: every single candidate
    * (plain grain per base, AJI grain per join, star grain per star)
    * plus navigation PAIRS built from per-query minimal masks and the
    * per-side union mask; a move is admissible while its NEW
    * structures' total rows fit the remaining budget; zero-benefit
    * winners stop the selection (the HRU budget mode).
    * MAINTENANCE-AWARE (r14, VERDICT r13 #2): `updatesPerPeriod`
    * supplies per-side append frequencies, and each candidate's
    * fact-sized refresh terms (an AJI/star dim append costs a
    * registered-fact ⋈ other-dims scan — the q206/q212 asymmetry)
    * subtract from its query benefit, so an append-heavy dim steers
    * the greedy toward plain-pair/tuple structures whose maintenance
    * is delta-sized; unsupplied sides cost 0 and the model reduces to
    * the pure query-benefit one. Deterministic:
    * exact-integer cardinalities (one cube pass per base / join /
    * star frame), tie-breaks (benefit DESC, new rows ASC, move name
    * ASC). Computed-grain (expression) tokens whose REFERENCES all
    * live on ONE side attribute to it and PAIR/TUPLE like plain
    * columns (r14, VERDICT r13 #6 — a month(o_orderdate) join workload
    * can design a plain pair under a tight budget); cross-side or
    * unparseable expression tokens stay single-structure candidates
    * (plain/AJI/star — r13). STAR queries absorb the same way at star
    * width:
    * a star aggregate is servable by a star summary OR by a TUPLE of
    * plain summaries through STAR NAVIGATION (q216 — one summary per
    * side, key grains included, cost = the tuple's summed rows), so
    * plain summaries shared with the plain/join workload absorb star
    * benefit too; nav-ineligible needs (distinct/sketch/histogram)
    * stay star-summary-only. */
  case class CrossDesign(plain: Seq[(Int, SummarySpec)],
                         joined: Seq[(Int, SummarySpec)],
                         star: Seq[(Int, SummarySpec)]) {
    def totalRows(rowsOf: (Int, Int, Seq[String]) => Long): Long =
      (plain.map { case (i, sp) => rowsOf(0, i, sp.grainCols) } ++
        joined.map { case (i, sp) => rowsOf(1, i, sp.grainCols) } ++
        star.map { case (i, sp) => rowsOf(2, i, sp.grainCols) }).sum
  }

  def designCrossTier(bases: Seq[DataFrame],
      joins: Seq[(DataFrame, DataFrame, Seq[(String, String)])],
      stars: Seq[(DataFrame, Seq[(DataFrame, Seq[(String, String)])])],
      maxRows: Long,
      sketchCardK: Option[Int] = None,
      updatesPerPeriod: Seq[(DataFrame, Double)] = Nil): CrossDesign =
    RollupRewrite.withCaptureSuspended {
    require(maxRows > 0, s"row budget must be positive, got $maxRows")
    val basePaths = bases.map(b => RollupRewrite.scanRootPaths(b))
    def baseIdx(paths: Set[String]): Option[Int] = basePaths.indexOf(paths) match {
      case -1 => None; case i => Some(i)
    }
    // ---- queries (servable captured entries, plain-column tokens only)
    case class PlainQ(base: Int, req: Set[String], e: RollupRewrite.CaptureEntry)
    case class JoinQ(join: Int, req: Set[String], factReq: Set[String],
                     dimReq: Set[String], pairable: Boolean,
                     e: RollupRewrite.CaptureEntry)
    // sideReqs: per-side (base index, side requirements ∪ that side's
    // key columns) — center first — when the query is NAV-TUPLABLE
    // (no distinct/sketch/hist needs, every side a designable base)
    case class StarQ(star: Int, req: Set[String],
                     sideReqs: Option[Seq[(Int, Set[String])]],
                     e: RollupRewrite.CaptureEntry)
    val plainQs: Seq[PlainQ] = bases.zipWithIndex.flatMap { case (b, i) =>
      val cols = b.columns.toSet
      // grain tokens may be EXPRESSION SQL (r13) — their references are
      // base columns by capture construction; filter/distinct tokens
      // are always plain reference names
      RollupRewrite.capturedEntries(basePaths(i)).filter(_.servable)
        .map(e => PlainQ(i, e.grain ++ e.filterCols ++ e.distinctCols, e))
        .filter(q => (q.e.filterCols ++ q.e.distinctCols).subsetOf(cols))
    }
    // a grain token attributes to a side when it IS one of its columns,
    // or is expression SQL whose REFERENCES all live on it (r14 —
    // single-side expression grains pair/tuple like plain columns;
    // cross-side or unparseable ones stay single-structure-only)
    val parser = bases.headOption.getOrElse(
      joins.headOption.map(_._1).getOrElse(stars.head._1))
      .sparkSession.sessionState.sqlParser
    def tokenRefs(t: String): Set[String] =
      scala.util.Try(parser.parseExpression(t).collect {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          u.nameParts.last
      }.toSet).getOrElse(Set.empty)
    /** Side of an EXPRESSION token relative to two column sets:
      * Some(true) = first side, Some(false) = second, None = plain
      * column (membership rules apply) or unattributable. Ties (refs
      * within both) go to the first side, deterministically. */
    def exprSideOf(t: String, aCols: Set[String], bCols: Set[String])
        : Option[Boolean] =
      if (aCols.contains(t) || bCols.contains(t)) None
      else {
        val refs = tokenRefs(t)
        if (refs.nonEmpty && refs.subsetOf(aCols)) Some(true)
        else if (refs.nonEmpty && refs.subsetOf(bCols)) Some(false)
        else None
      }
    val joinQs: Seq[JoinQ] = joins.zipWithIndex.flatMap { case ((f, d, keys), j) =>
      val fCols = f.columns.toSet
      val dCols = d.columns.toSet
      RollupRewrite.capturedEntries(RollupRewrite.scanRootPaths(f),
          Set((RollupRewrite.scanRootPaths(d), keys.toSet)))
        .filter(_.servable).flatMap { e =>
          val req = e.grain ++ e.filterCols ++ e.distinctCols
          if (!(e.filterCols ++ e.distinctCols).subsetOf(fCols ++ dCols))
            None
          else Some(JoinQ(j, req,
            req.filter(t => fCols.contains(t) ||
              exprSideOf(t, fCols, dCols).contains(true)) ++ keys.map(_._1),
            req.filter(t => dCols.contains(t) ||
              exprSideOf(t, fCols, dCols).contains(false)) ++ keys.map(_._2),
            pairable = e.distinctCols.isEmpty && e.sketchCols.isEmpty &&
              e.histCols.isEmpty &&
              e.grain.forall(t => fCols.contains(t) || dCols.contains(t) ||
                exprSideOf(t, fCols, dCols).isDefined) &&
              baseIdx(RollupRewrite.scanRootPaths(f)).isDefined &&
              baseIdx(RollupRewrite.scanRootPaths(d)).isDefined, e))
        }
    }
    val starQs: Seq[StarQ] = stars.zipWithIndex.flatMap { case ((f, ds), si) =>
      val cols = (f +: ds.map(_._1)).flatMap(_.columns).toSet
      val centerIdx = baseIdx(RollupRewrite.scanRootPaths(f))
      val dimIdxs = ds.map { case (d, _) =>
        baseIdx(RollupRewrite.scanRootPaths(d)) }
      RollupRewrite.capturedEntries(RollupRewrite.scanRootPaths(f),
          ds.map { case (d, keys) =>
            (RollupRewrite.scanRootPaths(d), keys.toSet) }.toSet)
        .filter(_.servable).flatMap { e =>
          val req = e.grain ++ e.filterCols ++ e.distinctCols
          if (!(e.filterCols ++ e.distinctCols).subsetOf(cols)) None
          else {
            // expression tokens attribute to the FIRST side (center,
            // then dims in order) whose columns hold all their
            // references (r14) — cross-side ones stay star-only
            val sideCols: Seq[Set[String]] =
              f.columns.toSet +: ds.map(_._1.columns.toSet)
            def starExprSide(t: String): Option[Int] =
              if (sideCols.exists(_.contains(t))) None
              else {
                val refs = tokenRefs(t)
                if (refs.isEmpty) None
                else sideCols.indexWhere(sc => refs.subsetOf(sc)) match {
                  case -1 => None
                  case i => Some(i)
                }
              }
            val tuplable = e.distinctCols.isEmpty && e.sketchCols.isEmpty &&
              e.histCols.isEmpty &&
              e.grain.forall(t => cols.contains(t) ||
                starExprSide(t).isDefined) &&
              centerIdx.isDefined && dimIdxs.forall(_.isDefined)
            val sideReqs =
              if (!tuplable) None
              else Some(
                (centerIdx.get, req.filter(t => f.columns.contains(t) ||
                  starExprSide(t).contains(0)) ++
                  ds.flatMap(_._2.map(_._1))) +:
                ds.zipWithIndex.map { case ((d, keys), di) =>
                  (dimIdxs(di).get,
                    req.filter(t => d.columns.contains(t) ||
                      starExprSide(t).contains(di + 1)) ++ keys.map(_._2))
                })
            Some(StarQ(si, req, sideReqs, e))
          }
        }
    }
    if (plainQs.isEmpty && joinQs.isEmpty && starQs.isEmpty)
      return CrossDesign(Nil, Nil, Nil)
    // ---- candidate grains + exact cardinalities, one pass per frame
    val joinIdxByBase: Map[Int, Seq[Int]] = joins.indices.flatMap { j =>
      Seq(baseIdx(RollupRewrite.scanRootPaths(joins(j)._1)).map(_ -> j),
          baseIdx(RollupRewrite.scanRootPaths(joins(j)._2)).map(_ -> j))
        .flatten
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // sketchCardK switches every per-frame cardinality pass to the
    // approx (cube-free) KMV mode — the 100-TB path, deterministic
    // like the per-tier designers' (d <= 8 per frame there)
    def cardsOf(frame: DataFrame, tokens: Seq[String]): Map[Set[String], Long] =
      if (tokens.isEmpty) Map(Set.empty[String] -> 1L)
      else {
        val dims = tokens.sorted.map(t => t ->
          (if (frame.columns.contains(t)) col(t) else expr(t)))
        sketchCardK.fold(LatticeAdvisor.grainCardinalities(frame, dims))(
            k => LatticeAdvisor.grainCardinalitiesApprox(frame, dims, k))
          .map { case (mask, n) =>
            dims.zipWithIndex.collect {
              case ((nm, _), i) if (mask & (1 << i)) != 0 => nm
            }.toSet -> n
          }
      }
    val baseTokens: Seq[Seq[String]] = bases.indices.map { i =>
      val own = plainQs.filter(_.base == i).flatMap(_.req)
      val nav = joinIdxByBase.getOrElse(i, Nil).flatMap { j =>
        val isFact = baseIdx(RollupRewrite.scanRootPaths(joins(j)._1)).contains(i)
        joinQs.filter(q => q.join == j && q.pairable)
          .flatMap(q => if (isFact) q.factReq else q.dimReq)
      }
      val starNav = starQs.flatMap(_.sideReqs.toSeq.flatten)
        .collect { case (bi, req) if bi == i => req }.flatten
      val ownSet = own.toSet
      val bCols = bases(i).columns.toSet
      (own ++ nav ++ starNav).distinct.sorted.filter(t =>
        bCols.contains(t) || ownSet.contains(t) || {
          // navigation-sourced EXPRESSION tokens (r14) belong here when
          // their references are this base's columns
          val refs = tokenRefs(t)
          refs.nonEmpty && refs.subsetOf(bCols)
        })
    }
    val baseCards: Seq[Map[Set[String], Long]] =
      bases.indices.map(i => cardsOf(bases(i), baseTokens(i)))
    val joinFrames = joins.map { case (f, d, keys) =>
      Rollup.starJoin(f, Seq(d -> keys)) }
    val joinCards: Seq[Map[Set[String], Long]] = joins.indices.map { j =>
      cardsOf(joinFrames(j),
        joinQs.filter(_.join == j).flatMap(_.req).distinct.sorted)
    }
    val starFrames = stars.map { case (f, ds) => Rollup.starJoin(f, ds) }
    val starCards: Seq[Map[Set[String], Long]] = stars.indices.map { si =>
      cardsOf(starFrames(si),
        starQs.filter(_.star == si).flatMap(_.req).distinct.sorted)
    }
    // ---- direct (root) costs: rows scanned without any summary
    val baseRows = bases.map(_.count())
    def rowsOfFrame(f: DataFrame): Long =
      baseIdx(RollupRewrite.scanRootPaths(f)).map(baseRows)
        .getOrElse(f.count())
    val joinFactRows = joins.map { case (f, _, _) => rowsOfFrame(f) }
    val joinRootRows = joins.indices.map { j =>
      joinFactRows(j) + rowsOfFrame(joins(j)._2) }
    def joinRoot(j: Int): Long = joinRootRows(j)
    val starFactRows = stars.map { case (f, _) => rowsOfFrame(f) }
    val starRoot = stars.map { case (f, ds) =>
      f.count() + ds.map(_._1.count()).sum }
    // ---- maintenance cost (r14, VERDICT r13 #2): per-period rows a
    // structure's REFRESH must read, charged against its query benefit.
    // Only the FACT-SIZED terms enter — a dim append on an AJI/star
    // costs a registered-fact (⋈ other dims) scan per event (the
    // q206/q212 honest asymmetry), while plain summaries and fact-side
    // appends fold delta-sized on every tier (a cost all options share,
    // so it cancels out of the comparison). `updatesPerPeriod` supplies
    // appends-per-period per side frame, in the same "period" unit as
    // one execution of the captured workload; unsupplied sides default
    // to 0 — the cost model is then exactly the pre-r14 one.
    // explicit rates win; otherwise fall back to CAPTURED update events
    // (r14 — one event per observed manifest transition during the
    // capture window, the same period unit as the query benefits; both
    // appends and removes count, since a dim REMOVE on an AJI/star is
    // also a fact-sized event: retraction reads fact ⋈ trash-dim)
    val updFreq: Map[Set[String], Double] = updatesPerPeriod.map {
      case (df, f) => RollupRewrite.scanRootPaths(df) -> f }.toMap
    def freqOf(df: DataFrame): Double = {
      val paths = RollupRewrite.scanRootPaths(df)
      updFreq.getOrElse(paths, {
        val (a, r) = RollupRewrite.capturedUpdateEvents(paths)
        (a + r).toDouble
      })
    }
    // ---- structures & moves
    case class Cand(tier: Int, owner: Int, grain: Set[String]) {
      def rows: Long = tier match {
        case 0 => baseCards(owner)(grain)
        case 1 => joinCards(owner)(grain)
        case _ => starCards(owner)(grain)
      }
      def name: String = s"t$tier/o$owner/${grain.toSeq.sorted.mkString(",")}"
      /** Fact-sized maintenance rows per period (see `updFreq` above):
        * an AJI pays its dim's append frequency × registered fact rows;
        * a star pays that per appended dim; plain summaries pay only
        * delta-sized work — 0 here. */
      def maintRows: Double = tier match {
        case 0 => 0.0
        case 1 => freqOf(joins(owner)._2) * joinFactRows(owner)
        case _ => stars(owner)._2.map { case (d, _) => freqOf(d) }.sum *
          starFactRows(owner)
      }
    }
    val singleCands: Seq[Cand] =
      bases.indices.flatMap(i => baseCards(i).keys.map(g => Cand(0, i, g))) ++
      joins.indices.flatMap(j => joinCards(j).keys.map(g => Cand(1, j, g))) ++
      stars.indices.flatMap(s => starCards(s).keys.map(g => Cand(2, s, g)))
    // navigation pair masks: per-query minimal + per-side union, keys in
    def navPairs(j: Int): Seq[(Cand, Cand)] = {
      val qs = joinQs.filter(q => q.join == j && q.pairable)
      if (qs.isEmpty) return Nil
      val fi = baseIdx(RollupRewrite.scanRootPaths(joins(j)._1)).get
      val di = baseIdx(RollupRewrite.scanRootPaths(joins(j)._2)).get
      val fMasks = (qs.map(_.factReq) :+ qs.flatMap(_.factReq).toSet)
        .distinct.filter(baseCards(fi).contains)
      val dMasks = (qs.map(_.dimReq) :+ qs.flatMap(_.dimReq).toSet)
        .distinct.filter(baseCards(di).contains)
      for (fm <- fMasks; dm <- dMasks)
        yield (Cand(0, fi, fm), Cand(0, di, dm))
    }
    val pairMoves: Seq[(Cand, Cand)] = joins.indices.flatMap(navPairs)
    // star-navigation TUPLE masks: per tuplable query its minimal
    // per-side masks, plus the per-star union tuple
    val tupleMoves: Seq[Seq[Cand]] = stars.indices.flatMap { si =>
      val qs = starQs.filter(q => q.star == si && q.sideReqs.isDefined)
      if (qs.isEmpty) Nil
      else {
        val perQ = qs.map(_.sideReqs.get)
        val union = perQ.head.indices.map { k =>
          (perQ.head(k)._1, perQ.map(_(k)._2).reduce(_ ++ _)) }
        (perQ :+ union).distinct.flatMap { sides =>
          val cands = sides.map { case (bi, req) =>
            if (baseCards(bi).contains(req)) Some(Cand(0, bi, req)) else None }
          if (cands.exists(_.isEmpty)) None else Some(cands.flatten)
        }
      }
    }
    // ---- cost of a query given a chosen structure set
    def costPlain(q: PlainQ, chosen: Set[Cand]): Long =
      (baseRows(q.base) +: chosen.toSeq.collect {
        case c if c.tier == 0 && c.owner == q.base && q.req.subsetOf(c.grain) =>
          c.rows
      }).min
    def costJoin(q: JoinQ, chosen: Set[Cand]): Long = {
      val aji = chosen.toSeq.collect {
        case c if c.tier == 1 && c.owner == q.join && q.req.subsetOf(c.grain) =>
          c.rows
      }
      val fi = baseIdx(RollupRewrite.scanRootPaths(joins(q.join)._1))
      val di = baseIdx(RollupRewrite.scanRootPaths(joins(q.join)._2))
      val nav = if (!q.pairable) Nil else for {
        f <- chosen.toSeq
        if f.tier == 0 && fi.contains(f.owner) && q.factReq.subsetOf(f.grain)
        d <- chosen.toSeq
        if d.tier == 0 && di.contains(d.owner) && q.dimReq.subsetOf(d.grain)
      } yield f.rows + d.rows
      (joinRoot(q.join) +: (aji ++ nav)).min
    }
    def costStar(q: StarQ, chosen: Set[Cand]): Long = {
      val own = chosen.toSeq.collect {
        case c if c.tier == 2 && c.owner == q.star && q.req.subsetOf(c.grain) =>
          c.rows
      }
      // star navigation: one chosen plain summary per side (q216)
      val nav = q.sideReqs.toSeq.flatMap { sides =>
        val per = sides.map { case (bi, req) =>
          chosen.toSeq.filter(c => c.tier == 0 && c.owner == bi &&
            req.subsetOf(c.grain)).map(_.rows).sorted.headOption
        }
        if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
      }
      (starRoot(q.star) +: (own ++ nav)).min
    }
    def totalCost(chosen: Set[Cand]): Long =
      plainQs.map(costPlain(_, chosen)).sum +
        joinQs.map(costJoin(_, chosen)).sum +
        starQs.map(costStar(_, chosen)).sum
    // ---- the greedy over moves
    var chosen = Set.empty[Cand]
    var remaining = maxRows
    var done = false
    while (!done) {
      val current = totalCost(chosen)
      val moves: Seq[(Double, Long, String, Seq[Cand])] =
        (singleCands.filterNot(chosen).map(c => (Seq(c), c.name)) ++
          pairMoves.collect { case (f, d)
              if !(chosen.contains(f) && chosen.contains(d)) =>
            (Seq(f, d).filterNot(chosen), s"${f.name}+${d.name}")
          } ++
          tupleMoves.collect { case t if !t.forall(chosen.contains) =>
            (t.filterNot(chosen), t.map(_.name).mkString("+"))
          })
        .map { case (news, nm) =>
          val newRows = news.map(_.rows).sum
          // net benefit = query rows saved − fact-sized maintenance the
          // new structures commit the system to (r14): an append-heavy
          // dim drains an AJI/star candidate's benefit, steering the
          // greedy to plain-pair/tuple structures whose maintenance is
          // delta-sized
          val ben = (current - totalCost(chosen ++ news)).toDouble -
            news.map(_.maintRows).sum
          (ben, newRows, nm, news)
        }
        .filter { case (_, newRows, _, _) => newRows <= remaining }
        .sortBy { case (ben, newRows, nm, _) => (-ben, newRows, nm) }
      moves.headOption match {
        case Some((ben, newRows, _, news)) if ben > 0 =>
          chosen ++= news
          remaining -= newRows
        case _ => done = true
      }
    }
    // ---- carried columns: every query attaches its needs to the
    // structures of its BEST serving option (ties → the option found
    // first in the deterministic orders above)
    val measuresOf = scala.collection.mutable.Map.empty[Cand, Set[String]]
      .withDefaultValue(Set.empty)
    val distinctOf = scala.collection.mutable.Map.empty[Cand, Set[String]]
      .withDefaultValue(Set.empty)
    val sketchOf = scala.collection.mutable.Map.empty[Cand, Set[String]]
      .withDefaultValue(Set.empty)
    val histOf = scala.collection.mutable.Map.empty[Cand, Set[String]]
      .withDefaultValue(Set.empty)
    val used = scala.collection.mutable.Set.empty[Cand]
    def attach(c: Cand, meas: Set[String], dist: Set[String],
               sk: Set[String], hist: Set[String]): Unit = {
      used += c
      measuresOf(c) = measuresOf(c) ++ meas
      distinctOf(c) = distinctOf(c) ++ dist
      sketchOf(c) = sketchOf(c) ++ sk
      histOf(c) = histOf(c) ++ hist
    }
    plainQs.foreach { q =>
      chosen.toSeq
        .filter(c => c.tier == 0 && c.owner == q.base && q.req.subsetOf(c.grain))
        .sortBy(c => (c.rows, c.name)).headOption
        .foreach(attach(_, q.e.measures, q.e.distinctCols, q.e.sketchCols,
          q.e.histCols))
    }
    joinQs.foreach { q =>
      val fi = baseIdx(RollupRewrite.scanRootPaths(joins(q.join)._1))
      val di = baseIdx(RollupRewrite.scanRootPaths(joins(q.join)._2))
      val ajiOpts = chosen.toSeq
        .filter(c => c.tier == 1 && c.owner == q.join && q.req.subsetOf(c.grain))
        .map(c => (c.rows, c.name, Seq(c)))
      val navOpts = if (!q.pairable) Nil else for {
        f <- chosen.toSeq
        if f.tier == 0 && fi.contains(f.owner) && q.factReq.subsetOf(f.grain)
        d <- chosen.toSeq
        if d.tier == 0 && di.contains(d.owner) && q.dimReq.subsetOf(d.grain)
      } yield (f.rows + d.rows, s"${f.name}+${d.name}", Seq(f, d))
      (ajiOpts ++ navOpts).sortBy(o => (o._1, o._2)).headOption.foreach {
        case (_, _, cs) =>
          // measures are fact-side by capture orientation; navigation's
          // dim summary needs only its grain + __cnt_rows
          cs.foreach { c =>
            if (c.tier == 1 || fi.contains(c.owner))
              attach(c, q.e.measures, q.e.distinctCols, q.e.sketchCols,
                q.e.histCols)
            else attach(c, Set.empty, Set.empty, Set.empty, Set.empty)
          }
      }
    }
    starQs.foreach { q =>
      val own = chosen.toSeq
        .filter(c => c.tier == 2 && c.owner == q.star && q.req.subsetOf(c.grain))
        .map(c => (c.rows, c.name, Seq(c), true))
      val nav = q.sideReqs.toSeq.flatMap { sides =>
        val per = sides.map { case (bi, req) =>
          chosen.toSeq.filter(c => c.tier == 0 && c.owner == bi &&
            req.subsetOf(c.grain)).sortBy(c => (c.rows, c.name)).headOption
        }
        if (per.exists(_.isEmpty)) None
        else Some((per.flatten.map(_.rows).sum,
          per.flatten.map(_.name).mkString("+"), per.flatten.toSeq, false))
      }
      (own ++ nav).sortBy(o => (o._1, o._2)).headOption.foreach {
        case (_, _, cs, isOwn) =>
          // measures live on the star summary itself, or — through
          // navigation — on the CENTER's plain summary (sideReqs head)
          cs.zipWithIndex.foreach { case (c, k) =>
            if (isOwn || k == 0)
              attach(c, q.e.measures, q.e.distinctCols, q.e.sketchCols,
                q.e.histCols)
            else attach(c, Set.empty, Set.empty, Set.empty, Set.empty)
          }
      }
    }
    def specOf(c: Cand): SummarySpec = {
      val frameCols = (c.tier match {
        case 0 => bases(c.owner)
        case 1 => joinFrames(c.owner)
        case _ => starFrames(c.owner)
      }).columns.toSet
      SummarySpec(
        c.grain.toSeq.sorted.map(t => dimName(t, frameCols)),
        c.grain.toSeq.sorted.collect {
          case t if !frameCols.contains(t) => dimName(t, frameCols) -> t
        }.toMap,
        measuresOf(c).toSeq.sorted, sketchOf(c).toSeq.sorted,
        histOf(c).toSeq.sorted, 64)
    }
    // structures nothing ended up served by are dropped (a pair member
    // outscored by a later AJI, say) — never build dead weight
    val kept = chosen.toSeq.filter(used.contains)
      .sortBy(c => (c.tier, c.owner, c.name))
    CrossDesign(
      kept.filter(_.tier == 0).map(c => c.owner -> specOf(c)),
      kept.filter(_.tier == 1).map(c => c.owner -> specOf(c)),
      kept.filter(_.tier == 2).map(c => c.owner -> specOf(c)))
  }

  /** Materialize + register a [[designCrossTier]] result through the
    * one build (`crossp_<i>`, `crossj_<i>`, `crosss_<i>` per tier).
    * Returns the summary paths per tier, index-aligned with the design. */
  def buildAndRegisterCrossTier(spark: SparkSession,
      bases: Seq[DataFrame],
      joins: Seq[(DataFrame, DataFrame, Seq[(String, String)])],
      stars: Seq[(DataFrame, Seq[(DataFrame, Seq[(String, String)])])],
      design: CrossDesign, outDir: String)
      : (Seq[String], Seq[String], Seq[String]) =
    (design.plain.zipWithIndex.map { case ((bi, sp), i) =>
       build(spark, bases(bi), Nil, sp, s"$outDir/crossp_$i") },
     design.joined.zipWithIndex.map { case ((ji, sp), i) =>
       val (f, d, keys) = joins(ji)
       build(spark, f, Seq(d -> keys), sp, s"$outDir/crossj_$i") },
     design.star.zipWithIndex.map { case ((si, sp), i) =>
       val (f, ds) = stars(si)
       build(spark, f, ds, sp, s"$outDir/crosss_$i") })
}
