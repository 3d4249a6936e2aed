package graft.plan

import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StructField, StructType}

import graft.functions.expressions.{HistMergeAgg, KmvMergeAgg}

/** The driver-local serving regime of a summary hit: an aggregate the
  * [[RollupRewrite]] served from one summary scan, answered without a
  * Spark job.
  *
  * When: the rewrite tags every aggregate it emits with its serve kind
  * ([[Serve]]). A plain summary serve has one shape for 0, 1 and N dims,
  * `Aggregate(grains, results, Project(needed, Filter*(scan)))`; it
  * plans as a [[SummaryLocalExec]] leaf when the scan is an
  * unpartitioned parquet relation whose files stay under
  * [[MaxSummaryBytes]], the needed columns are ones
  * [[graft.sources.Pq.decodable]] reads, and every aggregate is a count,
  * sum, min or max, an exact grain distinct count, or a histogram or KMV
  * merge. Cube, navigation and compensated serves, and anything else,
  * keep the distributed plan, unchanged. The optimized logical plan is
  * the same in both regimes: the tag is not part of it. Each decision is
  * logged with its inputs and counted ([[counters]]).
  *
  * How: the leaf decodes the scan's frozen file listing (no new listing)
  * through [[graft.sources.Pq.decodeLocal]] and, as the rows stream from
  * the decoder, filters them with Spark's interpreted predicates, groups
  * them on the driver by the grains' unsafe bytes (the hash aggregate's
  * key equality), and runs each aggregate through Spark's own
  * evaluators: a declarative aggregate's
  * `initialValues`, `updateExpressions` and `evaluateExpression`, an
  * imperative one's `initialize`, `update` and `eval`. Summary batches
  * are immutable and group-sized, so each serve decodes afresh; nothing
  * is kept. */
object SummaryLocal {

  /** The serve kind of an aggregate [[RollupRewrite]] emitted. */
  private[plan] val Serve: TreeNodeTag[String] = TreeNodeTag[String]("graft.summaryServe")

  private[plan] val SummaryServe = "summary"
  private[plan] val CubeServe = "cube serve"
  private[plan] val NavigationServe = "navigation serve"
  private[plan] val CompensatedServe = "compensated serve"

  /** Visible bytes of a summary scan's files up to which it serves on
    * the driver: the measured crossover, where a local serve costs about
    * what the distributed plan does. Measured on a 4-CPU host (a (string,
    * int) grain with one bigint measure, served grouped by the int grain
    * with a sum, a count and a max; medians of 7 serves after 3, each
    * timed from building the query to its collect; two runs): summary
    * bytes (rows) → local / distributed serve: 49 KB (2,000) → 0.046 s /
    * 0.200 s; 0.36 MB (20,000) → 0.061–0.084 s / 0.179–0.180 s; 1.05 MB
    * (60,000) → 0.091–0.111 s / 0.143–0.158 s; 1.74 MB (100,000) →
    * 0.135–0.144 s / 0.121–0.147 s; 2.60 MB (150,000) → 0.125–0.196 s /
    * 0.124–0.126 s; 3.47 MB (200,000) → 0.145–0.252 s / 0.133–0.136 s;
    * 5.19 MB (300,000) → 0.353 s / 0.130 s. No benchmark workload
    * serves a batch over the cap, so nothing but this probe checks it. */
  val MaxSummaryBytes: Long = 2L << 20

  /** Read-only serve telemetry, cumulative over the JVM. */
  final case class Counters(localServes: Long, distributedServes: Long)

  private val localServes = new AtomicLong
  private val distributedServes = new AtomicLong

  def counters: Counters = Counters(localServes.get, distributedServes.get)

  private val log = org.slf4j.LoggerFactory.getLogger("graft.plan.RollupRewrite")

  private[plan] def decided(regime: String, files: Int, bytes: Long, why: String): Unit = {
    (if (regime == "local") localServes else distributedServes).incrementAndGet()
    log.info(s"summary serve regime=$regime files=$files bytes=$bytes " +
      s"cap=$MaxSummaryBytes$why")
  }

  /** A local decision taken back when the plan runs: the serve counts as
    * distributed instead. */
  private[plan] def retracted(files: Int, bytes: Long, why: String): Unit = {
    localServes.decrementAndGet()
    decided("distributed", files, bytes, why)
  }

  /** Plans a tagged aggregate as [[SummaryLocalExec]] where the local
    * regime holds; otherwise leaves it to Spark's own strategies. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case agg: Aggregate => agg.getTagValue(Serve).toSeq.flatMap(local(agg, _))
      case _ => Nil
    }

    /** The first reason `agg` keeps the distributed plan, judged on its
      * inputs: the files of every scan under it. */
    private def local(agg: Aggregate, kind: String): Option[SparkPlan] = {
      val files = agg.collect { case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location }
        .flatMap {
          case idx: PartitioningAwareFileIndex => idx.allFiles().filter(_.getLen > 0).toSeq
          case _ => Nil
        }
      val bytes = files.map(_.getLen).sum
      val scan = scanOf(agg)
      val refusal = scan match {
        case _ if kind != SummaryServe => Some(kind)
        case None => Some("plan shape")
        case Some((needed, conds, fs)) =>
          val schema = StructType(needed.map(a => StructField(a.name, a.dataType)))
          if (!fs.fileFormat.isInstanceOf[ParquetFileFormat]) Some("not parquet")
          else if (!fs.location.isInstanceOf[PartitioningAwareFileIndex]) Some("file index")
          else if (fs.partitionSchema.nonEmpty) Some("partition columns")
          else if (bytes > MaxSummaryBytes) Some("over cap")
          else if (!graft.sources.Pq.decodable(schema)) Some(s"undecodable schema ${schema.simpleString}")
          else if (!agg.groupingExpressions.forall(_.isInstanceOf[Attribute]) ||
              !agg.aggregateExpressions.forall(_.deterministic)) Some("plan shape")
          // a subquery is planned and run by the physical plan that holds
          // it; the leaf runs none
          else if ((conds ++ agg.aggregateExpressions).exists(SubqueryExpression.hasSubquery))
            Some("subquery")
          else agg.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae })
            .find(!servable(_)).map(ae => s"aggregate ${ae.aggregateFunction.prettyName}")
      }
      refusal match {
        case Some(reason) =>
          decided("distributed", files.size, bytes, s" refused=$reason")
          None
        case None =>
          decided("local", files.size, bytes, "")
          val (needed, conds, _) = scan.get
          Some(SummaryLocalExec(agg.output, agg.groupingExpressions.map(_.asInstanceOf[Attribute]),
            agg.aggregateExpressions, needed, conds, files)(agg))
      }
    }
  }

  /** The scan under `Project(needed, Filter*(relation))`: the needed
    * columns, the filter conjuncts and the file relation. */
  private def scanOf(agg: Aggregate): Option[(Seq[Attribute], Seq[Expression], HadoopFsRelation)] = {
    def filters(p: LogicalPlan, conds: List[Expression]): (LogicalPlan, List[Expression]) =
      p match {
        case Filter(c, child) => filters(child, c :: conds)
        case other => (other, conds)
      }
    agg.child match {
      case Project(needed, child) if needed.forall(_.isInstanceOf[Attribute]) =>
        filters(child, Nil) match {
          case (LogicalRelation(fs: HadoopFsRelation, _, _, _, _), conds)
              if conds.forall(_.deterministic) =>
            Some((needed.map(_.toAttribute), conds, fs))
          case _ => None
        }
      case _ => None
    }
  }

  /** The aggregates the rewrite emits over a summary. */
  private def servable(ae: AggregateExpression): Boolean =
    ae.mode == Complete && ae.filter.isEmpty && (ae.aggregateFunction match {
      case Count(args) if ae.isDistinct => args.nonEmpty
      case _ if ae.isDistinct => false
      case _: Count | _: Sum | _: Min | _: Max => true
      case _: HistMergeAgg | _: KmvMergeAgg => true
      case _ => false
    })

  /** One aggregate's driver-side evaluation: a fresh state per group,
    * folded over the group's rows, then its value. */
  private sealed trait Eval {
    def init(): AnyRef
    def update(state: AnyRef, row: InternalRow): Unit
    def result(state: AnyRef): Any
  }

  private def evaluator(ae: AggregateExpression, input: Seq[Attribute]): Eval =
    ae.aggregateFunction match {
      case Count(args) if ae.isDistinct =>
        // exact distinct over grain columns: a set of the argument tuples
        // with no null, keyed by their unsafe bytes
        val bound = args.map(BindReferences.bindReference(_, input))
        val key = InterpretedUnsafeProjection.createProjection(bound)
        new Eval {
          def init(): AnyRef = new java.util.HashSet[UnsafeRow]()
          def update(state: AnyRef, row: InternalRow): Unit =
            if (bound.forall(_.eval(row) != null))
              state.asInstanceOf[java.util.HashSet[UnsafeRow]].add(key(row).copy())
          def result(state: AnyRef): Any =
            state.asInstanceOf[java.util.HashSet[UnsafeRow]].size.toLong
        }
      case fn: DeclarativeAggregate =>
        val buffer = fn.aggBufferAttributes
        val initial = fn.initialValues.map(_.eval())
        val step = InterpretedMutableProjection.createProjection(
          fn.updateExpressions.map(BindReferences.bindReference(_, buffer ++ input)))
        val evaluate = BindReferences.bindReference(fn.evaluateExpression, buffer)
        val joined = new JoinedRow
        new Eval {
          def init(): AnyRef = new GenericInternalRow(initial.toArray)
          def update(state: AnyRef, row: InternalRow): Unit = {
            val b = state.asInstanceOf[InternalRow]
            step.target(b)(joined(b, row))
          }
          def result(state: AnyRef): Any = evaluate.eval(state.asInstanceOf[InternalRow])
        }
      case fn: ImperativeAggregate =>
        val bound = BindReferences.bindReference[Expression](
          fn.withNewMutableAggBufferOffset(0).withNewInputAggBufferOffset(0), input)
          .asInstanceOf[ImperativeAggregate]
        new Eval {
          def init(): AnyRef = {
            val b = new GenericInternalRow(bound.aggBufferAttributes.size)
            bound.initialize(b)
            b
          }
          def update(state: AnyRef, row: InternalRow): Unit =
            bound.update(state.asInstanceOf[InternalRow], row)
          def result(state: AnyRef): Any = bound.eval(state.asInstanceOf[InternalRow])
        }
      case other => throw new IllegalStateException(s"not servable locally: $other")
    }

  /** Filter, group and aggregate the rows `feed` passes on (over
    * `needed`) as `Aggregate(groups, results, Filter(conds))` does. A
    * global aggregate over no rows gives one row. */
  private[plan] def aggregate(feed: (InternalRow => Unit) => Unit, needed: Seq[Attribute],
                              conds: Seq[Expression], groups: Seq[Attribute],
                              results: Seq[NamedExpression]): Array[InternalRow] = {
    val preds = conds.map { c =>
      val p = InterpretedPredicate(BindReferences.bindReference(c, needed))
      p.initialize(0)
      p
    }
    val calls = results.flatMap(_.collect { case ae: AggregateExpression => ae })
      .distinctBy(_.canonicalized)
    val evals = calls.map(evaluator(_, needed))
    val key = InterpretedUnsafeProjection.createProjection(
      groups.map(BindReferences.bindReference[Expression](_, needed)))
    val states = new java.util.LinkedHashMap[UnsafeRow, Array[AnyRef]]()
    feed { r =>
      if (preds.forall(_.eval(r))) {
        val k = key(r)
        var st = states.get(k)
        if (st == null) {
          st = evals.map(_.init()).toArray
          states.put(k.copy(), st)
        }
        var i = 0
        while (i < evals.length) { evals(i).update(st(i), r); i += 1 }
      }
    }
    if (groups.isEmpty && states.isEmpty)
      states.put(key(InternalRow.empty).copy(), evals.map(_.init()).toArray)
    val callAttrs = calls.map(_.resultAttribute)
    val out = InterpretedUnsafeProjection.createProjection(results.map { r =>
      BindReferences.bindReference[Expression](r.transform {
        case ae: AggregateExpression => callAttrs(calls.indexWhere(_.canonicalized == ae.canonicalized))
      }, groups ++ callAttrs)
    })
    val joined = new JoinedRow
    val res = new Array[InternalRow](states.size)
    var n = 0
    states.forEach { (k, st) =>
      val vals = new GenericInternalRow(evals.indices.map(i => evals(i).result(st(i))).toArray)
      res(n) = out(joined(k, vals)).copy()
      n += 1
    }
    res
  }
}

/** A summary serve answered on the driver ([[SummaryLocal]]): the rows
  * of `Aggregate(groups, results, Project(needed, Filter(conds)))` over
  * `files`. Collecting runs no Spark job; [[doExecute]] parallelizes the
  * collected rows. A file the driver-side decoder cannot read as the
  * scan's schema (a batch written with other column types, which Spark's
  * reader may widen) makes this plan serve through the distributed plan
  * of `agg` from then on. */
final case class SummaryLocalExec(output: Seq[Attribute], groups: Seq[Attribute],
                                  results: Seq[NamedExpression], needed: Seq[Attribute],
                                  conds: Seq[Expression], files: Seq[FileStatus])(
    @transient private val agg: Aggregate) extends LeafExecNode {

  override protected def otherCopyArgs: Seq[AnyRef] = agg :: Nil

  override def producedAttributes: AttributeSet = outputSet ++ AttributeSet(needed)

  override def outputPartitioning: Partitioning = SinglePartition

  override def simpleString(maxFields: Int): String =
    s"SummaryLocal [${groups.mkString(", ")}] [${results.mkString(", ")}] " +
      s"files=${files.size} bytes=${files.map(_.getLen).sum}"

  @transient @volatile private var undecodable = false

  @transient private lazy val distributed: SparkPlan =
    session.sessionState.executePlan(agg.copy()).executedPlan

  override def executeCollect(): Array[InternalRow] =
    if (undecodable) distributed.executeCollect()
    else {
      val schema = StructType(needed.map(a => StructField(a.name, a.dataType)))
      val toCatalyst = needed.map(a => CatalystTypeConverters.createToCatalystConverter(a.dataType))
      val conf = session.sparkContext.hadoopConfiguration
      // rows stream from the decoder into the aggregation; an error of the
      // aggregation (an ANSI overflow) is the query's, one of the decoder
      // makes the distributed plan serve
      final class Aggregating(cause: Throwable) extends RuntimeException(cause)
      final class Decoding(cause: Throwable) extends RuntimeException(cause)
      def feed(f: InternalRow => Unit): Unit =
        try files.foreach { st =>
          graft.sources.Pq.decodeLocal(conf, st.getPath, schema) { vals =>
            val row = new GenericInternalRow(Array.tabulate[Any](vals.length)(i => toCatalyst(i)(vals(i))))
            try f(row) catch { case NonFatal(e) => throw new Aggregating(e) }
          }
        } catch {
          case a: Aggregating => throw a
          case NonFatal(e) => throw new Decoding(e)
        }
      try SummaryLocal.aggregate(feed, needed, conds, groups, results)
      catch {
        case a: Aggregating => throw a.getCause
        case d: Decoding =>
          undecodable = true
          SummaryLocal.retracted(files.size, files.map(_.getLen).sum,
            s" refused=undecodable file (${d.getCause})")
          distributed.executeCollect()
      }
    }

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)
}
