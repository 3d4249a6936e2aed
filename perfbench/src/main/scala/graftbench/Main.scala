package graftbench

import org.apache.spark.sql.SparkSession

/** Benchmark driver: runs one seeded workload against the library's public
  * functions, closed loop with one client, and prints one JSON result line
  * as the last line of stdout.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --tmp <scratch root> --out <results dir>
  * }}}
  *
  * `--trace 0` reports the end-to-end metrics; `--trace 1` runs the same
  * workload with listeners and spans attached and reports the per-layer
  * metrics. Every run writes its full record (host labels, input sizes,
  * every sample, failures) to `<out>/<workload>-seed<n>-trace<t>.json`;
  * a traced run also writes its spans next to it.
  */
object Main {

  /** The end-to-end metrics every workload reports, in BENCHMARK.json
    * order. Workloads may record more in their detail record. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "read_s" -> "s", "update_s" -> "s")

  val Workloads: Map[String, Harness => Workload] = Map(
    "bank_daily_etl" -> (h => new BankEtl(h)),
    "summary_serve_maintain" -> (h => new SummaryServe(h)),
    "corpus_ingest_retrieve" -> (h => new CorpusRetrieve(h)))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val make = Workloads.getOrElse(workload,
      sys.error(s"unknown workload '$workload' (known: ${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val tmp = new java.io.File(need("tmp")).getAbsolutePath
    val out = new java.io.File(need("out")).getAbsolutePath
    new java.io.File(out).mkdirs()

    val t0 = System.nanoTime()
    val host = Host.start()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.local.dir", s"$tmp/local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$tmp/hadoop")
      .config("spark.sql.streaming.checkpointLocation", s"$tmp/stream-ckpt")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tracer = new Tracer(traced)
    if (traced) tracer.attach(spark)
    val h = new Harness(spark, tracer, tmp, seed, t0)
    val wl = make(h)
    var crashed: Option[Throwable] = None
    try {
      h.setupPhase { wl.setup() }
      h.startTimed(seconds)
      wl.run()
      h.endTimed()
      wl.finish()
    } catch {
      case e: Throwable =>
        crashed = Some(e)
        h.fail("workload", e)
    }
    val e2e = wl.endToEnd()
    EndToEnd.map(_._1).filterNot(n => e2e.exists(m => m.name == n && !m.value.isNaN && !m.value.isInfinite))
      .foreach(n => h.check(s"no value for $n", standalone = true)(false))
    spark.stop() // drains the listener bus: every event is delivered now
    val perLayer = if (traced) Some(tracer.perLayer(h)) else None
    val hostLabels = host.finish()

    val base = s"$out/$workload-seed$seed-trace${if (traced) 1 else 0}"
    val metrics: Seq[(String, Double, String)] = perLayer match {
      case Some(pl) => Tracer.PerLayer.map { case (n, u) => (n, pl.getOrElse(n, 0.0), u) }
      case None => EndToEnd.map { case (n, u) => (n, e2e.find(_.name == n).fold(Double.NaN)(_.value), u) }
    }
    val overhead: Seq[(String, Json.J)] = if (!traced) Nil else {
      val untraced = new java.io.File(s"$out/$workload-seed$seed-trace0.json")
      val prev = if (untraced.isFile) Json.numbersUnder(
        scala.io.Source.fromFile(untraced, "UTF-8").mkString, "end_to_end_values") else Map.empty[String, Double]
      e2e.filter(m => prev.contains(m.name)).map(m =>
        m.name -> Json.num(m.value - prev(m.name)))
    }
    if (traced) Json.writeFile(s"$base-spans.json", tracer.spansJson())
    val detail = Json.obj(
      "workload" -> Json.str(workload), "seed" -> Json.num(seed.toDouble),
      "seconds" -> Json.num(seconds), "trace" -> Json.bool(traced),
      "host" -> hostLabels,
      "inputs" -> Json.obj(wl.inputs.toSeq: _*),
      "end_to_end_values" -> Json.obj(e2e.map(m => m.name -> Json.num(m.value)): _*),
      "end_to_end" -> Json.obj(e2e.map(m => m.name -> m.detail): _*),
      "per_layer" -> perLayer.fold(Json.nul)(pl => Json.obj(
        Tracer.PerLayer.map { case (n, _) => n -> Json.num(pl.getOrElse(n, 0.0)) }: _*)),
      "per_kind" -> (if (traced) tracer.perKindJson else Json.nul),
      "tracing_overhead" -> Json.obj(overhead: _*),
      "leaks" -> Json.obj("persisted_rdds" -> Json.num(h.persistedLive.toDouble),
        "checkpoints" -> Json.num(h.checkpointsLive.toDouble)),
      "attempted" -> Json.num(h.attempted.toDouble),
      "failed" -> Json.num(h.failed.toDouble),
      "failures" -> Json.arr(h.failures.take(50).toSeq.map(Json.str): _*),
      "ops" -> h.opsJson,
      "timed_s" -> Json.num(h.timedSeconds),
      "wall_s" -> Json.num((System.nanoTime() - t0) / 1e9))
    Json.writeFile(s"$base.json", detail)

    val correct = h.failed == 0 && crashed.isEmpty
    crashed.foreach { e => System.err.println(s"perfbench: workload aborted: $e"); e.printStackTrace() }
    h.failures.take(20).foreach(f => System.err.println(s"perfbench: FAILED $f"))
    println(Json.render(Json.obj(
      "correct" -> Json.bool(correct),
      "attempted" -> Json.num(math.max(1, h.attempted).toDouble),
      "failed" -> Json.num(h.failed.toDouble),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*))))
    System.out.flush()
    if (!correct) sys.exit(1)
  }
}

/** One workload: set up (timed into `setup_s`), run closed-loop until the
  * harness deadline, then verify what only the end state can show. */
trait Workload {
  def setup(): Unit
  def run(): Unit
  def finish(): Unit = ()
  def inputs: Map[String, Json.J]
  def endToEnd(): Seq[E2E]
}

/** One end-to-end metric with its samples. */
final case class E2E(name: String, unit: String, value: Double, detail: Json.J)

object E2E {
  /** Median of a latency sample, with the sample count and the highest
    * percentile that has at least ten samples beyond it. */
  def latency(name: String, samples: Seq[Double]): E2E = {
    val s = samples.sorted
    val p = Stats.tailPercentile(s.size)
    E2E(name, "s", Stats.median(s), Json.obj(
      "median" -> Json.num(Stats.median(s)), "n" -> Json.num(s.size.toDouble),
      "tail_percentile" -> p.fold(Json.nul)(x => Json.num(x.toDouble)),
      "tail_value" -> p.fold(Json.nul)(x => Json.num(Stats.quantile(s, x / 100.0))),
      "p90" -> (if (s.nonEmpty) Json.num(Stats.quantile(s, 0.9)) else Json.nul),
      "p90_qualifies" -> Json.bool(s.size >= 100)))
  }

  /** Mean of per-kind medians. Unlike operations (append vs compact, a
    * summary hit vs a base scan) differ by up to an order of magnitude, so
    * one median over the mix would sit between modes and jump with small
    * shifts; each kind weighs once instead. */
  def perKindMean(name: String, byKind: Map[String, Seq[Double]]): E2E = {
    val meds = byKind.filter(_._2.nonEmpty).map { case (k, v) => k -> Stats.median(v) }
    val v = if (meds.isEmpty) Double.NaN else meds.values.sum / meds.size
    E2E(name, "s", v, Json.obj(
      "value" -> Json.num(v),
      "kinds" -> Json.obj(byKind.toSeq.sortBy(_._1).map { case (k, xs) =>
        k -> Json.obj("median" -> Json.num(if (xs.isEmpty) Double.NaN else Stats.median(xs)),
          "n" -> Json.num(xs.size.toDouble)) }: _*)))
  }

  def scalar(name: String, unit: String, v: Double, info: (String, Json.J)*): E2E =
    E2E(name, unit, v, Json.obj(("value" -> Json.num(v)) +: info: _*))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)
  /** Linear-interpolated quantile of an ascending sample. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
  /** The highest of p50/p75/p90/p95/p99 with at least ten samples above it. */
  def tailPercentile(n: Int): Option[Int] =
    Seq(99, 95, 90, 75, 50).find(p => n * (100 - p) / 100.0 >= 10.0)
}
