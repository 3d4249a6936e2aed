package graft.jobs

import org.apache.spark.sql.SparkSession

import graft.orchestrate.{Concurrent, Pipeline}
import graft.sources.GraftCatalog

/** The whole reference state machine (SURVEY.md §3.1: Step Function →
  * Lambda extract → Glue job → crawler poll loop) collapsed into
  * sequential driver stages with the reference's retry policies.
  * Extract is pluggable (JDBC in production via [[graft.sources.Rds2Raw]];
  * tests point `rawDir` at existing CSVs and skip it).
  */
object R2gPipeline {

  case class Config(
      rawDir: String,
      goldenDir: String,
      backupDir: String,
      catalogDb: String = "golden_zone",
      asOf: Option[String] = None,
      extract: Option[() => Unit] = None)

  /** Run extract → transform → catalog-refresh. Returns the stage log. */
  def run(spark: SparkSession, config: Config): Seq[Pipeline.StageStatus] = {
    val stages = Seq(
      Pipeline.Stage("extract_raw", Pipeline.RetryPolicy.LambdaTask) { () =>
        config.extract.foreach(_.apply())
      },
      Pipeline.Stage("transform_golden", Pipeline.RetryPolicy.GlueTask) { () =>
        BankJobs.runAll(spark, config.rawDir, config.goldenDir,
          config.backupDir, config.asOf)
      },
      Pipeline.Stage("catalog_refresh", Pipeline.RetryPolicy.GlueTask) { () =>
        // the crawler step: register every golden table in the catalog,
        // the seven crawls at once (the database first, so they do not race
        // to create it)
        val cat = new GraftCatalog(spark)
        cat.createDatabase(config.catalogDb)
        val tables = BankJobs.etlTypeMapping.keys.map(t => s"kietl_dim_$t").toSeq ++
          Seq("kietl_dim_date", "kietl_fact_snapshot_daily_transaction")
        Concurrent.all(tables.map(t => () => cat.crawl(config.catalogDb, t, s"${config.goldenDir}/$t")))
      })
    Pipeline.run(stages)
  }
}
