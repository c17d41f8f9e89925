package graft

import org.apache.spark.sql.SparkSession
import graft.etl.{ConfigLoader, Pipeline}

/** CLI entry (SURVEY.md O21; `/root/reference/etl.py:472-518`): run the
  * full pipeline from a JSON/YAML config file.
  *
  *   runMain graft.Main --config fixtures/config.yaml \
  *       [--pages fixtures/pages] [--out /tmp/out]
  *
  * Prints `rows=N processed=P bypassed=B`. The counters ride on the
  * run's one action ([[graft.etl.Pipeline.runObserved]]): the CSV write
  * with `--out`; without it a `count()`, which is then the only action.
  * `rows` is `processed + bypassed`, since every row is one or the
  * other.
  *
  * Fail-fast guards mirror the reference: exit 1 on missing/invalid
  * config or empty extract. `SPARK_GRAFT_CPUS` sets the local core
  * count and shuffle width (default: every core); a value that is not
  * a whole number from 1 to the core count also exits 1.
  */
object Main {

  /** The core count `SPARK_GRAFT_CPUS` asks for: unset means `nproc`;
    * otherwise it must be a whole number from 1 to `nproc`. */
  private[graft] def cpus(raw: Option[String], nproc: Int): Either[String, Int] =
    raw match {
      case None => Right(nproc)
      case Some(s) =>
        Some(s.trim).filter(_.matches("[0-9]{1,9}")).map(_.toInt).filter(n => n >= 1 && n <= nproc)
          .toRight(s"SPARK_GRAFT_CPUS='$s' must be a whole number from 1 to nproc ($nproc)")
    }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val configPath = opts.getOrElse("--config", {
      System.err.println("usage: graft.Main --config <file> [--pages <dir>] [--out <dir>]")
      sys.exit(1)
    })
    val cfg =
      try ConfigLoader.load(configPath)
      catch {
        case e: Exception => System.err.println(s"config error: ${e.getMessage}"); sys.exit(1)
      }
    val cores = cpus(sys.env.get("SPARK_GRAFT_CPUS"), Runtime.getRuntime.availableProcessors)
      .fold(msg => { System.err.println(msg); sys.exit(1) }, identity)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val out = opts.get("--out")
      val (df, metrics) = Pipeline.runObserved(spark, Pipeline.Config(
          pagesDir = opts.getOrElse("--pages", "/root/repo/fixtures/pages"),
          essieTerms = cfg.filterAdvanced,
          gate = cfg.gate,
          outputPath = out))
      if (out.isEmpty) df.count() // no sink: this is the action the counters ride on
      val m = metrics.get
      val (processed, bypassed) = (m("processed").asInstanceOf[Long], m("bypassed").asInstanceOf[Long])
      val n = processed + bypassed
      println(s"rows=$n processed=$processed bypassed=$bypassed")
      if (n == 0) sys.exit(1) // etl.py:508-510
    } finally spark.stop()
  }
}
