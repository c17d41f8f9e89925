package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DecimalType, DoubleType, StructField, TimestampNTZType, TimestampType}

import graft.{GraftExtensions, SparkEntry, Tables}
import graft.etl.{ConfigLoader, CsvSink, Enrich, Essie, Flatten, StudiesSource}

/** One benchmark JVM: set up a session and resolve the workload's inputs,
  * then run the workload's measured pass once and write the figures as
  * JSON. Modes: `pass` calls the public entry point (`graft.Main` for the
  * ETL); `traced` calls the layers one by one, each in a span; `untraced`
  * is the same code as `traced` with the spans off, the baseline of
  * `trace.overhead_frac`. For the query lines all three run the same code.
  *
  *   perfbench.Harness <pass|untraced|traced> <workload> <inputDir>
  *                     <workDir> <resultJson> <launchEpochNanos>
  *
  * The pass calls only the program's public entry points. Outputs land in
  * `workDir` for the benchmark's checks; the pass never checks itself.
  * `-Dperfbench.plant=<layer>:<ms>` sleeps inside that layer's span of a
  * traced pass (the trace self-test).
  */
object Harness {

  /** Map-heavy lines over single-split scans: the shingle and resemblance
    * kernels and the first-use builds of the containment_ranked (d13) and
    * minhash_sigs (d04) pools. Fixed order: the first use of a pool pays
    * its build. */
  val CorpusScan: Seq[String] = Seq(
    "d32_shingle_sweep", "d35_bottomk_resemblance", "d21_winnowing", "t48_source_novelty",
    "d13_containment_dedup", "d04_minhash_lsh", "q20_json_extract")

  /** Exchange-heavy lines and an iterative kernel of many small jobs, in a fixed order. */
  val JoinIterate: Seq[String] = Seq(
    "u25_fd_audit", "u26_join_estimate", "r80_weighted_median", "s26_kcore")

  def main(args: Array[String]): Unit = {
    val Array(mode, workload, input, work, resultPath, launchNs) = args
    require(Set("pass", "untraced", "traced")(mode), s"unknown mode $mode")
    val lines = workload match {
      case "corpus_scan" => CorpusScan
      case "join_iterate" => JoinIterate
      case "etl_pages" => Nil
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val cpus = sys.env("SPARK_GRAFT_CPUS")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      // query dumps follow graft.Verify's session; INT96 is Spark's default
      .config("spark.sql.parquet.outputTimestampType", if (lines.isEmpty) "INT96" else "TIMESTAMP_MICROS")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tables = s"$input/tables"
    val config = s"$input/config.json"
    // inputs resolved: the ETL config, or every fixture table
    val etlConfig = if (lines.isEmpty) Some(ConfigLoader.load(config)) else None
    if (lines.nonEmpty) Tables.names.foreach(Tables.load(spark, tables, _))
    val result = mutable.LinkedHashMap[String, Any](
      "setup_s" -> (epochNanos() - launchNs.toLong) / 1e9)
    val traced = mode == "traced"
    val plant = sys.props.get("perfbench.plant").map { p =>
      val Array(layer, ms) = p.split(':'); (layer, ms.toLong)
    }
    val spans = new Spans(spark.sparkContext, traced, plant)
    val recorder = if (traced) Some(new Recorder) else None
    recorder.foreach(spark.sparkContext.addSparkListener)
    val cpu0 = processCpuNanos()
    val t0 = System.nanoTime()
    val failures = mutable.LinkedHashMap.empty[String, String]
    if (lines.isEmpty) {
      val out = s"$work/csv"
      if (mode != "pass") etlTraced(spark, spans, input, out, etlConfig.get)
      else graft.Main.main(Array("--config", config, "--pages", s"$input/pages", "--out", out))
    } else {
      lines.foreach { name =>
        try spans(s"line:$name") {
          val df = spans("query.build")(SparkEntry.queries(name)(spark, tables))
          spans("query.run") {
            canonical(df).write.mode("overwrite").parquet(s"$work/results/$name")
          }
        } catch {
          case e: Throwable => failures(name) = s"${e.getClass.getName}: ${e.getMessage}"
        } finally spark.catalog.clearCache()
      }
    }
    val t1 = System.nanoTime()
    result("wall_s") = (t1 - t0) / 1e9
    result("cpu_s") = (processCpuNanos() - cpu0) / 1e9
    result("peak_rss_mb") = peakRssMb()
    result("attempted") = math.max(1, lines.size)
    result("failures") = failures.toMap
    recorder.foreach { r =>
      org.apache.spark.sql.PerfbenchAccess.drain(spark.sparkContext)
      result("layers") = layerMetrics(r, spans, t0, t1, (t1 - t0) / 1e9)
      result("lines") = lines.map(n => n -> lineDetail(r, spans, n)).toMap
    }
    // tools/check_oracle.py reads the SQL next to the dumps
    if (lines.nonEmpty) {
      Files.createDirectories(Paths.get(s"$work/results"))
      writeJson(s"$work/results/oracle_sql.json",
        lines.map(n => n -> SparkEntry.oracleSql.getOrElse(n, null)).toMap)
    }
    if (!spark.sparkContext.isStopped) spark.stop()
    writeJson(resultPath, result.toMap)
  }

  /** graft.Main's pipeline (Pipeline.run, then Main's observed count),
    * with each layer call in its own span. */
  private def etlTraced(spark: SparkSession, spans: Spans, input: String, out: String,
                        cfg: ConfigLoader.EngineConfig): Unit = {
    val raw = spans("etl.extract")(StudiesSource.readPaged(spark, s"$input/pages"))
    spans("etl.guard")(require(!raw.isEmpty, "extract produced no studies"))
    val enriched = spans("etl.transform") {
      val terms = cfg.filterAdvanced
      val filtered = if (terms.nonEmpty) raw.filter(Essie.compileAll(terms)) else raw
      Enrich.gated(Flatten(filtered), cfg.gate)
    }
    spans("etl.sink") {
      CsvSink.write(enriched.drop("processed"), out, aiColumn = Some(cfg.gate.aiColumn))
    }
    spans("etl.recount") {
      val (df, obs) = Enrich.withMetrics(enriched)
      val n = df.count()
      val m = obs.get
      println(s"rows=$n processed=${m("processed")} bypassed=${m("bypassed")}")
    }
  }

  /** graft.Verify's dump canonicalization: session timestamps as NTZ,
    * decimals as doubles, so the dump compares with the DuckDB oracle. */
  private def canonical(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map {
      case StructField(n, TimestampType, _, _) => col(n).cast(TimestampNTZType).as(n)
      case StructField(n, _: DecimalType, _, _) => col(n).cast(DoubleType).as(n)
      case StructField(n, _, _, _) => col(n)
    }.toIndexedSeq: _*)

  private def layerMetrics(r: Recorder, spans: Spans, t0: Long, t1: Long,
                           wall: Double): Map[String, Double] = {
    def spanTasks(layer: String) = r.tasks.filter(t => Spans.layerOf(t.span) == layer)
    def taskSeconds(ts: Seq[Recorder.Task]) = ts.map(t => t.finish - t.launch).sum / 1e3
    val jobIntervals = r.jobs.values.toSeq.map(j => (j.start, j.end))
    val taskIntervals = r.tasks.toSeq.map(t => (t.launch, t.finish))
    val execWall = Recorder.unionLength(jobIntervals) / 1e3
    val taskS = taskSeconds(r.tasks.toSeq)
    val sink = spans.selfSeconds("etl.sink")
    val poolBuilds = r.execs.flatMap(_.poolBuildNs)
    val poolBuildS = poolBuilds.sum / 1e9
    val linesPerPool = r.execs.toSeq.flatMap(e => e.poolReads.toSeq.map(_ -> Spans.lineOf(e.span)))
      .groupBy(_._1).values.map(_.flatMap(_._2).distinct.size)
    val stages = r.stageTasks.size
    Map(
      "etl.extract.s" -> spans.selfSeconds("etl.extract"),
      "etl.extract.jobs" -> r.jobs.values.count(j => Spans.layerOf(j.span) == "etl.extract").toDouble,
      "etl.sink.s" -> sink,
      "etl.sink.parallelism" -> (if (sink > 0) taskSeconds(spanTasks("etl.sink").toSeq) / sink else 0.0),
      "etl.guard.s" -> spans.selfSeconds("etl.guard"),
      "etl.recount.s" -> spans.selfSeconds("etl.recount"),
      "query.build.s" -> (spans.selfSeconds("query.build") - poolBuildS),
      "query.plan.s" -> r.execs.map(_.planMs).sum / 1e3,
      "plan.exchanges" -> r.execs.map(_.exchanges).sum.toDouble,
      "plan.fallback_exprs" -> r.execs.map(_.fallbacks).sum.toDouble,
      "scan.tasks" -> r.tasks.count(_.readBytes > 0).toDouble,
      "scan.mb" -> r.tasks.map(_.readBytes).sum / 1e6,
      "query.exec.s" -> execWall,
      "exec.parallelism" -> (if (execWall > 0) taskS / execWall else 0.0),
      "exec.single_task_stage_frac" ->
        (if (stages > 0) r.stageTasks.count(_._2 == 1).toDouble / stages else 0.0),
      "exec.jobs" -> r.jobs.size.toDouble,
      "exec.stages" -> stages.toDouble,
      "exec.tasks" -> r.tasks.size.toDouble,
      "exec.task_s" -> taskS,
      "exec.cpu_s" -> r.tasks.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> r.tasks.map(_.gcMs).sum / 1e3,
      "exec.sched_gap_s" -> (execWall - Recorder.unionLength(taskIntervals) / 1e3),
      "exec.shuffle_mb" -> r.tasks.map(_.shuffleWrite).sum / 1e6,
      "exec.spill_mb" -> r.tasks.map(_.spill).sum / 1e6,
      "pool.builds" -> poolBuilds.size.toDouble,
      "pool.build_s" -> poolBuildS,
      "pool.reuses" -> linesPerPool.map(n => math.max(0, n - 1)).sum.toDouble,
      "trace.wall_s" -> wall,
      "trace.uncovered_s" -> spans.uncoveredSeconds(t0, t1))
  }

  private def lineDetail(r: Recorder, spans: Spans, name: String): Map[String, Double] = {
    def inLine(span: String) = Spans.lineOf(span).contains(name)
    val ts = r.tasks.filter(t => inLine(t.span))
    val es = r.execs.filter(e => inLine(e.span))
    val dur = spans.done.filter(s => inLine(s.path))
    def spanS(layer: String) = dur.filter(_.layer == layer).map(s => (s.end - s.start) / 1e9).sum
    Map(
      "build_s" -> spanS("query.build"),
      "run_s" -> spanS("query.run"),
      "plan_s" -> es.map(_.planMs).sum / 1e3,
      "jobs" -> r.jobs.values.count(j => inLine(j.span)).toDouble,
      "stages" -> r.stageTasks.count(s => inLine(s._1)).toDouble,
      "tasks" -> ts.size.toDouble,
      "task_s" -> ts.map(t => t.finish - t.launch).sum / 1e3,
      "exchanges" -> es.map(_.exchanges).sum.toDouble,
      "fallback_exprs" -> es.map(_.fallbacks).sum.toDouble,
      "pool_builds" -> es.count(_.poolBuildNs.isDefined).toDouble,
      "pool_reads" -> es.map(_.poolReads.size).sum.toDouble)
  }

  private def epochNanos(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }

  private def processCpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** VmHWM: the process's peak resident set, in MB. */
  private def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  private def writeJson(path: String, value: Any): Unit =
    Files.writeString(Paths.get(path), json(value))

  private def json(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case x => x.toString
  }
}
