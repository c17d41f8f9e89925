package graft.queries

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** SharedPools' one path: each JVM builds its pools once per
  * (session, dir, key) into its own `graft_pools_*` root, which is
  * deleted when the JVM exits.
  */
class SharedPoolsSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private def freshFixture(tag: String): String = {
    val dir = Files.createTempDirectory(s"pool_fx_$tag")
    Files.writeString(dir.resolve("data.txt"), s"fixture $tag")
    dir.toString
  }

  test("every cold entry pays the build") {
    val dir = freshFixture("rebuild")
    val before = SharedPools.buildsRun.get()
    SharedPools.materialized(spark, dir, "spec_rb") {
      spark.range(10).selectExpr("id")
    }.collect()
    SharedPools.materialized(spark, dir, "spec_rb") {
      fail("a warm entry must reuse the build"): org.apache.spark.sql.DataFrame
    }.collect()
    assert(SharedPools.buildsRun.get() == before + 1)
    SharedPools.evict("spec_rb")
    SharedPools.materialized(spark.newSession(), dir, "spec_rb") {
      spark.range(10).selectExpr("id")
    }.collect()
    assert(SharedPools.buildsRun.get() == before + 2,
      "an evicted entry must pay the build again — bench floors measure builds")
  }

  test("distinct fixture dirs never share a durable entry under one key") {
    val dirA = freshFixture("fpX")
    val dirB = freshFixture("fpX")
    val before = SharedPools.buildsRun.get()
    val a = SharedPools.materialized(spark, dirA, "spec_fp") {
      spark.range(5).selectExpr("id", "'A' AS tag")
    }.select("tag").distinct().collect().map(_.getString(0)).toList
    val b = SharedPools.materialized(spark, dirB, "spec_fp") {
      spark.range(5).selectExpr("id", "'B' AS tag")
    }.select("tag").distinct().collect().map(_.getString(0)).toList
    assert(a == List("A") && b == List("B"))
    assert(SharedPools.buildsRun.get() == before + 2, "each fixture dir owns its own entry")
  }

  test("a JVM's pool root is deleted when it exits") {
    // A child JVM on this classpath materializes one pool under its own
    // java.io.tmpdir and exits normally; afterwards no root may remain.
    import scala.jdk.CollectionConverters._
    val tmp = Files.createTempDirectory("pool_root_exit")
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(_.startsWith("--add-opens")).toSeq
    val cmd = Seq(javaBin, "-Xmx512m", s"-Djava.io.tmpdir=$tmp") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.queries.PoolRootChild")
    try {
      val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
      assert(proc.waitFor() == 0, out.takeRight(20).mkString("\n"))
      val poolFile = out.collectFirst { case l if l.startsWith("POOL ") => l.stripPrefix("POOL ") }
      assert(poolFile.exists(_.contains(s"$tmp/graft_pools_")),
        s"the child must materialize its pool under its own root: ${out.takeRight(20)}")
      val left = Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.startsWith("graft_pools_")).toList
      assert(left.isEmpty, s"pool roots left behind: $left")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  test("every PoolWarmup key resolves to a registered SharedPools call site key") {
    // The warm pass is only as honest as its registry: a pool added to a
    // query but not to PoolWarmup silently reverts to first-touch
    // attribution. Grep the sources for materialized(...) keys and
    // require the registry to match them exactly.
    import scala.jdk.CollectionConverters._
    val srcRoot = Paths.get("src/main/scala/graft")
    val keyRe = java.util.regex.Pattern.compile(
      """SharedPools\.materialized\([^,]+,[^,]+,\s*"([^"]+)"""")
    val inSource: Set[String] = Files.walk(srcRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val m = keyRe.matcher(Files.readString(p))
        Iterator.continually(m).takeWhile(_.find()).map(_.group(1)).toList.iterator
      }.toSet
    val registered = PoolWarmup.pools.map(_._1).toSet
    assert(inSource == registered,
      s"PoolWarmup registry out of sync: source has ${inSource -- registered} unregistered, " +
        s"registry has ${registered -- inSource} orphaned")
  }
}

/** Child JVM for the pool-root exit test: one small pool, then a normal
  * exit. Prints one of the pool's files as `POOL <path>`. */
object PoolRootChild {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = java.nio.file.Files.createTempDirectory("pool_fx_child").toString
    val pool = SharedPools.materialized(spark, dir, "spec_exit") {
      spark.range(3).selectExpr("id")
    }
    println(s"POOL ${pool.inputFiles.head}")
    spark.stop()
  }
}
