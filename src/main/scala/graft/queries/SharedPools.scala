package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One-materialization-per-run registry for intermediates shared by
  * SEVERAL registered queries (r6 verdict stretch 8).
  *
  * In-memory `persist` cannot serve this role: Verify and Bench call
  * `spark.catalog.clearCache()` after every query (by design — 366
  * queries each pinning their own caches would accumulate), which also
  * evicts any cross-query pool, so each consumer re-paid the full build
  * (measured: d07 + p06 each rebuilt the shingle→contamination-pair
  * subtree, 2.8 s + 4.3 s warm at sf0.1). Instead the pool is
  * MATERIALIZED once to a per-JVM temp parquet and consumers read that —
  * exactly the stage-boundary materialization a 100 TB pipeline would
  * use between assembly and its consumers, and immune to clearCache.
  *
  * There is one path: every JVM builds its own pools under a fresh
  * `graft_pools_*` dir in `java.io.tmpdir`, deleted when the JVM exits.
  * A durable cross-JVM cache (keyed by classfile md5 and fixture
  * fingerprint) used to sit beside it; it was removed because every
  * measured caller — Verify's two-JVM determinism gate, Bench's floors,
  * each benchmark pass — turned it off to re-derive pools, so it was a
  * second code path that nothing measured relied on. A fresh dir per
  * JVM also means a rewritten fixture dir can never serve a stale pool.
  *
  * Hash-safety: only exact-typed columns (strings/longs/exact decimals)
  * may ride through a pool — parquet round-trips them bitwise.
  */
object SharedPools {
  private lazy val root: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_pools_").toFile
    // Pool data only lives as long as its JVM. Hadoop's hook manager runs
    // hooks by descending priority, so this one runs after Spark's own
    // (SparkContext stop, at FileSystem priority + 30) and no task can
    // still be writing into the dir while it is deleted.
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => org.apache.commons.io.FileUtils.deleteQuietly(dir),
      org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 20)
    dir.toString
  }
  private val built =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()
  /** Builds actually executed by this JVM (spec hook). */
  private[queries] val buildsRun = new java.util.concurrent.atomic.AtomicLong(0)
  /** Drop one pool's in-memory entries (all sessions/dirs) so the next
    * entry pays the build again (Bench's `pool:` lines time it). */
  private[graft] def evict(key: String): Unit =
    built.keySet.removeIf(_._3 == key)

  /** Build `df` at most once per (session, dir, key): first caller pays
    * the build + a parquet write; every caller (including the first)
    * gets a plain parquet scan of the materialized result.
    *
    * The build runs OUTSIDE the map's lock (check-then-putIfAbsent, not
    * computeIfAbsent): pool builds may consume OTHER pools — d08's
    * cluster pool reads the jaccard-pair pool — and a nested
    * computeIfAbsent on one ConcurrentHashMap throws "Recursive
    * update". A racing duplicate build writes the same deterministic
    * bytes to the same path with mode=overwrite, so losing the
    * putIfAbsent race is waste, never wrongness. */
  def materialized(s: SparkSession, d: String, key: String)(build: => DataFrame): DataFrame = {
    built.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val mapKey = (s, d, key)
    val existing = built.get(mapKey)
    if (existing != null) existing
    else {
      val path = s"$root/${key}_${Integer.toHexString(d.hashCode)}"
      buildsRun.incrementAndGet()
      build.write.mode("overwrite").parquet(path)
      val df = s.read.parquet(path)
      val prev = built.putIfAbsent(mapKey, df)
      if (prev != null) prev else df
    }
  }
}
