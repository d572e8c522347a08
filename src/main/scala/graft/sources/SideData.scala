package graft.sources

import org.apache.spark.SparkFiles
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Side-data distribution — the DistributedCache surface
  * (`filecache/DistributedCache.java:152-877`: addCacheFile/getLocalCache,
  * addCacheArchive, symlinked task-local paths) re-expressed Spark-first.
  *
  * Two tiers, matching how the reference is actually used:
  *
  *  - **File tier** ([[addCacheFile]] / [[localPath]]): ship an opaque file
  *    to every executor once per job (dictionaries, models, stopword lists
  *    consumed by native tooling). Spark's file server is the cache
  *    machinery: executors download on first access and re-use across
  *    tasks, which is exactly `getLocalCache`'s localization contract.
  *    Call [[localPath]] INSIDE task closures — the path is task-local,
  *    like the reference's symlink-in-workdir.
  *  - **Lookup tier** ([[broadcastLookup]]): when the side file is really a
  *    small key→value table (the dominant DistributedCache use in the
  *    reference's examples), skip the file round-trip entirely and
  *    broadcast the parsed map — torrent-distributed once per executor,
  *    no per-task I/O, and usable inside any expression. A broadcast-hash
  *    JOIN stays preferable when the lookup participates relationally;
  *    this is for imperative per-row access inside custom kernels.
  *
  * At 100 TB the rule is unchanged from the reference's: side data must be
  * small (it is copied to EVERY executor). Anything that grows with the
  * corpus belongs in a table and a shuffle/broadcast join, not here.
  */
object SideData {

  /** Register `path` (local or any Hadoop-visible URI) for distribution to
    * every executor — `DistributedCache.addCacheFile`. Returns the file
    * name key to pass to [[localPath]] from task code. Idempotent per path
    * (Spark ignores re-adds of the same file). */
  def addCacheFile(spark: SparkSession, path: String): String = {
    spark.sparkContext.addFile(path)
    new org.apache.hadoop.fs.Path(path).getName
  }

  /** Recursive variant for a directory of side files. */
  def addCacheDir(spark: SparkSession, path: String): String = {
    spark.sparkContext.addFile(path, recursive = true)
    new org.apache.hadoop.fs.Path(path).getName
  }

  /** Task-local path of a distributed file — `getLocalCache`/the workdir
    * symlink. Valid on executors AND on the driver (local-mode tests). */
  def localPath(name: String): String = SparkFiles.get(name)

  /** Parse a small two-column frame into a broadcast key→value map — the
    * lookup-table use of DistributedCache without the file round-trip.
    * Guarded: side data is per-executor-resident, so an unexpectedly large
    * frame must fail loudly rather than OOM every executor. */
  def broadcastLookup(df: DataFrame, keyCol: String, valCol: String,
      maxEntries: Int = 10000000): Broadcast[Map[String, String]] = {
    require(maxEntries > 0 && maxEntries < Int.MaxValue,
      s"maxEntries must be in (0, Int.MaxValue): $maxEntries — side data " +
        "is per-executor-resident and cannot be unbounded")
    // null keys/values can't index a lookup map — fail loudly, and collapse
    // rows that are duplicated in full (same key AND value): those are
    // deterministic and shouldn't trip the ambiguity guard below
    val rows = df.selectExpr(s"cast($keyCol as string) as k",
        s"cast($valCol as string) as v")
      .distinct()
      .limit(maxEntries + 1).collect()
    require(rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
      "side lookup has null keys or values — a lookup map cannot " +
        "represent them; filter or default them before broadcasting")
    require(rows.length <= maxEntries,
      s"side lookup exceeds $maxEntries entries — use a broadcast join " +
        "or a shuffle join instead of DistributedCache-style side data")
    // conflicting values per key would resolve last-wins in partition
    // order — nondeterministic side data; force a deliberate dedup
    val m = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    require(m.size == rows.length,
      "side lookup has conflicting values for a key — aggregate to one " +
        "value per key before broadcasting (last-wins would be " +
        "partition-order-dependent)")
    df.sparkSession.sparkContext.broadcast(m)
  }
}
