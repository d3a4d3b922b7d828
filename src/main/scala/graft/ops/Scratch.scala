package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one session-materialization layer: every shared
  * intermediate table (the shingle postings and near-dup pair list in
  * [[Dedup]], the IVF/PQ indexes, the suffix-rank tables, …) and the
  * streaming twins' staged-shard cache (`Streams.stageShards`) is built
  * through [[once]] — the "first-class intermediate table" discipline:
  * when several operators (or several SUBTREES of one plan that
  * Catalyst cannot collapse via exchange reuse because column pruning
  * makes the copies canonically unequal) start from the same expensive
  * derived table, a production pipeline writes it once and every
  * consumer scans the (far smaller) file. Deterministic inputs ⇒ the
  * round-trip changes no oracle hash.
  *
  * The identity of a build is (applicationId, resolved root, key): a
  * second session in the same JVM never overwrites files a first
  * session's lazy frames still read, and re-configuring a root
  * mid-session rebuilds under the new root instead of serving paths
  * from the old one. Paths are md5-tagged so arbitrary key strings stay
  * filesystem-safe and injective, and a per-key lock serializes racing
  * first callers down to one build.
  *
  * '''Cluster deployment''': the [[materialize]] root honors
  * `spark.graft.scratchDir` — any Hadoop-compatible URI (shared FS,
  * HDFS, object store) every executor can reach; the parquet
  * writer/reader handle the IO, no driver-local java.io is involved
  * for a configured root. Unset, the root is a [[graft.util.WorkDirs]]
  * dir deleted on JVM exit — correct at local[*] only. A configured
  * root is NOT cleaned on exit (it is the operator's storage); the
  * applicationId in every key keeps sessions from colliding, and old
  * sessions' files are safe to expire externally. The staging layer
  * resolves its own root (`spark.graft.stagingDir`, POSIX-probed).
  */
private[graft] object Scratch {
  private val memo = scala.collection.concurrent.TrieMap.empty[String, String]
  // per-key build serialization: TrieMap.getOrElseUpdate only makes
  // the INSERT atomic — two threads racing one key would both run the
  // (side-effecting, expensive) build into the same path
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private val roots = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Conf key naming the shared scratch root (see class doc). */
  val ScratchDirConf = "spark.graft.scratchDir"

  private def root(s: SparkSession): String = {
    val conf = s.conf.get(ScratchDirConf, "")
    roots.getOrElseUpdate(conf,
      if (conf.isEmpty) graft.util.WorkDirs.temp("graft-scratch-") else conf)
  }

  /** Run `build` once per (applicationId, `root`, key) and return what
    * it returned; `build` gets the md5-tagged path under `root` to
    * build into. Every later call returns the memoized result without
    * building.
    */
  def once(s: SparkSession, root: String, key: String)(
      build: String => String): String = {
    val full = s"${s.sparkContext.applicationId}|$root|$key"
    val lock = locks.computeIfAbsent(full, _ => new Object)
    lock.synchronized {
      memo.getOrElseUpdate(full, {
        val tag = java.security.MessageDigest.getInstance("MD5")
          .digest(full.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(20)
        build(s"$root/$tag")
      })
    }
  }

  /** Materialize `build` as parquet once per (applicationId, root, key)
    * and return a reader over it — every later call is a file scan.
    */
  def materialize(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    graft.util.Parquet.read(s, once(s, root(s), key) { p =>
      build.write.mode("overwrite").parquet(p)
      p
    })
}
