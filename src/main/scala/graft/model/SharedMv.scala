package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialized-view helper: build an expensive shared projection ONCE per
  * (dataset content, name) and read it back as a plain parquet leaf.
  *
  * The MV key is a CONTENT fingerprint of the source table's files (names +
  * sizes + mtimes), so regenerating a dataset at the same path invalidates
  * the cache automatically and concurrent JVMs on different inputs never
  * collide on a directory. This is the at-scale shape: an expensive
  * projection shared by several analytics (a co-purchase graph, a near-dup
  * pair set) is materialized to storage once and amortized over every
  * consumer — and unlike .cache() a file survives cache clearing, exactly
  * like a real shared table.
  */
object SharedMv {
  def apply(s: SparkSession, d: String, srcTable: String, name: String)
           (build: => DataFrame): DataFrame =
    apply(s, d, Seq(srcTable), name)(build)

  /** Multi-source form: the fingerprint covers EVERY table the builder
    * reads, so regenerating any one of them invalidates the MV (a trade
    * graph derived from lineitem+orders+customer+supplier must not survive
    * an orders regen that left lineitem untouched).
    *
    * `logicVersion` is the BUILDER's version and is part of the
    * fingerprint: source-file metadata cannot see a code change to the
    * derivation itself, so any change to what `build` computes MUST bump
    * the version at the call site — otherwise the old materialization is
    * silently served. */
  /** @param partitionCols optional hive-style partition columns for the
    *   materialization (`write.partitionBy`). A consumer filtering on one
    *   of these (an edge-type scan, a label scan) reads ONLY the matching
    *   directories — partition pruning is the columnar analog of the
    *   reference's per-type edge index (`store.rs:562`). The builder should
    *   pre-`repartition` on the same columns so each partition lands in
    *   O(1) files. Partition columns come back LAST in the read schema;
    *   consumers must use names, not positions. */
  def apply(s: SparkSession, d: String, srcTables: Seq[String], name: String,
            logicVersion: String = "1", partitionCols: Seq[String] = Nil)
           (build: => DataFrame): DataFrame = {
    val parts: Seq[java.io.File] = srcTables.sorted.flatMap { tbl =>
      val src = new java.io.File(d, s"$tbl.parquet")
      if (src.isDirectory) Option(src.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
      else Seq(src)
    }
    // Defensive versioning: the explicit logicVersion is the contract, but a
    // forgotten bump would silently serve a stale MV — so the fingerprint
    // ALSO folds in a hash of the calling class's bytecode. Any recompile of
    // the class holding the derivation changes the fingerprint (coarse — a
    // cheap one-time rebuild — but a code change can never serve old data).
    val fp = java.lang.Long.toHexString(
      parts.sortBy(f => (f.getParent, f.getName))
        .foldLeft(1125899906842597L * 31 + logicVersion.hashCode
            + callerBytecodeHash()) { (h, f) =>
          31 * (31 * (31 * h + f.getName.hashCode) + f.length()) + f.lastModified()
        })
    val root = new java.io.File(s"${System.getProperty("java.io.tmpdir")}/graft_mv")
    val stem = s"${name}_${math.abs(d.hashCode).toHexString}_"
    val dir = new java.io.File(root, stem + fp)
    // One build per directory per JVM: without the lock two concurrent
    // query threads both observe the missing _SUCCESS and race overwrite
    // writes into the SAME path (ConcurrencySpec). Double-checked: the
    // fast path (materialized MV) never takes the lock.
    val success = new java.io.File(dir, "_SUCCESS")
    if (!success.exists())
      buildLocks.computeIfAbsent(dir.getPath, _ => new Object).synchronized {
        if (buildMv(dir, root, stem, partitionCols)(build))
          reads.keySet.removeIf(_._2 == dir.getPath)
      }
    // The kept read is stamped with _SUCCESS's mtime, so a directory that
    // another JVM deleted and rebuilt is re-listed, never read through a
    // stale file index. The session check guards identity-hash reuse.
    val stamp = success.lastModified()
    reads.compute((System.identityHashCode(s), dir.getPath), (_, kept) =>
      if (kept != null && kept._1 == stamp && (kept._2.sparkSession eq s)) kept
      else (stamp, s.read.parquet(dir.getPath)))._2
  }

  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  // Read memo per (session, MV dir), like Tables: the directory name holds
  // the content fingerprint, and `s.read.parquet` costs a driver-side file
  // listing plus a schema-inference job (~50 ms) that every consumer would
  // otherwise pay per statement. Only the plan is kept, never data.
  private val reads =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), (Long, DataFrame)]()

  /** Writes the MV unless another thread already did; true iff it built. */
  private def buildMv(dir: java.io.File, root: java.io.File, stem: String,
                      partitionCols: Seq[String])(build: => DataFrame): Boolean = {
    val built = !new java.io.File(dir, "_SUCCESS").exists()
    if (built) {
      build.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(dir.getPath)
      // Evict STALE versions of this same (name, dataset) MV — a regenerated
      // source changes fp and would otherwise leave the old materialization
      // in tmp forever (same leak class as checkpoint dirs). Only AFTER the
      // new build's _SUCCESS exists (a failed build must not destroy the
      // last good materialization), and only siblings quiet for >15 min —
      // a concurrent JVM that fingerprinted moments ago may still be
      // serving an old-fp directory mid-query.
      if (new java.io.File(dir, "_SUCCESS").exists()) {
        val cutoff = System.currentTimeMillis() - 15L * 60 * 1000
        Option(root.listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith(stem) && f.getName != dir.getName &&
            f.lastModified() < cutoff)
          .foreach { f =>
            def rm(x: java.io.File): Unit = {
              if (x.isDirectory) Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
              x.delete(): Unit
            }
            rm(f)
          }
      }
    }
    built
  }

  // ---------- builder-bytecode fingerprint ----------

  private val bcHashes =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Hash of the first non-SharedMv, non-JDK caller class's bytecode. */
  private def callerBytecodeHash(): Long = {
    val cn = Thread.currentThread.getStackTrace.iterator
      .map(_.getClassName)
      .find(c => !c.startsWith("graft.model.SharedMv") &&
        !c.startsWith("java.") && !c.startsWith("jdk.") &&
        !c.startsWith("scala."))
      .getOrElse("")
    bcHashes.computeIfAbsent(cn, classBytecodeHash).longValue()
  }

  private def classBytecodeHash(cn: String): java.lang.Long = {
    if (cn.isEmpty) return 0L
    val res = "/" + cn.replace('.', '/') + ".class"
    val is = getClass.getResourceAsStream(res)
    if (is == null) return 0L
    try {
      var h = 1469598103934665603L
      val buf = new Array[Byte](1 << 14)
      var n = is.read(buf)
      while (n > 0) {
        var i = 0
        while (i < n) { h = (h ^ buf(i)) * 1099511628211L; i += 1 }
        n = is.read(buf)
      }
      h
    } finally is.close()
  }
}
