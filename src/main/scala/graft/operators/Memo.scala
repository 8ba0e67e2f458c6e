package graft.operators

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-(session, dataset) materialization cache for shared pipeline
  * intermediates (MinHash signatures, near-dup pairs, cluster maps).
  *
  * Why not `persist()`: the harness mains call
  * `spark.catalog.clearCache()` between queries to bound the cache
  * footprint, which would silently un-memoize a cached DataFrame. A
  * checkpoint-style parquet materialization survives that — the first
  * query that needs an intermediate computes and writes it once; every
  * later consumer re-reads a (tiny) parquet table. This is exactly the
  * 100 TB shape too: a multi-query dedup pipeline materializes its
  * pairs/cluster tables to storage once and derives keeper selection,
  * contamination checks, etc. from them, instead of re-running the
  * shingle/LSH pipeline per downstream query.
  *
  * Keys are held in a WeakHashMap on the session object itself (not
  * `identityHashCode`, which can be reused after a session is GC'd) so
  * entries die with their session.
  *
  * WHERE the tables land is a spark conf, [[RootConf]] — on a real
  * cluster the default `java.io.tmpdir` would be a DRIVER-local path
  * invisible to executors, so production must point it at a shared
  * filesystem (`spark.conf.set("graft.memo.root", "hdfs://…/memo")` or
  * an S3/ABFS URI; any Hadoop-FS scheme works, the write/read path is
  * `DataFrame.write.parquet`). Unset, it falls back to a local temp
  * directory — correct for local[N] and tests. All memo directories
  * are removed by a best-effort JVM shutdown hook (Hadoop FS delete,
  * so the conf-rooted ones clean up too).
  */
object Memo {

  /** Spark conf key for the memo materialization root. Production sets
    * this to a shared filesystem; default is a driver-local tempdir. */
  val RootConf = "graft.memo.root"

  private val lock = new Object
  private val perSession =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, String]]()
  // r17: the read-side DataFrame per materialization path. A memo path
  // is written exactly once and never rewritten (superseded keys get a
  // FRESH path), so the resolved logical plan — whose construction
  // costs a driver-side directory listing + parquet footer schema read
  // per `spark.read.parquet` call — is immutable and safe to serve on
  // every hit. Keyed inside the same per-session map machinery as the
  // paths (an entry dies with its session); hits were the dominant
  // driver-side cost of warm memo-served queries (tens of ms × several
  // memo reads × every query in a pass).
  private val readCache =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, DataFrame]]()

  // driver-side ARTIFACT cache for bounded, INDEX-side literals — the
  // IVF codebooks (Similarity.centroidLiterals and the sample
  // codebook), which every literal-probe serve would otherwise
  // re-collect as its own Spark job. Query-side literals — probe-pair
  // lists, ADC lookup tables — are NOT cached: r18 reverted the r17
  // caching of those, since a real serve computes them per query batch.
  // Keyed exactly like memo tables (session + dataset content
  // fingerprint + name), so a regenerated dataset rebuilds its
  // artifacts. The monitor is the same reentrant lock as table builds —
  // artifact builders may read memo tables.
  private val artifacts =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, AnyRef]]()

  def artifact[A <: AnyRef](spark: SparkSession, dir: String, name: String)
      (build: => A): A = {
    val m = lock.synchronized {
      var mm = artifacts.get(spark)
      if (mm == null) {
        mm = new ConcurrentHashMap[String, AnyRef]()
        artifacts.put(spark, mm)
      }
      mm
    }
    val key = s"$dir|${graft.sources.SourceState.dirFingerprint(spark, dir)}|$name"
    var a = m.get(key)
    if (a == null) lock.synchronized {
      a = m.get(key)
      if (a == null) {
        a = build
        m.put(key, a)
      }
    }
    a.asInstanceOf[A]
  }

  private def readMemo(spark: SparkSession, path: String): DataFrame = {
    val m = lock.synchronized {
      var mm = readCache.get(spark)
      if (mm == null) {
        mm = new ConcurrentHashMap[String, DataFrame]()
        readCache.put(spark, mm)
      }
      mm
    }
    var df = m.get(path)
    if (df == null) {
      df = spark.read.parquet(path)
      m.put(path, df)
    }
    df
  }
  // path → the hadoop conf it was written under: a bare `new
  // Configuration()` would lack the session's fs settings (S3A
  // credentials/endpoint, HDFS nameservices), so deletes of conf-rooted
  // paths would silently fail and leak the memo directories
  private val allPaths =
    new ConcurrentHashMap[String, org.apache.hadoop.conf.Configuration]()

  sys.addShutdownHook {
    allPaths.forEach { (p, conf) =>
      try {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(conf).delete(hp, true)
        ()
      } catch { case _: Exception => () }
    }
  }

  /** Resolve a fresh materialization directory for one memo table:
    * under [[RootConf]] when set (shared-FS path for clusters), else a
    * local temp directory. */
  private def newPath(spark: SparkSession, name: String): String =
    spark.conf.getOption(RootConf) match {
      case Some(root) =>
        s"${root.stripSuffix("/")}/graft-memo-$name-${java.util.UUID.randomUUID()}"
      case None => Files.createTempDirectory(s"graft-memo-$name-").toString
    }

  /** Materialize a ONE-OFF intermediate to a fresh parquet path — NOT
    * memoized, every call writes anew. For per-batch intermediates
    * (an increment's candidate set) that are consumed more than once
    * within one job but are never valid across batches, so caching
    * them under a (session, dir) key would serve stale batches. Same
    * conf-rooted placement and shutdown cleanup as memo tables. */
  def scratch(spark: SparkSession, name: String)
      (build: => DataFrame): DataFrame =
    scratchHandle(spark, name)(build)._1

  /** [[scratch]] plus the materialization path as an explicit release
    * handle — for builders that supersede their own scratches in a
    * loop (the BPE merge rounds) and can free each one as soon as its
    * successor materialized, instead of accreting every round until
    * JVM shutdown. */
  private[graft] def scratchHandle(spark: SparkSession, name: String)
      (build: => DataFrame): (DataFrame, String) = {
    val p = newPath(spark, name)
    allPaths.put(p, spark.sparkContext.hadoopConfiguration)
    build.write.mode("overwrite").parquet(p)
    (spark.read.parquet(p), p)
  }

  /** Delete a scratch materialization NOW (same best-effort semantics
    * as the shutdown hook). Callers must have fully consumed every
    * DataFrame backed by it — a later action on one would read a
    * deleted path. */
  private[graft] def release(spark: SparkSession, path: String): Unit = {
    try {
      val hp = new org.apache.hadoop.fs.Path(path)
      hp.getFileSystem(allPaths.getOrDefault(path,
        spark.sparkContext.hadoopConfiguration)).delete(hp, true)
      ()
    } catch { case scala.util.control.NonFatal(_) => () }
    allPaths.remove(path)
    ()
  }

  /** Scoped scratch: materialize, run `use`, DELETE the scratch — the
    * per-microbatch form. A long-lived streaming loop makes several
    * scratches per batch, and shutdown-hook-only cleanup would accrete
    * one directory per scratch for the stream's whole lifetime (days
    * of one-per-second microbatches = hundreds of thousands of dirs).
    * `use` must fully consume the frame (all its actions inside). */
  def withScratch[A](spark: SparkSession, name: String)
      (build: => DataFrame)(use: DataFrame => A): A = {
    val (df, p) = scratchHandle(spark, name)(build)
    try use(df) finally release(spark, p)
  }

  /** Return the memoized table for (session, dir, name), building and
    * materializing it on first use. `build` runs at most once per key.
    *
    * NOT computeIfAbsent: builders nest (the pair table's builder reads
    * the signature memo), and ConcurrentHashMap throws "Recursive
    * update" when a nested computeIfAbsent lands in the same bin. A
    * monitor is reentrant, so a build may memoize its own inputs.
    * Deliberate tradeoff: first-time builds of DIFFERENT keys serialize
    * on the one monitor (per-key locks would deadlock-proof only for
    * our current acyclic build DAG and break the reentrancy guarantee
    * in general); hits take the lock-free fast path, and builds are
    * once-per-dataset, so the serialization window is the cold start
    * only. */
  def table(spark: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame = {
    val m = lock.synchronized {
      var mm = perSession.get(spark)
      if (mm == null) {
        mm = new ConcurrentHashMap[String, String]()
        perSession.put(spark, mm)
      }
      mm
    }
    // the dataset CONTENT fingerprint is part of the key: a dataset
    // regenerated at the same path must rebuild its memos, not serve
    // intermediates of data that no longer exists (one dir listing per
    // call — see SourceState for the cost argument). Superseded memo
    // directories linger until the shutdown hook; they are small,
    // bounded by rewrite count, and never served again.
    val key = s"$dir|${graft.sources.SourceState.dirFingerprint(spark, dir)}|$name"
    var path = m.get(key)
    if (path == null) lock.synchronized {
      path = m.get(key)
      if (path == null) {
        val p = newPath(spark, name)
        allPaths.put(p, spark.sparkContext.hadoopConfiguration)
        build.write.mode("overwrite").parquet(p)
        m.put(key, p)
        path = p
      }
    }
    // one-off scratches (fresh UUID path per call) stay uncached — only
    // the memoized tables, whose paths recur on every hit, go through
    // the read cache
    readMemo(spark, path)
  }
}
