package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType
import graft.pipeline.RunMetrics
import graft.sources.SourceState

/** Manual timing of declared queries under the bench session: each
  * named [[SparkEntry.queries]] entry runs 3 times; run 0 is cold (it
  * carries the dataset's memo/index builds), the warm time is
  * min(run1, run2) — the same warm-min `Bench` reports. Every run also
  * prints its [[RunMetrics]] line (jobs, tasks, rows, bytes).
  *
  * At factor 1 the queries read `SPARK_GRAFT_SF_DIR` itself. At
  * factor > 1 they read a `factor`× clone of it ([[cloneOf]]), where
  * per-row work outweighs the per-stage latency floor that dominates
  * sf0.1 — run it at two `SPARK_GRAFT_CPUS` values to see operator
  * scaling. Usage:
  *   SPARK_GRAFT_SF_DIR=<sf dir> SPARK_GRAFT_CPUS=8 \
  *     sbt "runMain graft.Probe 10 feed_compact,tfidf_top_terms"
  */
object Probe {
  /** Per-copy key shift: far above any real key. */
  private val IdOffset = 1000000000000L

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: graft.Probe <factor> <q1,q2,...>")
    val factor = args(0).toInt
    val names = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the source dataset directory"))
    val spark = Session()
    val dir = if (factor == 1) src
      else cloneOf(spark, src, factor, System.getProperty("java.io.tmpdir"))
    val cpus = spark.sparkContext.defaultParallelism
    names.foreach { q =>
      val secs = (0 until 3).map { i =>
        val (s, m) = RunMetrics.instrument(spark) {
          val t0 = System.nanoTime()
          SparkEntry.queries(q)(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
        spark.catalog.clearCache()
        println(f"[probe] $q run$i: $s%.3f s ${m.render}")
        s
      }
      println(f"[probe] cpus=$cpus factor=$factor $q: cold ${secs.head}%.3f s" +
        f" warm ${secs.tail.min}%.3f s")
    }
    spark.stop()
  }

  /** Where [[cloneOf]] puts the `factor`× clone of `src`: keyed on the
    * source's content fingerprint, so regenerated testdata or another
    * source directory never serves a stale clone. */
  def cloneDir(spark: SparkSession, src: String, factor: Int,
      root: String): String =
    cloneDir(root, factor, SourceState.dirFingerprint(spark, src))

  private def cloneDir(root: String, factor: Int, fp: String): String =
    s"$root/graft_probe_${factor}x_$fp"

  /** A `factor`× clone of every table under `src`, built once per source
    * content and reused while its `_DONE` marker holds the fingerprint
    * and the source path. Building a clone deletes this source's older
    * `factor`× clones (their `_DONE` names the same source under another
    * fingerprint), so a changed source does not leave its stale clones
    * behind; clones of other sources and other factors stay.
    *
    * Every long `*_id`/`*key` column is shifted by the SAME per-copy
    * offset in every table, so cross-table joins (events.user_id ↔
    * orders.o_custkey, l_orderkey ↔ o_orderkey, doc_id ≅ vec_id) stay
    * referentially intact and each copy is an independent shard.
    * Tables without such a key (region, nation: int keys) are copied
    * once, so joins to them do not multiply. Values, texts and
    * timestamps are untouched. Tables are read through [[Tables.load]],
    * which normalizes events.ts in either storage era. Each table is
    * written as 64 splits: a clone that inherits the source's single
    * split scans as one task and hides the very scaling it is built to
    * show (OPTIMIZATION_r18.md "Scaling table"). */
  def cloneOf(spark: SparkSession, src: String, factor: Int,
      root: String): String = {
    val fp = SourceState.dirFingerprint(spark, src)
    val dir = cloneDir(root, factor, fp)
    val source = Paths.get(src).toAbsolutePath.normalize.toString
    val stamp = s"$fp\n$source"
    def stampOf(d: java.nio.file.Path) = {
      val m = d.resolve("_DONE")
      if (Files.exists(m)) Some(Files.readString(m)) else None
    }
    if (!stampOf(Paths.get(dir)).contains(stamp)) {
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val stale = Option(new java.io.File(root).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(s"graft_probe_${factor}x_"))
        .filter(d => stampOf(d.toPath).exists(_.endsWith(s"\n$source")))
      (stale.map(_.getPath) :+ dir).foreach(d => fs.delete(new Path(d), true))
      val copies = spark.range(factor.toLong).select(col("id").as("_copy"))
      new java.io.File(src).listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).sorted.foreach { file =>
          val df = Tables.load(spark, src, file.stripSuffix(".parquet"))
          val shifted = df.schema.fields.collect {
            case f if f.dataType == LongType && (f.name.endsWith("_id") ||
                f.name.toLowerCase.endsWith("key")) => f.name
          }.toSet
          val cloned = if (shifted.isEmpty) df
            else df.crossJoin(copies).select(df.columns.toIndexedSeq.map { c =>
              if (shifted(c)) (col(c) + col("_copy") * IdOffset).as(c)
              else col(c)
            }: _*)
          cloned.repartition(64).write.parquet(s"$dir/$file")
        }
      Files.createDirectories(Paths.get(dir))
      Files.writeString(Paths.get(dir, "_DONE"), stamp)
    }
    dir
  }
}
