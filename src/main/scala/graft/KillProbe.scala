package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Crash harness for the streaming ingest protocol — the process-kill
  * twin of StreamingSpec's simulated replays. The spec proves the
  * marker/seq contracts hold when a batch is REDELIVERED; this main
  * lets `tools/verify_killmid.py` prove they hold when the JVM is
  * SIGKILLed at an arbitrary instant — mid-parquet-commit,
  * between a band append and its marker, between an index append and
  * the checkpoint offset commit — and then restarted from the stream
  * checkpoint.
  *
  * Three phases over one work directory (isolated warehouse +
  * metastore, so a kill can never corrupt the repo's):
  *   setup  — seed corpus store + band/postings/assignment serving
  *            indexes over 75% of the sf documents; stage the other
  *            25% as `nBatches` single-file stream batches.
  *   ingest — run [[streaming.StreamingBackfill.fullIngestLoop]] over
  *            the staged files with a real checkpoint. The driver
  *            SIGKILLs this process at a random time; rerunning the
  *            phase resumes from the checkpoint (redelivering the
  *            in-flight batch).
  *   check  — assert the corpus store holds every document exactly
  *            once, and BM25 + ANN served from the maintained indexes
  *            equal batch rebuilds over the full corpus (the same
  *            hash-equalities StreamingSpec pins for the clean run).
  *
  * Run via java with the compiled classes + /opt/spark/jars — no sbt
  * in the kill loop (killing sbt's JVM would test sbt, not the
  * protocol).
  */
object KillProbe {
  private val Batches = 12
  // churn phases: every doc is churned — evens deleted, odds updated —
  // spread over ChurnBatches op batches so the kill window spans many
  // appends; the want-model stays arithmetic (doc_id parity)
  private val ChurnBatches = 12
  private val GraphWaves = 10
  private val GchurnWaves = 6
  private val CdcBatches = 12

  private def session(work: String): SparkSession = {
    System.setProperty("derby.system.home", s"$work/derby")
    SparkSession.builder()
      .appName("graft-kill-probe").master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4194304")
      .config("spark.ui.enabled", "false")
      .enableHiveSupport()
      .getOrCreate()
  }

  private val bandTable = "kill_band_t"
  private val postTable = "kill_post_t"
  private val assignTable = "kill_assign_t"
  private val churnPostTable = "kill_churn_post_t"
  private val churnDlTable = "kill_churn_dl_t"
  private val churnAssignTable = "kill_churn_assign_t"
  private val graphAssignTable = "kill_graph_assign_t"

  private def embedderFor(emb: DataFrame): DataFrame => DataFrame =
    b => emb.join(b.select(col("doc_id").as("vec_id")), "vec_id")

  /** The deterministic post-update text — ONE definition shared by the
    * churn-setup staging and the churn-check want-model, so the check
    * rebuilds exactly what the stream applied. */
  private def updatedText: org.apache.spark.sql.Column =
    concat(lit("updated body payload variant "),
      (col("doc_id") % 7).cast("string"))

  /** Seed a churn-schema serving index: `rows` stamped U at seq -1
    * (below every stream batch id, so streamed rows supersede them),
    * bucketed on `bucketCol` — the setup of every loop family. */
  private def seedIndex(spark: SparkSession, table: String, rows: DataFrame,
      bucketCol: String): Unit =
    graft.sources.Bucketing.ensureBucketedTable(spark, table,
      graft.sources.IndexChurn.stamp(rows, "U", -1L), Seq(bucketCol))()

  /** BM25 doc lengths, same payload as churnIngestLoop's dl table. */
  private def doclensOf(docs: DataFrame): DataFrame = {
    import graft.functions.{TextFunctions => T}
    docs.select(col("doc_id"),
      size(T.tokens(col("text"))).cast("long").as("dl"))
  }

  def main(args: Array[String]): Unit = {
    val phase = args(0)
    val work = args(1)
    val sf = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    val spark = session(work)
    import graft.operators.{Dedup, Retrieval, Similarity}
    import graft.sources.{Bucketing, IndexChurn}
    val docs = Tables.load(spark, sf, "documents")
    val corpusPred = col("doc_id") % 4 =!= 0
    val emb = Similarity.embeddingsWithNorm(spark, sf)
    val centroids = Similarity.trainCentroids(spark, sf, iters = 2)

    phase match {
      case "setup" =>
        docs.filter(corpusPred).write.mode("overwrite")
          .parquet(s"$work/corpus/documents.parquet")
        Bucketing.ensureBandIndexFrom(spark, bandTable,
          Dedup.minhashCappedBands(spark, sf).filter(corpusPred))
        seedIndex(spark, postTable,
          Retrieval.postingsTable(spark, sf).filter(corpusPred), "token")
        val streamedIds = docs.filter(!corpusPred)
          .select(col("doc_id").as("vec_id"))
        seedIndex(spark, assignTable, Similarity.assignVectors(
          emb.join(streamedIds, Seq("vec_id"), "left_anti"), centroids), "c_id")
        // one single-file batch per modulus slice, mtime-ordered so the
        // file source delivers them deterministically
        (0 until Batches).foreach { i =>
          val sub = s"$work/stream/b$i"
          docs.filter(!corpusPred && (col("doc_id") / 4) % Batches === i)
            .coalesce(1).write.mode("overwrite").parquet(sub)
          new java.io.File(sub).listFiles()
            .filter(_.getName.endsWith(".parquet"))
            .foreach(f => require(f.setLastModified(1000000000000L + i * 60000L)))
        }
        println("SETUP_DONE")

      case "ingest" =>
        val stream = spark.readStream.schema(Tables.documentsSchema)
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true")
          .parquet(s"$work/stream")
        println("INGEST_BEGIN")
        streaming.StreamingBackfill.fullIngestLoop(spark, stream,
          s"$work/corpus", bandTable, postTable, assignTable, centroids,
          embedderFor(emb), s"$work/reports",
          checkpointDir = s"$work/ckpt")
        println("INGEST_DONE")

      case "check" =>
        val n = streaming.StreamingBackfill
          .corpusDocs(spark, s"$work/corpus").count()
        val want = docs.count()
        require(n == want, s"corpus store holds $n docs, want $want")
        // distinct ids too: a partial batch overwrite must not leave a
        // doc duplicated across a crashed and a replayed file set
        val nd = streaming.StreamingBackfill
          .corpusDocs(spark, s"$work/corpus").select("doc_id")
          .distinct().count()
        require(nd == want, s"corpus store holds $nd distinct ids, want $want")
        val servedTf = IndexChurn
          .served(spark, postTable, Seq("token", "doc_id"))
          .filter(col("token").isin("hash", "join", "scan"))
        val gotBm25 = Retrieval.bm25Rank(spark, sf, servedTf, 20)
          .collect().map(_.toString).toSeq
        val wantBm25 = Retrieval.bm25Search(spark, sf)
          .collect().map(_.toString).toSeq
        require(gotBm25 == wantBm25,
          s"served BM25 diverged from batch rebuild:\n got=$gotBm25\nwant=$wantBm25")
        val gotAnn = Similarity.servedTopK(spark, sf,
            IndexChurn.served(spark, assignTable, Seq("vec_id")), iters = 2)
          .collect().map(_.toString).toSeq
        val wantAnn = Similarity.ivfTopKTrained(spark, sf, iters = 2)
          .collect().map(_.toString).toSeq
        require(gotAnn == wantAnn, "served ANN diverged from batch rebuild")
        // curation enrichment store: a kill between the batch-keyed
        // overwrite and the checkpoint commit must leave the redelivered
        // batch rewriting its own subdir — the store equals the batch
        // projection over every streamed doc, no dup/partial rows
        val gotCur = streaming.StreamingBackfill
          .curationDocs(spark, s"$work/corpus")
          .collect().map(_.toString).sorted.toSeq
        val wantCur = graft.operators.Curation
          .enriched(docs.filter(!corpusPred))
          .collect().map(_.toString).sorted.toSeq
        require(gotCur == wantCur,
          "curation enrichment store diverged from the batch projection")
        println("KILLPROBE_OK")

      // ---------------------------------------------- churn loop family
      // [[streaming.StreamingBackfill.churnIngestLoop]] under real
      // SIGKILLs: the full corpus is churned — every even doc_id
      // deleted, every odd one updated to a deterministic new text —
      // so the check's want-model is pure arithmetic and every batch
      // carries both tombstones and supersedes.
      case "churn-setup" =>
        seedIndex(spark, churnPostTable, Retrieval.postingsTable(spark, sf),
          "token")
        seedIndex(spark, churnDlTable, doclensOf(docs), "doc_id")
        seedIndex(spark, churnAssignTable,
          Similarity.assignVectors(emb, centroids), "c_id")
        (0 until ChurnBatches).foreach { i =>
          val slot = docs.filter((col("doc_id") % (2 * ChurnBatches))
            .isin(2 * i, 2 * i + 1))
          // evens: pure delete (before-image text); odds: D(old) + U(new)
          val dels = slot.filter(col("doc_id") % 2 === 0)
            .select(lit("D").as("op"), col("doc_id"), col("text"))
          val updD = slot.filter(col("doc_id") % 2 === 1)
            .select(lit("D").as("op"), col("doc_id"), col("text"))
          val updU = slot.filter(col("doc_id") % 2 === 1)
            .select(lit("U").as("op"), col("doc_id"),
              updatedText.as("text"))
          val sub = s"$work/stream/b$i"
          dels.unionByName(updD).unionByName(updU)
            .coalesce(1).write.mode("overwrite").parquet(sub)
          new java.io.File(sub).listFiles()
            .filter(_.getName.endsWith(".parquet"))
            .foreach(f => require(f.setLastModified(1000000000000L + i * 60000L)))
        }
        println("SETUP_DONE")

      case "churn-ingest" =>
        val opsSchema = org.apache.spark.sql.types.StructType.fromDDL(
          "op string, doc_id bigint, text string")
        val stream = spark.readStream.schema(opsSchema)
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true")
          .parquet(s"$work/stream")
        println("INGEST_BEGIN")
        streaming.StreamingBackfill.churnIngestLoop(spark, stream,
          churnPostTable, churnAssignTable, centroids, embedderFor(emb),
          doclenTable = Some(churnDlTable), checkpointDir = s"$work/ckpt")
        println("INGEST_DONE")

      case "churn-check" =>
        import graft.functions.{TextFunctions => T}
        val modDocs = docs.filter(col("doc_id") % 2 =!= 0)
          .withColumn("text", updatedText)
        def tfOf(d: DataFrame) = d
          .select(col("doc_id"), explode(T.tokens(col("text"))).as("token"))
          .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
        val gotPosts = IndexChurn
          .served(spark, churnPostTable, Seq("token", "doc_id"))
          .select("token", "doc_id", "tf").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val wantPosts = tfOf(modDocs)
          .select("token", "doc_id", "tf").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        require(gotPosts == wantPosts,
          s"churned postings serve diverged: got ${gotPosts.size} rows, " +
            s"want ${wantPosts.size}")
        val qTerms = Seq("hash", "join", "scan")
        val gotBm25 = Retrieval.bm25RankWith(
            IndexChurn.served(spark, churnPostTable, Seq("token", "doc_id"))
              .filter(col("token").isin(qTerms: _*)),
            IndexChurn.served(spark, churnDlTable, Seq("doc_id")), 20)
          .collect().map(_.toString).toSeq
        val wantBm25 = Retrieval.bm25RankWith(
            tfOf(modDocs).filter(col("token").isin(qTerms: _*)),
            doclensOf(modDocs), 20)
          .collect().map(_.toString).toSeq
        require(gotBm25 == wantBm25,
          s"churned BM25 diverged from rebuild:\n got=$gotBm25\nwant=$wantBm25")
        val gotAnn = Similarity.servedTopK(spark, sf,
            IndexChurn.served(spark, churnAssignTable, Seq("c_id", "vec_id")),
            iters = 2)
          .collect().map(_.toString).toSeq
        val wantAnn = Similarity.servedTopK(spark, sf,
            Similarity.assignVectors(emb.filter(col("vec_id") % 2 =!= 0),
              centroids), iters = 2)
          .collect().map(_.toString).toSeq
        require(gotAnn == wantAnn, "churned ANN serve diverged from rebuild")
        println("KILLPROBE_OK")

      // ---------------------------------------------- graph loop family
      // [[streaming.StreamingBackfill.graphIngestLoop]] under real
      // SIGKILLs: the graph grows from nothing over GraphWaves arrival
      // waves; end state must hash-equal the batch knnGraph.
      case "graph-setup" =>
        seedIndex(spark, graphAssignTable,
          Similarity.assignVectors(emb.limit(0), centroids), "c_id")
        val embRaw = Tables.load(spark, sf, "embeddings")
        (0 until GraphWaves).foreach { w =>
          val sub = s"$work/stream/b$w"
          embRaw.filter(col("vec_id") % GraphWaves === w)
            .coalesce(1).write.mode("overwrite").parquet(sub)
          new java.io.File(sub).listFiles()
            .filter(_.getName.endsWith(".parquet"))
            .foreach(f => require(f.setLastModified(1000000000000L + w * 60000L)))
        }
        println("SETUP_DONE")

      case "graph-ingest" =>
        val embRaw = Tables.load(spark, sf, "embeddings")
        val stream = spark.readStream.schema(embRaw.schema)
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true")
          .parquet(s"$work/stream")
        println("INGEST_BEGIN")
        streaming.StreamingBackfill.graphIngestLoop(spark, stream,
          graphAssignTable, centroids, s"$work/graph",
          checkpointDir = s"$work/ckpt")
        println("INGEST_DONE")

      case "graph-check" =>
        val got = streaming.StreamingBackfill
          .servedGraph(spark, s"$work/graph")
          .collect().map(_.toString).sorted.toSeq
        val want = Similarity.knnGraph(spark, sf)
          .collect().map(_.toString).sorted.toSeq
        require(got == want, "streamed graph diverged from the batch rebuild")
        require(IndexChurn
            .served(spark, graphAssignTable, Seq("c_id", "vec_id")).count()
          == emb.count(), "assignment index row count diverged")
        println("KILLPROBE_OK")

      // ---------------------------------------- graph churn loop family
      // [[streaming.StreamingBackfill.graphChurnLoop]] under real
      // SIGKILLs: a clean whole-corpus ingest, then the knnGraphChurn
      // delete set (vec_id % 10 == 0) streamed over GchurnWaves waves;
      // end state must hash-equal the batch knnGraphChurn.
      case "gchurn-setup" =>
        seedIndex(spark, graphAssignTable,
          Similarity.assignVectors(emb.limit(0), centroids), "c_id")
        val embRaw = Tables.load(spark, sf, "embeddings")
        embRaw.coalesce(1).write.mode("overwrite")
          .parquet(s"$work/ingest/all")
        streaming.StreamingBackfill.graphIngestLoop(spark,
          spark.readStream.schema(embRaw.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(s"$work/ingest"),
          graphAssignTable, centroids, s"$work/graph")
        (0 until GchurnWaves).foreach { w =>
          val sub = s"$work/stream/d$w"
          embRaw.filter(col("vec_id") % (10 * GchurnWaves) === w * 10)
            .coalesce(1).write.mode("overwrite").parquet(sub)
          new java.io.File(sub).listFiles()
            .filter(_.getName.endsWith(".parquet"))
            .foreach(f => require(f.setLastModified(1000000000000L + w * 60000L)))
        }
        println("SETUP_DONE")

      case "gchurn-ingest" =>
        val embRaw = Tables.load(spark, sf, "embeddings")
        val stream = spark.readStream.schema(embRaw.schema)
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true")
          .parquet(s"$work/stream")
        println("INGEST_BEGIN")
        streaming.StreamingBackfill.graphChurnLoop(spark, stream,
          graphAssignTable, centroids, s"$work/graph",
          checkpointDir = s"$work/ckpt")
        println("INGEST_DONE")

      case "gchurn-check" =>
        val got = streaming.StreamingBackfill
          .servedGraph(spark, s"$work/graph")
          .collect().map(_.toString).sorted.toSeq
        val want = Similarity.knnGraphChurn(spark, sf)
          .collect().map(_.toString).sorted.toSeq
        require(got == want, "streamed churn diverged from the batch build")
        require(IndexChurn
            .served(spark, graphAssignTable, Seq("c_id", "vec_id"))
            .filter(col("vec_id") % 10 === 0).count() == 0L,
          "assignment index still serves deleted vectors")
        println("KILLPROBE_OK")

      // ------------------------------------------------ CDC loop family
      // [[streaming.StreamingBackfill.cdcUpsertLoop]] under real
      // SIGKILLs: the bucket-store merge's aside/staging swap protocol
      // (two renames per bucket, recovery sweep at the next merge) is
      // exactly the seam a kill should land inside. Changelog derived
      // from the events table (op by event_id residue), split over
      // CdcBatches; the oracle is the plain latest-wins fold over the
      // WHOLE staged stream — order-free, so redelivery can't move it.
      case "cdc-setup" =>
        val ev = Tables.load(spark, sf, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            when(col("event_id") % 7 === 0, lit("D")).otherwise(lit("U"))
              .as("op"),
            col("event_type").as("last_type"),
            col("value").as("last_value"))
        (0 until CdcBatches).foreach { i =>
          val sub = s"$work/stream/b$i"
          ev.filter(col("event_id") % CdcBatches === i)
            .coalesce(1).write.mode("overwrite").parquet(sub)
          new java.io.File(sub).listFiles()
            .filter(_.getName.endsWith(".parquet"))
            .foreach(f => require(f.setLastModified(1000000000000L + i * 60000L)))
        }
        println("SETUP_DONE")

      case "cdc-ingest" =>
        val schema = spark.read.parquet(s"$work/stream/b0").schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true")
          .parquet(s"$work/stream")
        println("INGEST_BEGIN")
        streaming.StreamingBackfill.cdcUpsertLoop(spark, stream,
          s"$work/store", checkpointDir = s"$work/ckpt")
        println("INGEST_DONE")

      case "cdc-check" =>
        import graft.operators.Cdc
        val cols = Seq("user_id", "ts", "event_id", "op", "last_type",
          "last_value")
        val all = spark.read
          .option("recursiveFileLookup", "true").parquet(s"$work/stream")
        val want = Cdc.latestWins(all, Seq("user_id"), Seq("ts", "event_id"))
          .filter(col("op") =!= "D")
          .select(cols.head, cols.tail: _*)
          .collect().map(_.toString).sorted.toSeq
        val got = Cdc.currentSnapshot(spark, s"$work/store")
          .select(cols.head, cols.tail: _*)
          .collect().map(_.toString).sorted.toSeq
        require(got == want,
          s"CDC snapshot diverged from the changelog fold: got ${got.size} " +
            s"rows, want ${want.size}")
        // a crashed swap must never leave aside/staging debris behind a
        // COMPLETED run (recovery folds it on the next merge; the final
        // clean pass leaves none)
        val leftovers = Option(new java.io.File(s"$work/store").listFiles())
          .getOrElse(Array.empty)
          .filter(f => f.getName.startsWith(".old_") ||
            f.getName.startsWith(".staging_"))
        require(leftovers.isEmpty,
          s"store kept swap debris: ${leftovers.map(_.getName).toSeq}")
        // point lookup serves the same row the snapshot holds
        val probe = Cdc.currentSnapshot(spark, s"$work/store")
          .select("user_id").limit(1).collect()
        probe.foreach { r =>
          val uid = r.getLong(0)
          val viaLookup = Cdc.lookup(spark, s"$work/store", uid)
            .select(cols.head, cols.tail: _*)
            .collect().map(_.toString).sorted.toSeq
          val viaSnap = Cdc.currentSnapshot(spark, s"$work/store")
            .filter(col("user_id") === uid)
            .select(cols.head, cols.tail: _*)
            .collect().map(_.toString).sorted.toSeq
          require(viaLookup == viaSnap, s"lookup($uid) diverged from snapshot")
        }
        println("KILLPROBE_OK")

      case other => sys.error(s"unknown phase: $other")
    }
    spark.stop()
  }
}
