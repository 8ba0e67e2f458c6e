package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingBackfill

/** E7: each streaming loop must leave its stores and serving indexes
  * equal to a batch rebuild, and a replayed stream must change nothing
  * (SURVEY.md §7 M4). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("ingest loop: batch-2 near-dup of a batch-1 doc caught via index append") {
    import spark.implicits._
    import java.nio.file.Files
    val base = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliett kilo lima mike november oscar papa quebec romeo sierra " +
      "tango uniform victor whiskey xray yankee zulu one two three four " +
      "five six seven eight nine ten eleven twelve thirteen fourteen").trim
    val filler = ("gamma theta iota kappa lambda omicron upsilon phi chi psi " +
      "omega red orange yellow green blue indigo violet copper silver gold " +
      "iron zinc lead tin mercury cobalt nickel chrome steel brass bronze " +
      "stone glass paper cloth rope wire sand clay").trim
    def docsDf(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, t, "en", "srcS") }
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
    val corpusDir = Files.createTempDirectory("ingestcorpus").toString
    val streamDir = Files.createTempDirectory("ingeststream").toString
    val outDir = Files.createTempDirectory("ingestout").toString
    val table = "ingest_loop_idx_t"
    try {
      // corpus: doc 1 = base + unrelated fillers; bucketed band index
      val corpus = docsDf(Seq((1L, base)) ++ (100L until 120L).map(i =>
        (i, s"unrelated corpus doc $i with words c${i}a c${i}b c${i}c " +
          s"c${i}d c${i}e c${i}f c${i}g c${i}h c${i}i c${i}j")))
      corpus.write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
      graft.sources.Bucketing.ensureBandIndexFrom(spark, table,
        graft.operators.Dedup.minhashBandsPerRow(corpus))
      // batch 1: a near-dup of CORPUS doc 1, plus a doc with no relative
      // anywhere; batch 2: a near-dup of the BATCH-1 filler only — it
      // can only be caught if batch 1's bands reached the index
      docsDf(Seq((1000L, base.replace("oscar", "OSCAR-B1")), (1010L, filler)))
        .coalesce(1).write.mode("overwrite").parquet(s"$streamDir/b1")
      docsDf(Seq((2000L, filler.replace("mercury", "MERCURY-B2"))))
        .coalesce(1).write.mode("overwrite").parquet(s"$streamDir/b2")
      // file-source order is by modification time — pin it
      def stamp(sub: String, t: Long): Unit =
        new java.io.File(s"$streamDir/$sub").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .foreach(f => assert(f.setLastModified(t)))
      stamp("b1", 1000000000000L)
      stamp("b2", 1000000060000L)
      val stream = spark.readStream.schema(Tables.documentsSchema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(streamDir)
      StreamingBackfill.ingestDedupLoop(stream, corpusDir, table, outDir)
      def pairsOf(id: Int): Set[(Long, Long)] =
        spark.read.parquet(s"$outDir/batch_id=$id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch 1 screens against the prebuilt corpus only
      assert(pairsOf(0) == Set((1000L, 1L)), s"batch 0: ${pairsOf(0)}")
      // batch 2's only near-dup relative is the batch-1 filler — caught
      // exclusively through the loop's index+store append
      assert(pairsOf(1) == Set((2000L, 1010L)), s"batch 1: ${pairsOf(1)}")
      // and the corpus store accreted both batches
      assert(StreamingBackfill.corpusDocs(spark, corpusDir).count() ==
        corpus.count() + 3)
      // at-least-once REPLAY of the whole stream: the batches' own
      // earlier copies now sit in the corpus store and band index.
      // Without the self-pair guard every doc would collide with
      // ITSELF at jaccard 1.0 (the regression under test); what a
      // replayed EARLIER batch legitimately does see is LATER batches'
      // corpus — so batch 0's filler (1010) now also pairs with its
      // batch-2 near-dup (2000), and the expected reports are exact
      val stream2 = spark.readStream.schema(Tables.documentsSchema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(streamDir)
      StreamingBackfill.ingestDedupLoop(stream2, corpusDir, table,
        outDir)
      assert(pairsOf(0) == Set((1000L, 1L), (1010L, 2000L)),
        s"replayed batch 0 report wrong (self-pairs?): ${pairsOf(0)}")
      assert(pairsOf(1) == Set((2000L, 1010L)),
        s"replayed batch 1 report changed: ${pairsOf(1)}")
      assert(StreamingBackfill.corpusDocs(spark, corpusDir).count() ==
        corpus.count() + 3, "replay grew the corpus store")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("approx quantiles within 2% of exact") {
    val r = graft.operators.SqlInterface.approxQuantiles(spark, sf)
      .collect().head
    assert(r.getAs[Double]("exact_p50") > 0, s"$r p50")
    assert(r.getAs[Double]("exact_p99") >= r.getAs[Double]("exact_p50"), s"$r")
    assert(r.getAs[Boolean]("approx_p50_ok") && r.getAs[Boolean]("approx_p99_ok"), s"$r")
  }

  test("streaming postings maintenance: served index complete, replay idempotent") {
    val table = "postings_stream_t"
    val streamDir = java.nio.file.Files
      .createTempDirectory("poststream").toString
    try {
      val posts = graft.operators.Retrieval.postingsTable(spark, sf)
      // the pre-existing index covers the corpus slice only; churn
      // schema, base seq below the first batch id
      graft.sources.IndexChurn
        .stamp(posts.filter(col("doc_id") % 10 =!= 0), "U", -1L)
        .write.mode("overwrite").bucketBy(8, "token").sortBy("token")
        .saveAsTable(table)
      // new docs arrive as two files -> two microbatches
      val newDocs = Tables.load(spark, sf, "documents")
        .filter(col("doc_id") % 10 === 0)
      newDocs.filter(col("doc_id") % 20 === 0)
        .repartition(1).write.mode("append").parquet(streamDir)
      newDocs.filter(col("doc_id") % 20 =!= 0)
        .repartition(1).write.mode("append").parquet(streamDir)
      val stream = spark.readStream.schema(newDocs.schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir)
      StreamingBackfill.indexMaintenanceLoop(stream, table)
      // after the loop the SERVED index IS the full corpus postings
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("token", "doc_id", "tf").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      def served() = rows(graft.sources.IndexChurn.served(
        spark, table, Seq("token", "doc_id")))
      val got = served()
      val want = rows(posts)
      assert(got.length === want.length && got.toSet === want.toSet)
      // at-least-once replay: re-run batch 0's append through the SAME
      // production code path; the served view must not change — tf in
      // particular must not double
      StreamingBackfill.appendPostingsBatch(spark, table,
        newDocs.filter(col("doc_id") % 20 === 0), batchId = 0L)
      val replayed = served()
      assert(replayed.length === want.length && replayed.toSet === want.toSet,
        "replayed microbatch changed the served index")
      // the replay's duplicate rows are storage debt; compaction clears
      // it and the served view still equals the full postings
      graft.sources.IndexChurn.compact(spark, table,
        Seq("token", "doc_id"), Seq("token"))
      assert(spark.table(table).groupBy("token", "doc_id").count()
        .filter(col("count") > 1).count() === 0)
      assert(served().toSet === want.toSet)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("streaming churn loop: deletes and updates retract from BM25 and ANN serves") {
    import graft.operators.{Retrieval, Similarity}
    import graft.sources.IndexChurn
    import graft.functions.{TextFunctions => T}
    val postTable = "churnloop_post_t"
    val dlTable = "churnloop_dl_t"
    val assignTable = "churnloop_assign_t"
    val streamDir = java.nio.file.Files.createTempDirectory("churnops").toString
    try {
      val docs = Tables.load(spark, sf, "documents")
      def doclens(d: org.apache.spark.sql.DataFrame) =
        d.select(col("doc_id"), size(T.tokens(col("text"))).cast("long").as("dl"))
      // base state: the FULL corpus lives in all three serving tables
      // (seq below any batch-derived seq)
      IndexChurn.stamp(Retrieval.postingsTable(spark, sf), "U", -1L)
        .write.mode("overwrite").bucketBy(8, "token").sortBy("token")
        .saveAsTable(postTable)
      IndexChurn.stamp(doclens(docs), "U", -1L)
        .write.mode("overwrite").bucketBy(8, "doc_id").sortBy("doc_id")
        .saveAsTable(dlTable)
      val emb = Similarity.embeddingsWithNorm(spark, sf)
      val centroids = Similarity.trainCentroids(spark, sf, iters = 2)
      IndexChurn.stamp(Similarity.assignVectors(emb, centroids), "U", -1L)
        .write.mode("overwrite").bucketBy(8, "c_id").sortBy("c_id")
        .saveAsTable(assignTable)
      // a victim to delete and a target to update, with their texts
      // (the delete/update events carry the CDC before-image)
      val Array(vic, upd) = docs.orderBy("doc_id").limit(2)
        .select("doc_id", "text").collect()
      val (delId, delText) = (vic.getLong(0), vic.getString(1))
      val (updId, oldText) = (upd.getLong(0), upd.getString(1))
      val newText = "entirely rewritten document body after the update"
      import spark.implicits._
      // batch 0: pure delete; batch 1: update = D(before) + U(after)
      Seq(("D", delId, delText)).toDF("op", "doc_id", "text")
        .coalesce(1).write.parquet(s"$streamDir/b0")
      Seq(("D", updId, oldText), ("U", updId, newText))
        .toDF("op", "doc_id", "text")
        .coalesce(1).write.parquet(s"$streamDir/b1")
      def stampT(sub: String, t: Long): Unit =
        new java.io.File(s"$streamDir/$sub").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .foreach(f => assert(f.setLastModified(t)))
      stampT("b0", 1000000000000L)
      stampT("b1", 1000000060000L)
      val opsSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "op string, doc_id bigint, text string")
      val stream = spark.readStream.schema(opsSchema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(streamDir)
      val embedder = (b: org.apache.spark.sql.DataFrame) =>
        emb.join(b.select(col("doc_id").as("vec_id")), "vec_id")
      StreamingBackfill.churnIngestLoop(stream, postTable,
        assignTable, centroids, embedder, doclenTable = Some(dlTable))
      // --- postings serve: victim gone, target serves its NEW text
      def servedPosts() = IndexChurn
        .served(spark, postTable, Seq("token", "doc_id"))
        .select("token", "doc_id", "tf").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val newPosts = Seq((updId, newText)).toDF("doc_id", "text")
        .select(col("doc_id"), explode(T.tokens(col("text"))).as("token"))
        .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
        .select("token", "doc_id", "tf").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val want = Retrieval.postingsTable(spark, sf)
        .filter(col("doc_id") =!= delId && col("doc_id") =!= updId)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet ++ newPosts
      val got = servedPosts()
      assert(got === want, "churned postings serve diverged")
      // --- BM25 at SCORE level: tf, dl, N and avgdl all served from
      // the streaming-churned tables must rank like a batch rebuild
      // over the post-churn corpus (text swapped, victim gone)
      val modDocs = docs.filter(col("doc_id") =!= delId)
        .withColumn("text",
          when(col("doc_id") === updId, lit(newText)).otherwise(col("text")))
      val qTerms = Seq("hash", "join", "scan")
      val gotBm25 = Retrieval.bm25RankWith(
          IndexChurn.served(spark, postTable, Seq("token", "doc_id"))
            .filter(col("token").isin(qTerms: _*)),
          IndexChurn.served(spark, dlTable, Seq("doc_id")), 20)
        .collect().map(_.toString).toSeq
      val wantBm25 = Retrieval.bm25RankWith(
          modDocs.select(col("doc_id"),
              explode(T.tokens(col("text"))).as("token"))
            .filter(col("token").isin(qTerms: _*))
            .groupBy("token", "doc_id").agg(count(lit(1)).as("tf")),
          doclens(modDocs), 20)
        .collect().map(_.toString).toSeq
      assert(gotBm25 === wantBm25,
        "BM25 from the streaming-churned tables diverged from rebuild")
      // --- ANN serve: victim's vector retracted, target still served,
      // and the whole top-k equals a rebuild without the victim
      def servedAssign() = IndexChurn
        .served(spark, assignTable, Seq("c_id", "vec_id"))
      assert(servedAssign().filter(col("vec_id") === delId).count() === 0,
        "deleted vector still in the assignment serve")
      assert(servedAssign().filter(col("vec_id") === updId).count() === 1,
        "updated vector fell out of the assignment serve")
      val gotAnn = Similarity.servedTopK(spark, sf, servedAssign(), iters = 2)
        .collect().map(_.toString).toSeq
      val wantAnn = Similarity.servedTopK(spark, sf,
          Similarity.assignVectors(emb.filter(col("vec_id") =!= delId),
            centroids), iters = 2)
        .collect().map(_.toString).toSeq
      assert(gotAnn === wantAnn, "churned ANN serve diverged from rebuild")
      // --- at-least-once replay of the delete batch: nothing changes
      StreamingBackfill.applyChurnBatch(spark, postTable, assignTable,
        centroids, embedder,
        Seq(("D", delId, delText)).toDF("op", "doc_id", "text"), 0L)
      assert(servedPosts() === want, "replayed churn batch changed the serve")
      // --- compaction clears the debt, serve unchanged
      IndexChurn.compact(spark, postTable, Seq("token", "doc_id"), Seq("token"))
      IndexChurn.compact(spark, assignTable, Seq("c_id", "vec_id"), Seq("c_id"))
      assert(spark.table(postTable).filter(col("op") === "D").count() === 0)
      assert(spark.table(assignTable).filter(col("op") === "D").count() === 0)
      assert(servedPosts() === want)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $postTable")
      spark.sql(s"DROP TABLE IF EXISTS $dlTable")
      spark.sql(s"DROP TABLE IF EXISTS $assignTable")
    }
  }

  test("churn loop maintenance tick: in-loop compaction, debt cleared, serve exact") {
    import graft.operators.{Retrieval, Similarity}
    import graft.sources.IndexChurn
    import graft.functions.{TextFunctions => T}
    val postTable = "churntick_post_t"
    val dlTable = "churntick_dl_t"
    val assignTable = "churntick_assign_t"
    val streamDir = java.nio.file.Files.createTempDirectory("churntick").toString
    try {
      val docs = Tables.load(spark, sf, "documents")
      def doclens(d: org.apache.spark.sql.DataFrame) =
        d.select(col("doc_id"), size(T.tokens(col("text"))).cast("long").as("dl"))
      IndexChurn.stamp(Retrieval.postingsTable(spark, sf), "U", -1L)
        .write.mode("overwrite").bucketBy(8, "token").sortBy("token")
        .saveAsTable(postTable)
      IndexChurn.stamp(doclens(docs), "U", -1L)
        .write.mode("overwrite").bucketBy(8, "doc_id").sortBy("doc_id")
        .saveAsTable(dlTable)
      val emb = Similarity.embeddingsWithNorm(spark, sf)
      val centroids = Similarity.trainCentroids(spark, sf, iters = 2)
      IndexChurn.stamp(Similarity.assignVectors(emb, centroids), "U", -1L)
        .write.mode("overwrite").bucketBy(8, "c_id").sortBy("c_id")
        .saveAsTable(assignTable)
      val Array(vic, upd) = docs.orderBy("doc_id").limit(2)
        .select("doc_id", "text").collect()
      val (delId, delText) = (vic.getLong(0), vic.getString(1))
      val (updId, oldText) = (upd.getLong(0), upd.getString(1))
      val newText = "entirely rewritten document body after the update"
      import spark.implicits._
      Seq(("D", delId, delText)).toDF("op", "doc_id", "text")
        .coalesce(1).write.parquet(s"$streamDir/b0")
      Seq(("D", updId, oldText), ("U", updId, newText))
        .toDF("op", "doc_id", "text")
        .coalesce(1).write.parquet(s"$streamDir/b1")
      def stampT(sub: String, t: Long): Unit =
        new java.io.File(s"$streamDir/$sub").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .foreach(f => assert(f.setLastModified(t)))
      stampT("b0", 1000000000000L)
      stampT("b1", 1000000060000L)
      val opsSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "op string, doc_id bigint, text string")
      val stream = spark.readStream.schema(opsSchema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(streamDir)
      val embedder = (b: org.apache.spark.sql.DataFrame) =>
        emb.join(b.select(col("doc_id").as("vec_id")), "vec_id")
      // any tombstone trips the tick: compaction interleaves WITH the
      // batches (b0 compacts before b1 lands), the hard ordering case
      StreamingBackfill.churnIngestLoop(stream, postTable,
        assignTable, centroids, embedder, doclenTable = Some(dlTable),
        compactThreshold = 1e-9)
      // debt is gone from every table the instant the stream drains —
      // no separate compaction job needed
      Seq(postTable, dlTable, assignTable).foreach { t =>
        assert(spark.table(t).filter(col("op") === "D").count() === 0,
          s"$t kept tombstones despite the in-loop tick")
        assert(IndexChurn.debtFraction(spark, t) === 0.0)
      }
      // and the mid-loop rewrites lost nothing: serve equals the
      // post-churn corpus exactly
      val newPosts = Seq((updId, newText)).toDF("doc_id", "text")
        .select(col("doc_id"), explode(T.tokens(col("text"))).as("token"))
        .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
        .select("token", "doc_id", "tf").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val want = Retrieval.postingsTable(spark, sf)
        .filter(col("doc_id") =!= delId && col("doc_id") =!= updId)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet ++ newPosts
      val got = IndexChurn.served(spark, postTable, Seq("token", "doc_id"))
        .select("token", "doc_id", "tf").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want, "tick-compacted postings serve diverged")
      val servedAssign = IndexChurn.served(spark, assignTable,
        Seq("c_id", "vec_id"))
      assert(servedAssign.filter(col("vec_id") === delId).count() === 0)
      assert(servedAssign.filter(col("vec_id") === updId).count() === 1)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $postTable")
      spark.sql(s"DROP TABLE IF EXISTS $dlTable")
      spark.sql(s"DROP TABLE IF EXISTS $assignTable")
    }
  }

  test("churn seq domain: a churn batch retracts docs from LATER ingest batches") {
    import graft.operators.{Retrieval, Similarity}
    import graft.sources.IndexChurn
    val postTable = "seqdom_post_t"
    val assignTable = "seqdom_assign_t"
    try {
      // indexes grown by the INGEST scheme (seq = batchId) up to batch 5
      val posts = Retrieval.postingsTable(spark, sf)
      IndexChurn.stamp(posts, "U", 5L)
        .write.mode("overwrite").bucketBy(8, "token").sortBy("token")
        .saveAsTable(postTable)
      val emb = Similarity.embeddingsWithNorm(spark, sf)
      val centroids = Similarity.trainCentroids(spark, sf, iters = 2)
      IndexChurn.stamp(Similarity.assignVectors(emb, centroids), "U", 5L)
        .write.mode("overwrite").bucketBy(8, "c_id").sortBy("c_id")
        .saveAsTable(assignTable)
      val vic = Tables.load(spark, sf, "documents").orderBy("doc_id")
        .limit(1).select("doc_id", "text").collect()(0)
      val (delId, delText) = (vic.getLong(0), vic.getString(1))
      import spark.implicits._
      val ops = Seq(("D", delId, delText)).toDF("op", "doc_id", "text")
      val embedder = (b: org.apache.spark.sql.DataFrame) =>
        emb.join(b.select(col("doc_id").as("vec_id")), "vec_id")
      // WITHOUT the domain base, a churn stream's first batch (id 0)
      // stamps seq 0 < 5: the delete silently loses the latest-wins
      // race — the failure mode the base exists to prevent
      StreamingBackfill.applyChurnBatch(spark, postTable, assignTable,
        centroids, embedder, ops, 0L)
      assert(IndexChurn.served(spark, postTable, Seq("token", "doc_id"))
        .filter(col("doc_id") === delId).count() > 0,
        "expected the un-based delete to be ignored (fixture broken?)")
      // WITH the churn loop's domain base, the same batch retracts
      StreamingBackfill.applyChurnBatch(spark, postTable, assignTable,
        centroids, embedder, ops, 0L,
        seqBase = StreamingBackfill.ChurnSeqBase)
      assert(IndexChurn.served(spark, postTable, Seq("token", "doc_id"))
        .filter(col("doc_id") === delId).count() === 0,
        "domain-based delete did not retract the postings")
      assert(IndexChurn.served(spark, assignTable, Seq("c_id", "vec_id"))
        .filter(col("vec_id") === delId).count() === 0,
        "domain-based delete did not retract the assignment")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $postTable")
      spark.sql(s"DROP TABLE IF EXISTS $assignTable")
    }
  }

  test("full ingest loop: one stream feeds dedup, corpus store, BM25 and ANN") {
    import java.nio.file.Files
    import graft.operators.{Dedup, Retrieval, Similarity}
    import graft.sources.{Bucketing, IndexChurn}
    val bandTable = "full_band_t"
    val postTable = "full_post_t"
    val assignTable = "full_assign_t"
    val corpusDir = Files.createTempDirectory("fullcorpus").toString
    val streamDir = Files.createTempDirectory("fullstream").toString
    val outDir = Files.createTempDirectory("fullout").toString
    try {
      val docs = Tables.load(spark, sf, "documents")
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val incoming = docs.filter(col("doc_id") % 10 === 0)
      // --- pre-existing state: corpus store + three serving indexes
      // covering the corpus slice only
      corpus.write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
      Bucketing.ensureBandIndexFrom(spark, bandTable,
        Dedup.minhashCappedBands(spark, sf).filter(col("doc_id") % 10 =!= 0))
      val posts = Retrieval.postingsTable(spark, sf)
      IndexChurn.stamp(posts.filter(col("doc_id") % 10 =!= 0), "U", -1L)
        .write.mode("overwrite").bucketBy(8, "token").sortBy("token")
        .saveAsTable(postTable)
      // vectors "arriving with the stream" are the embeddings sharing an
      // id with a streamed doc; the base index covers everything else
      val emb = Similarity.embeddingsWithNorm(spark, sf)
      val centroids = Similarity.trainCentroids(spark, sf, iters = 2)
      val streamedIds = incoming.select(col("doc_id").as("vec_id"))
      val streamedEmb = emb.join(streamedIds, "vec_id")
      assert(streamedEmb.count() > 0, "fixture streams no embeddings")
      IndexChurn.stamp(
          Similarity.assignVectors(
            emb.join(streamedIds, Seq("vec_id"), "left_anti"), centroids),
          "U", -1L)
        .write.mode("overwrite").bucketBy(8, "c_id").sortBy("c_id")
        .saveAsTable(assignTable)
      // --- stream the new docs as two microbatches
      incoming.filter(col("doc_id") % 20 === 0)
        .coalesce(1).write.mode("overwrite").parquet(s"$streamDir/b1")
      incoming.filter(col("doc_id") % 20 =!= 0)
        .coalesce(1).write.mode("overwrite").parquet(s"$streamDir/b2")
      def stampT(sub: String, t: Long): Unit =
        new java.io.File(s"$streamDir/$sub").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .foreach(f => assert(f.setLastModified(t)))
      stampT("b1", 1000000000000L)
      stampT("b2", 1000000060000L)
      val stream = spark.readStream.schema(Tables.documentsSchema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(streamDir)
      // snapshot pre-existing scratch debris: /tmp is SHARED, and a
      // SIGKILLed run elsewhere (the verify_killmid gate kills
      // fullIngestLoop mid-batch on purpose) legitimately leaves its
      // scratches behind — this test owns only the dirs ITS loop makes
      def scratchDirs(): Set[String] = new java.io.File(
          System.getProperty("java.io.tmpdir")).listFiles()
        .filter(_.getName.matches(
          "graft-memo-(full_(bands|cand|vecs)|graph_(bidx|del))_\\d+-.*"))
        .map(_.getName).toSet
      val preScratch = scratchDirs()
      StreamingBackfill.fullIngestLoop(stream, corpusDir, bandTable,
        postTable, assignTable, centroids,
        b => emb.join(b.select(col("doc_id").as("vec_id")), "vec_id"), outDir)
      // --- the corpus store accreted every streamed doc, and each batch
      // left its dedup report
      assert(StreamingBackfill.corpusDocs(spark, corpusDir).count() ===
        docs.count())
      assert(new java.io.File(s"$outDir/batch_id=0").exists())
      assert(new java.io.File(s"$outDir/batch_id=1").exists())
      // --- curation enrichment store: stream ≡ batch over the streamed
      // docs (extract → langid → score → fp at ingest latency; one
      // shared definition, so this pins the PLUMBING — batch keying,
      // schema, store layout)
      val wantCur = graft.operators.Curation.enriched(incoming)
        .collect().map(_.toString).sorted.toSeq
      assert(StreamingBackfill.curationDocs(spark, corpusDir)
        .collect().map(_.toString).sorted.toSeq === wantCur,
        "streamed curation enrichment diverged from the batch projection")
      // --- per-batch scratches are SCOPED: a long-lived stream must
      // not accrete one scratch dir per microbatch until JVM shutdown
      // (Memo.withScratch deletes them as each batch completes)
      val leftoverScratch = scratchDirs() -- preScratch
      assert(leftoverScratch.isEmpty,
        s"batch scratches outlived their batch: $leftoverScratch")
      // --- each batch's semantic-screen verdicts equal a batch-mode
      // recompute against the PRE-batch assignment (report-then-append:
      // batch 0 screens against the base index, batch 1 against
      // base + batch 0) — the kernel the harness row gates, fed the
      // exact corpus state the loop's serve view exposed
      def verdictsAt(id: Int): Map[Long, Boolean] =
        spark.read.parquet(s"$outDir/semscreen/batch_id=$id")
          .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      def screenOf(ids: org.apache.spark.sql.DataFrame,
          corpusAssign: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
        Similarity.semanticScreenFrom(emb.join(ids, "vec_id"),
            corpusAssign, Similarity.centroidArtifact(centroids))
          .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val baseAssign = Similarity.assignVectors(
        emb.join(streamedIds, Seq("vec_id"), "left_anti"), centroids)
      val b1Ids = incoming.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("vec_id"))
      val b2Ids = incoming.filter(col("doc_id") % 20 =!= 0)
        .select(col("doc_id").as("vec_id"))
      val want0 = screenOf(b1Ids, baseAssign)
      val want1 = screenOf(b2Ids, baseAssign.unionByName(
        Similarity.assignVectors(emb.join(b1Ids, "vec_id"), centroids)))
      assert(verdictsAt(0) === want0, "batch-0 screen diverged")
      assert(verdictsAt(1) === want1, "batch-1 screen diverged")
      // --- BM25 served from the maintained churn index == the batch
      // full-scan twin over the whole corpus
      val servedTf = IndexChurn.served(spark, postTable, Seq("token", "doc_id"))
        .filter(col("token").isin("hash", "join", "scan"))
      val gotBm25 = Retrieval.bm25Rank(spark, sf, servedTf, 20)
        .collect().map(_.toString).toSeq
      val wantBm25 = Retrieval.bm25Search(spark, sf)
        .collect().map(_.toString).toSeq
      assert(gotBm25 === wantBm25, "served BM25 diverged from batch rebuild")
      // --- ANN served from the maintained churn assignment == the
      // full-corpus rebuild under the same centroids
      val gotAnn = Similarity.servedTopK(spark, sf,
          IndexChurn.served(spark, assignTable, Seq("vec_id")), iters = 2)
        .collect().map(_.toString).toSeq
      val wantAnn = Similarity.ivfTopKTrained(spark, sf, iters = 2)
        .collect().map(_.toString).toSeq
      assert(gotAnn === wantAnn, "served ANN diverged from batch rebuild")
      // --- at-least-once replay of the WHOLE stream (fresh query, batch
      // ids restart at 0, same file order): the corpus store rewrites
      // its batch subdirs, the band append is marker-skipped, and the
      // seq-keyed postings/assignment appends collapse — nothing doubles
      val corpusN = StreamingBackfill.corpusDocs(spark, corpusDir).count()
      val bandN = spark.table(bandTable).count()
      val servedPostN = IndexChurn
        .served(spark, postTable, Seq("token", "doc_id")).count()
      val stream2 = spark.readStream.schema(Tables.documentsSchema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(streamDir)
      StreamingBackfill.fullIngestLoop(stream2, corpusDir, bandTable,
        postTable, assignTable, centroids,
        b => emb.join(b.select(col("doc_id").as("vec_id")), "vec_id"), outDir)
      assert(StreamingBackfill.corpusDocs(spark, corpusDir).count() === corpusN,
        "replayed stream grew the corpus store")
      assert(spark.table(bandTable).count() === bandN,
        "replayed stream re-appended band rows past the marker guard")
      assert(IndexChurn.served(spark, postTable, Seq("token", "doc_id"))
        .count() === servedPostN, "replayed stream changed the served postings")
      assert(StreamingBackfill.curationDocs(spark, corpusDir)
        .collect().map(_.toString).sorted.toSeq === wantCur,
        "replayed stream changed the curation enrichment store")
      assert(Similarity.servedTopK(spark, sf,
          IndexChurn.served(spark, assignTable, Seq("vec_id")), iters = 2)
        .collect().map(_.toString).toSeq === wantAnn,
        "replayed stream changed the served ANN")
      // replayed screen reports overwrite batch-keyed. The anti-join
      // guard keeps a replayed batch from screening against ITSELF
      // (batch-0's verdicts can no longer flip on its own re-appended
      // vectors), but batch 0 replayed DOES now see batch 1's corpus —
      // cross-batch visibility on replay is inherent to redelivery
      // against later state, so the pin is coverage + batch-1 exact
      // (batch 1's replay view ⊇ relation is unchanged: base ∪ b1's
      // own ids removed ∪ b0 = its first-run view)
      assert(verdictsAt(0).keySet === want0.keySet,
        "replayed screen report 0 lost or gained vectors")
      assert(verdictsAt(1) === want1,
        "replayed batch-1 screen diverged from its first delivery")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $bandTable")
      spark.sql(s"DROP TABLE IF EXISTS $postTable")
      spark.sql(s"DROP TABLE IF EXISTS $assignTable")
    }
  }

  test("graph ingest loop: streamed arrival waves fold into a served " +
      "graph hash-equal to the batch rebuild; deltas stay bounded; " +
      "whole-stream replay is a no-op") {
    import java.nio.file.Files
    import graft.operators.Similarity
    import graft.sources.IndexChurn
    val assignTable = "graph_assign_t"
    val graphDir = Files.createTempDirectory("graphdeltas").toString
    val streamDir = Files.createTempDirectory("vecstream").toString
    try {
      val centroids = Similarity.trainCentroids(spark, sf, iters = 2)
      // EMPTY churn-schema assignment index: the stream builds the
      // corpus (and the graph) from nothing
      IndexChurn.stamp(
          Similarity.assignVectors(
            Similarity.embeddingsWithNorm(spark, sf).limit(0), centroids),
          "U", -1L)
        .write.mode("overwrite").bucketBy(8, "c_id").sortBy("c_id")
        .saveAsTable(assignTable)
      // three arrival waves, ordered by mtime
      val embRaw = Tables.load(spark, sf, "embeddings")
      Seq(0, 1, 2).foreach { w =>
        embRaw.filter(col("vec_id") % 3 === w)
          .coalesce(1).write.mode("overwrite").parquet(s"$streamDir/b$w")
        new java.io.File(s"$streamDir/b$w").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .foreach(f => assert(f.setLastModified(1000000000000L + w * 60000L)))
      }
      def mkStream() = spark.readStream
        .schema(Tables.load(spark, sf, "embeddings").schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(streamDir)
      StreamingBackfill.graphIngestLoop(mkStream(), assignTable,
        centroids, graphDir)
      def servedRows() = StreamingBackfill.servedGraph(spark, graphDir)
        .collect().map(_.toString).sorted.toSeq
      val got = servedRows()
      val want = Similarity.knnGraph(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(got === want, "streamed graph diverged from the batch rebuild")
      // deltas are bounded: a later wave rewrites touched + batch rows,
      // never the whole graph (delta 2's q set < the full vector set)
      val d2 = spark.read.parquet(s"$graphDir/batch_id=2")
      assert(d2.select("q_id").distinct().count() <
        Similarity.embeddingsWithNorm(spark, sf).count(),
        "delta 2 rewrote the whole graph")
      // every wave committed its marker
      Seq(0, 1, 2).foreach { b =>
        assert(new java.io.File(s"$graphDir/batch_id=$b/_done").exists()) }
      // whole-stream replay (fresh query, batch ids restart at 0): the
      // markers skip every fold, the assignment re-appends collapse in
      // the latest-wins serve — nothing changes, nothing doubles
      StreamingBackfill.graphIngestLoop(mkStream(), assignTable,
        centroids, graphDir)
      assert(servedRows() === got, "replay changed the served graph")
      assert(IndexChurn.served(spark, assignTable, Seq("c_id", "vec_id"))
        .count() === Similarity.embeddingsWithNorm(spark, sf).count(),
        "replay inflated the served assignment index")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $assignTable")
    }
  }

  test("graph churn loop: streamed deletes vanish both directions, end " +
      "state hash-equal to the batch churn build; compaction folds the " +
      "store to one delta without changing the serve") {
    import java.nio.file.Files
    import graft.operators.Similarity
    import graft.sources.IndexChurn
    val assignTable = "graph_churn_assign_t"
    val graphDir = Files.createTempDirectory("graphchurn").toString
    val streamDir = Files.createTempDirectory("vecingest").toString
    val delDir = Files.createTempDirectory("vecdeletes").toString
    try {
      val centroids = Similarity.trainCentroids(spark, sf, iters = 2)
      IndexChurn.stamp(
          Similarity.assignVectors(
            Similarity.embeddingsWithNorm(spark, sf).limit(0), centroids),
          "U", -1L)
        .write.mode("overwrite").bucketBy(8, "c_id").sortBy("c_id")
        .saveAsTable(assignTable)
      val embRaw = Tables.load(spark, sf, "embeddings")
      // one ingest wave covering the whole corpus
      embRaw.coalesce(1).write.mode("overwrite").parquet(s"$streamDir/all")
      StreamingBackfill.graphIngestLoop(
        spark.readStream.schema(embRaw.schema)
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true").parquet(streamDir),
        assignTable, centroids, graphDir)
      // two delete waves covering vec_id % 10 == 0 (the batch churn set)
      Seq(0, 10).foreach { r =>
        embRaw.filter(col("vec_id") % 20 === r)
          .coalesce(1).write.mode("overwrite").parquet(s"$delDir/d$r")
        new java.io.File(s"$delDir/d$r").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .foreach(f => assert(f.setLastModified(1000000000000L + r * 6000L)))
      }
      StreamingBackfill.graphChurnLoop(
        spark.readStream.schema(embRaw.schema)
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true").parquet(delDir),
        assignTable, centroids, graphDir)
      def servedRows() = StreamingBackfill.servedGraph(spark, graphDir)
        .collect().map(_.toString).sorted.toSeq
      val got = servedRows()
      val want = Similarity.knnGraphChurn(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(got === want, "streamed churn diverged from the batch build")
      // the churned assignment serve forgot the deleted vectors too
      assert(IndexChurn.served(spark, assignTable, Seq("c_id", "vec_id"))
        .filter(col("vec_id") % 10 === 0).count() === 0L,
        "assignment index still serves deleted vectors")
      // tick 1 — TIERED fast path: the whole-corpus ingest delta
      // dominates the store (≥ half its rows), so the fold touches
      // ONLY the two churn deltas (cost scales with delta rows, not
      // store rows) and leaves the dominant delta byte-untouched
      def committed() = new java.io.File(graphDir).listFiles()
        .filter(d => d.isDirectory && new java.io.File(d, "_done").exists())
      val ingestDelta = new java.io.File(s"$graphDir/batch_id=0")
      def ingestFiles() = ingestDelta.listFiles().map(f =>
        (f.getName, f.lastModified, f.length)).sortBy(_._1).toSeq
      val ingestBefore = ingestFiles()
      val churnRows = spark.read
        .parquet(s"$graphDir/churn_id=0", s"$graphDir/churn_id=1").count()
      StreamingBackfill.compactGraph(spark, graphDir)
      assert(servedRows() === got, "fast-path compaction changed the serve")
      assert(committed().length === 2,
        s"tiered tick left ${committed().length} deltas (want base + fold)")
      assert(ingestFiles() === ingestBefore,
        "fast path rewrote the dominant delta it promised to keep")
      val folded = committed().filter(_.getName.startsWith("compact_"))
      assert(folded.length === 1)
      assert(spark.read.parquet(folded.head.getAbsolutePath).count()
        <= churnRows,
        "fold output exceeded the churn deltas' rows — it read the store")
      // tick 2 — two dirs left, no dominant majority split to keep:
      // full fold to ONE delta; tick 3 is a no-op
      StreamingBackfill.compactGraph(spark, graphDir)
      assert(servedRows() === got, "full-fold compaction changed the serve")
      assert(committed().length === 1,
        s"full fold left ${committed().length} deltas")
      StreamingBackfill.compactGraph(spark, graphDir)
      assert(servedRows() === got)
      // REPEAT compaction at the SAME maxSeq (the churn-domain seq
      // outranks any later small-seq delta): the target name must be
      // FRESH — the original implementation reused the existing
      // compact dir as its own input, deleted it before the lazy
      // winners plan re-read it, and destroyed the store
      val oldCompact = committed().head
      val extra = new java.io.File(s"$graphDir/batch_id=999")
      // verbatim copy of one winner row (original seq kept): an exact
      // duplicate the serve collapses, so only the collision path is
      // under test, not the latest-wins outcome
      spark.read.parquet(oldCompact.getAbsolutePath)
        .filter(col("rk") > 0).limit(1)
        .write.mode("overwrite").parquet(extra.getAbsolutePath)
      new java.io.File(extra, "_done").createNewFile()
      StreamingBackfill.compactGraph(spark, graphDir)
      assert(servedRows() === got,
        "repeat compaction at the same maxSeq corrupted the store")
      assert(committed().length === 1)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $assignTable")
    }
  }

  test("graph ingest loop with the debt-gated compaction tick: the " +
      "delta store stays folded and the serve still matches the batch " +
      "rebuild") {
    import java.nio.file.Files
    import graft.operators.Similarity
    import graft.sources.IndexChurn
    val assignTable = "graph_tick_assign_t"
    val graphDir = Files.createTempDirectory("graphtick").toString
    val streamDir = Files.createTempDirectory("vectick").toString
    try {
      val centroids = Similarity.trainCentroids(spark, sf, iters = 2)
      IndexChurn.stamp(
          Similarity.assignVectors(
            Similarity.embeddingsWithNorm(spark, sf).limit(0), centroids),
          "U", -1L)
        .write.mode("overwrite").bucketBy(8, "c_id").sortBy("c_id")
        .saveAsTable(assignTable)
      val embRaw = Tables.load(spark, sf, "embeddings")
      Seq(0, 1, 2).foreach { w =>
        embRaw.filter(col("vec_id") % 3 === w)
          .coalesce(1).write.mode("overwrite").parquet(s"$streamDir/b$w")
        new java.io.File(s"$streamDir/b$w").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .foreach(f => assert(f.setLastModified(1000000000000L + w * 60000L)))
      }
      StreamingBackfill.graphIngestLoop(
        spark.readStream.schema(embRaw.schema)
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true").parquet(streamDir),
        assignTable, centroids, graphDir, compactEvery = 2)
      // the tick folded mid-stream: never more than compactEvery dirs
      val dirs = new java.io.File(graphDir).listFiles()
        .filter(d => d.isDirectory && new java.io.File(d, "_done").exists())
      assert(dirs.length <= 2, s"tick left ${dirs.length} deltas")
      val got = StreamingBackfill.servedGraph(spark, graphDir)
        .collect().map(_.toString).sorted.toSeq
      val want = Similarity.knnGraph(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(got === want, "compacted stream diverged from the rebuild")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $assignTable")
    }
  }

  test("composed graph lifecycle ingest -> churn -> later ingest: the " +
      "later fold supersedes churn repairs (monotone store seq) and the " +
      "end state equals a fresh build over the final vector set") {
    import java.nio.file.Files
    import graft.operators.Similarity
    import graft.sources.IndexChurn
    val assignTable = "graph_mix_assign_t"
    val graphDir = Files.createTempDirectory("graphmix").toString
    val streamDir = Files.createTempDirectory("vecmix").toString
    val delDir = Files.createTempDirectory("vecmixdel").toString
    try {
      val centroids = Similarity.trainCentroids(spark, sf, iters = 2)
      IndexChurn.stamp(
          Similarity.assignVectors(
            Similarity.embeddingsWithNorm(spark, sf).limit(0), centroids),
          "U", -1L)
        .write.mode("overwrite").bucketBy(8, "c_id").sortBy("c_id")
        .saveAsTable(assignTable)
      val embRaw = Tables.load(spark, sf, "embeddings")
      def wave(dir: String, name: String, df: org.apache.spark.sql.DataFrame,
          t: Long): Unit = {
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
        new java.io.File(s"$dir/$name").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .foreach(f => assert(f.setLastModified(t)))
      }
      def run(loop: org.apache.spark.sql.DataFrame => Unit,
          dir: String): Unit =
        loop(spark.readStream.schema(embRaw.schema)
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true").parquet(dir))
      // waves A, B arrive
      wave(streamDir, "b0", embRaw.filter(col("vec_id") % 3 === 0),
        1000000000000L)
      wave(streamDir, "b1", embRaw.filter(col("vec_id") % 3 === 1),
        1000000060000L)
      run(st => StreamingBackfill.graphIngestLoop(st, assignTable,
        centroids, graphDir), streamDir)
      // churn deletes the %5 == 0 members of what has arrived
      wave(delDir, "d0", embRaw.filter(col("vec_id") % 3 =!= 2 &&
        col("vec_id") % 5 === 0), 1000000120000L)
      run(st => StreamingBackfill.graphChurnLoop(st, assignTable,
        centroids, graphDir), delDir)
      // wave C arrives AFTER the churn: restart the (uncheckpointed)
      // ingest stream over the same dir — waves A/B skip on their
      // markers, wave C folds in. Its reverse updates rewrite vectors
      // the churn just repaired; with per-loop seq domains those rows
      // would lose the latest-wins race and C's edges would vanish
      wave(streamDir, "b2", embRaw.filter(col("vec_id") % 3 === 2),
        1000000180000L)
      run(st => StreamingBackfill.graphIngestLoop(st, assignTable,
        centroids, graphDir), streamDir)
      // expected: a fresh batch build over exactly the final vector set
      val e = Similarity.embeddingsWithNorm(spark, sf)
        .filter(col("vec_id") % 3 === 2 || col("vec_id") % 5 =!= 0)
      val idx = Similarity.assignVectors(e, centroids)
        .select("c_id", "vec_id", "v", "nrm")
      val q = e.select(col("vec_id").as("q_id"), col("v").as("q_v"),
        col("nrm").as("q_nrm"))
      val cents = Similarity.centroidArtifact(centroids)
      val want = Similarity.scoreTopK(idx,
          Similarity.withProbes(q, cents, 4), 3)
        .select(col("q_id"), col("rk"), col("vec_id"),
          round(col("score"), 6).as("cos"))
        .collect().map(_.toString).sorted.toSeq
      val got = StreamingBackfill.servedGraph(spark, graphDir)
        .collect().map(_.toString).sorted.toSeq
      assert(got === want,
        "composed lifecycle diverged from the fresh build over survivors")
      // non-vacuity: some churn-repaired vector was re-touched by C
      // (a C vector sits in its top-k), so the supersede path really ran
      val repaired = StreamingBackfill.servedGraph(spark, graphDir)
        .filter(col("q_id") % 3 =!= 2 && col("q_id") % 5 =!= 0 &&
          col("vec_id") % 3 === 2)
      assert(repaired.count() > 0, "fixture never exercised the " +
        "churn-then-ingest supersede path")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $assignTable")
    }
  }

  test("graph store seq tie (violated single-writer contract): one " +
      "delta wins WHOLESALE per q_id, deterministically by dir name — " +
      "never a row-level mix of two generations") {
    import java.nio.file.Files
    import spark.implicits._
    val graphDir = Files.createTempDirectory("graphtie").toString
    def writeDelta(name: String, rows: Seq[(Long, Long, Long, Double)]): Unit = {
      rows.map { case (q, rk, v, s) => (q, rk, v, s, 0L, name) }
        .toDF("q_id", "rk", "vec_id", "score", "seq", "wsrc")
        .write.mode("overwrite").parquet(s"$graphDir/$name")
      new java.io.File(s"$graphDir/$name", "_done").createNewFile()
    }
    // two writers minted seq 0 for the same q_id with DIFFERENT top-k
    // sets; q 2 exists only in the earlier delta and must still serve
    writeDelta("batch_id=0",
      Seq((1L, 1L, 10L, 0.5), (1L, 2L, 11L, 0.4), (2L, 1L, 30L, 0.9)))
    writeDelta("churn_id=0", Seq((1L, 1L, 20L, 0.8)))
    val got = StreamingBackfill.servedGraph(spark, graphDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity).toSeq
    // "churn_id=0" > "batch_id=0" lexicographically: q 1 serves the
    // churn delta's SET intact (one row), not 3 mixed rows
    assert(got === Seq((1L, 1L, 20L), (2L, 1L, 30L)),
      s"tie resolution mixed or lost generations: $got")
  }

  test("graph churn loop: a survivor whose ENTIRE candidate set is " +
      "deleted serves nothing (its own rk sentinel), never its stale " +
      "edges into deleted vectors") {
    import java.nio.file.Files
    import graft.operators.Similarity
    import graft.sources.IndexChurn
    val assignTable = "graph_orphan_assign_t"
    val graphDir = Files.createTempDirectory("graphorphan").toString
    val streamDir = Files.createTempDirectory("vecorphan").toString
    val delDir = Files.createTempDirectory("vecorphandel").toString
    try {
      val centroids = Similarity.trainCentroids(spark, sf, iters = 2)
      IndexChurn.stamp(
          Similarity.assignVectors(
            Similarity.embeddingsWithNorm(spark, sf).limit(0), centroids),
          "U", -1L)
        .write.mode("overwrite").bucketBy(8, "c_id").sortBy("c_id")
        .saveAsTable(assignTable)
      val embRaw = Tables.load(spark, sf, "embeddings")
      embRaw.coalesce(1).write.mode("overwrite").parquet(s"$streamDir/all")
      StreamingBackfill.graphIngestLoop(
        spark.readStream.schema(embRaw.schema)
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true").parquet(streamDir),
        assignTable, centroids, graphDir)
      // survivor A = min vec_id; the delete wave takes EVERY vector in
      // A's nprobe probed cells except A itself, so A's repair has no
      // scorable candidate and emits zero rows — exactly the shape
      // where only A's own sentinel can retire its old generation
      val e = Similarity.embeddingsWithNorm(spark, sf)
      val cents = Similarity.centroidArtifact(centroids)
      val aId = e.agg(min("vec_id")).head().getLong(0)
      val aQ = e.filter(col("vec_id") === aId)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"),
          col("nrm").as("q_nrm"))
      val aCells = Similarity.withProbes(aQ, cents, 4)
        .select("c_id").distinct()
      val delIds = Similarity.assignVectors(e, centroids)
        .join(aCells, Seq("c_id"), "left_semi")
        .filter(col("vec_id") =!= aId)
        .select("vec_id")
      // non-vacuity: A served edges before the churn
      val preA = StreamingBackfill.servedGraph(spark, graphDir)
        .filter(col("q_id") === aId).count()
      assert(preA > 0, "fixture gave survivor A no pre-churn edges")
      embRaw.join(delIds, Seq("vec_id"), "left_semi")
        .coalesce(1).write.mode("overwrite").parquet(s"$delDir/d0")
      StreamingBackfill.graphChurnLoop(
        spark.readStream.schema(embRaw.schema)
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true").parquet(delDir),
        assignTable, centroids, graphDir)
      val served = StreamingBackfill.servedGraph(spark, graphDir)
      assert(served.filter(col("q_id") === aId).count() === 0L,
        "orphaned survivor still serves stale edges into deleted vectors")
      // and nothing anywhere serves an edge INTO a deleted vector
      assert(served.join(delIds, Seq("vec_id"), "left_semi").count() === 0L,
        "served graph keeps edges pointing at deleted vectors")
      // whole serve == fresh batch build over the survivor set
      val survivors = e.join(delIds.withColumnRenamed("vec_id", "d"),
        col("vec_id") === col("d"), "left_anti")
      val idx = Similarity.assignVectors(survivors, centroids)
        .select("c_id", "vec_id", "v", "nrm")
      val q = survivors.select(col("vec_id").as("q_id"),
        col("v").as("q_v"), col("nrm").as("q_nrm"))
      val want = Similarity.scoreTopK(idx,
          Similarity.withProbes(q, cents, 4), 3)
        .select(col("q_id"), col("rk"), col("vec_id"),
          round(col("score"), 6).as("cos"))
        .collect().map(_.toString).sorted.toSeq
      val got = served.collect().map(_.toString).sorted.toSeq
      assert(got === want,
        "orphan-churn serve diverged from the fresh build over survivors")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $assignTable")
    }
  }

  test("pre-wsrc graph store: deltas written before the wsrc column " +
      "serve, mix with new-format deltas, and survive compaction") {
    import java.nio.file.Files
    import spark.implicits._
    val graphDir = Files.createTempDirectory("grapholdfmt").toString
    // OLD-format delta (no wsrc): the on-disk shape every store wrote
    // before the writer-source tiebreak existed — must keep reading
    Seq((1L, 1L, 10L, 0.9, 0L), (2L, 1L, 20L, 0.8, 0L))
      .toDF("q_id", "rk", "vec_id", "score", "seq")
      .coalesce(1).write.parquet(s"$graphDir/batch_id=0")
    new java.io.File(s"$graphDir/batch_id=0", "_done").createNewFile()
    def served() = StreamingBackfill.servedGraph(spark, graphDir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(served() === Set((1L, 10L), (2L, 20L)),
      "whole-store old format failed to serve (unresolved wsrc)")
    // NEW-format delta supersedes q_id=1; q_id=2's old rows must
    // survive the MIXED read — a null-filled wsrc would silently drop
    // them at the latest-wins join-back
    Seq((1L, 1L, 30L, 0.7, 1L, "batch_id=1"))
      .toDF("q_id", "rk", "vec_id", "score", "seq", "wsrc")
      .coalesce(1).write.parquet(s"$graphDir/batch_id=1")
    new java.io.File(s"$graphDir/batch_id=1", "_done").createNewFile()
    assert(served() === Set((1L, 30L), (2L, 20L)),
      "mixed-format store lost rows")
    StreamingBackfill.compactGraph(spark, graphDir)
    assert(served() === Set((1L, 30L), (2L, 20L)),
      "compaction over a mixed-format store lost rows")
  }

  test("mixed-format graph store, SAME seq: the new-format delta's " +
      "wsrc must survive the union read (mergeSchema) so the tiebreak " +
      "resolves wholesale, not by seq luck") {
    import java.nio.file.Files
    import spark.implicits._
    val graphDir = Files.createTempDirectory("graphmixtie").toString
    // OLD-format delta (no wsrc), lexicographically FIRST — exactly
    // the footer a non-merging union read would take its schema from,
    // dropping wsrc for every new-format row below
    Seq((1L, 1L, 10L, 0.5, 0L), (1L, 2L, 11L, 0.4, 0L),
        (2L, 1L, 40L, 0.6, 0L))
      .toDF("q_id", "rk", "vec_id", "score", "seq")
      .coalesce(1).write.parquet(s"$graphDir/batch_id=0")
    new java.io.File(s"$graphDir/batch_id=0", "_done").createNewFile()
    // NEW-format delta minting the SAME seq (violated single-writer
    // contract): only wsrc can order the generations. Old rows read
    // wsrc = null -> "", which sorts below any real delta name.
    Seq((1L, 1L, 20L, 0.8, 0L, "churn_id=0"))
      .toDF("q_id", "rk", "vec_id", "score", "seq", "wsrc")
      .coalesce(1).write.parquet(s"$graphDir/churn_id=0")
    new java.io.File(s"$graphDir/churn_id=0", "_done").createNewFile()
    def served() = StreamingBackfill.servedGraph(spark, graphDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity).toSeq
    // q 1: the new delta's one-row set wins INTACT (wsrc "churn_id=0"
    // beats ""); a dropped wsrc would coalesce both sides to "" and
    // serve a 3-row mix of the two generations. q 2: untouched.
    assert(served() === Seq((1L, 1L, 20L), (2L, 1L, 40L)),
      s"mergeSchema regression: mixed-format same-seq store served ${served()}")
    StreamingBackfill.compactGraph(spark, graphDir)
    assert(served() === Seq((1L, 1L, 20L), (2L, 1L, 40L)),
      "compaction over the mixed-format same-seq store changed the serve")
  }
}
