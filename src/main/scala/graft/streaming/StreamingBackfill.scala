package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** E7 — incremental/streaming backfill (SURVEY.md §2.9): the Structured
  * Streaming loops that keep graft's stores and serving indexes current
  * at ingest latency, with the checkpointed exactly-once story the
  * reference lacks (its X6 fail-fast re-run is at-least-once with no
  * resume — `src/main.rs:309-312`).
  *
  * Shape: a `readStream` source (file source here; Kafka in production)
  * → [[drain]], the one `foreachBatch` harness → a per-microbatch body
  * that is idempotent under redelivery. The loops grow the corpus store
  * and band index ([[ingestDedupLoop]]), the BM25 postings index
  * ([[indexMaintenanceLoop]]), all of those plus curation and the ANN
  * assignment index ([[fullIngestLoop]]), retract from the indexes
  * ([[churnIngestLoop]]), upsert a CDC snapshot store
  * ([[cdcUpsertLoop]]) and maintain the kNN graph ([[graphIngestLoop]],
  * [[graphChurnLoop]]).
  */
object StreamingBackfill {

  /** The one streaming harness every loop here runs through: `source`
    * in append mode with a `ProcessingTime(0)` trigger, `body` called
    * once per NON-EMPTY microbatch with the batch and its id, and the
    * stream drained (`processAllAvailable`) and stopped before return.
    *
    * A non-empty `checkpointDir` makes the stream RESUMABLE: a killed
    * process restarts from the last committed offset and REDELIVERS the
    * in-flight batch (at-least-once) — each loop's per-step idempotence
    * absorbs exactly that redelivery, and a rerun over a drained
    * checkpoint processes nothing (CdcSpec pins that). Empty keeps the
    * run-once behavior: every run starts from offset 0, which the
    * replay specs use to redeliver a whole stream. Production always
    * passes one (tools/verify_killmid.py SIGKILLs the loops mid-batch
    * and holds serve == batch rebuild through it). */
  private def drain(source: DataFrame, checkpointDir: String)(
      body: (Dataset[Row], Long) => Unit): Unit = {
    val w = source.writeStream
    val q = (if (checkpointDir.nonEmpty)
        w.option("checkpointLocation", checkpointDir) else w)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        if (!batch.isEmpty) body(batch, id)
      }
      .trigger(Trigger.ProcessingTime(0))
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** The COMPLETE streaming ingest-dedup loop, per microbatch:
    *
    *  1. per-row MinHash bands for the new docs
    *     ([[graft.operators.Dedup.minhashBandsPerRow]] — narrow map, no
    *     streaming state), scratch-materialized once since they feed
    *     both the probe and the index append;
    *  2. candidate probe against the bucketed corpus band index
    *     (exchange-free on the corpus side);
    *  3. exact-Jaccard verify, candidate-pruned on BOTH sides — the new
    *     side's text comes from the in-flight batch itself (no store
    *     read), only corpus candidates are re-read, from a FRESH scan
    *     of the corpus store (not the memoized [[graft.Tables]] cache,
    *     whose file index would not see prior batches' appends);
    *  4. verified pairs land in a batch-id-suffixed overwrite dir, so
    *     a replayed batch rewrites its own report;
    *  5. the batch's docs append into the corpus doc store and its
    *     bands into the band index, so the NEXT microbatch screens
    *     against this one (StreamingSpec proves a batch-2 near-dup of a
    *     batch-1 doc is caught through the appended index).
    *
    * Every step is O(batch) — no full-corpus scan, tokenize, shuffle,
    * or index rebuild anywhere in the loop; this is the ingest cadence
    * the batch [[graft.operators.Dedup.incrementalPairsBucketed]] runs
    * nightly, executed continuously. */
  def ingestDedupLoop(newDocs: DataFrame,
      corpusDir: String, indexTable: String, outDir: String,
      threshold: Double = 0.5): Unit = {
    drain(newDocs, "") { (batch, id) =>
      val s = batch.sparkSession
      applyDedupScreenBatch(s, batch.toDF(), id, "ingest",
        corpusDir, indexTable, outDir, threshold)
      ()
    }
  }

  /** One microbatch's dedup screen + store/index growth — the SHARED
    * foreachBatch body of [[ingestDedupLoop]] and [[fullIngestLoop]]
    * (one definition, like [[appendPostingsBatch]], so a fix applies
    * once). The `new_id =!= corpus_id` filter is the REPLAY guard: an
    * at-least-once redelivered batch finds its own prior copy in the
    * corpus store and band index (growCorpus already committed), and
    * without the filter every doc would collide with itself at
    * jaccard 1.0 — the rewritten report would flag the whole batch as
    * duplicates of their own earlier copies (the same self-match case
    * [[graft.operators.Similarity.semanticScreenFrom]] filters with
    * `vec_id =!= q_id`). Scratches are SCOPED ([[graft.operators.Memo
    * .withScratch]]) — fully consumed and deleted within the batch, so
    * a stream running for days cannot accrete one scratch dir per
    * batch until shutdown. */
  private def applyDedupScreenBatch(s: SparkSession, docs: DataFrame,
      id: Long, scratchPrefix: String, corpusDir: String,
      bandIndexTable: String, outDir: String,
      threshold: Double): Unit = {
    import graft.operators.{Dedup, Memo}
    import graft.sources.Bucketing
    Memo.withScratch(s, s"${scratchPrefix}_bands_$id")(
        Dedup.minhashBandsPerRow(docs)) { bands =>
      Memo.withScratch(s, s"${scratchPrefix}_cand_$id")(
          Bucketing.incrementalProbeColocated(s, bands, bandIndexTable)
            .withColumnRenamed("doc_id", "new_id")
            .filter(col("new_id") =!= col("corpus_id"))
            .distinct()) { cand =>
        Dedup.verifyCandidatesFrom(cand, docs,
            corpusDocs(s, corpusDir), threshold)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
      }
      growCorpus(s, corpusDir, bandIndexTable, docs, bands, id)
    }
  }

  /** Replay-idempotent corpus-store + band-index growth for one ingest
    * microbatch. The doc slice lands in a batch-keyed SUBDIRECTORY with
    * overwrite semantics, so an at-least-once replayed batch rewrites
    * its own files instead of double-appending into the store. The band
    * append (a bucketed catalog table — no per-batch directory to
    * overwrite) is guarded by a marker file committed AFTER the append:
    * systematic replay duplication becomes a narrow crash window
    * (between append and marker), and even those rare duplicate band
    * rows are serve-harmless — the probe's candidate set is distinct
    * and the verify output is per-batch-overwritten. */
  private def growCorpus(s: SparkSession, corpusDir: String,
      bandIndexTable: String, docs: DataFrame, bands: DataFrame,
      batchId: Long): Unit = {
    docs.write.mode("overwrite")
      .parquet(s"$corpusDir/documents.parquet/batch-$batchId")
    val marker = new org.apache.hadoop.fs.Path(
      s"$corpusDir/_band_batch_$batchId")
    val mfs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!mfs.exists(marker)) {
      graft.sources.Bucketing.append(s, bandIndexTable, bands)
      mfs.create(marker, true).close()
    }
  }

  /** The corpus-store read: the seed files plus every batch
    * subdirectory ([[growCorpus]]'s layout). Public so specs and
    * downstream jobs read the store through one definition. */
  def corpusDocs(s: SparkSession, corpusDir: String): DataFrame =
    s.read.schema(graft.Tables.documentsSchema)
      .option("recursiveFileLookup", "true")
      .parquet(s"$corpusDir/documents.parquet")

  /** Replay-idempotent per-batch CURATION enrichment: the batch's
    * [[graft.operators.Curation.enriched]] projection (extracted main
    * text, predicted language, quality score, content fingerprint —
    * the E17/E18 stage chain, ONE definition shared with the batch
    * memo build) lands in a batch-keyed OVERWRITE subdirectory beside
    * the doc store, so a streamed crawl carries curation columns at
    * ingest latency and an at-least-once redelivered batch rewrites
    * its own files instead of double-appending (the [[growCorpus]]
    * doc-slice contract). */
  private def growCuration(s: SparkSession, corpusDir: String,
      docs: DataFrame, batchId: Long): Unit =
    graft.operators.Curation.enriched(docs).write.mode("overwrite")
      .parquet(s"$corpusDir/curation.parquet/batch-$batchId")

  /** The curation-enrichment store read ([[growCuration]]'s layout) —
    * schema-pinned like [[corpusDocs]]. */
  def curationDocs(s: SparkSession, corpusDir: String): DataFrame =
    s.read.schema("doc_id BIGINT, ext STRING, pred_lang STRING, " +
        "score DOUBLE, fp BIGINT")
      .option("recursiveFileLookup", "true")
      .parquet(s"$corpusDir/curation.parquet")

  /** One microbatch's postings append — the foreachBatch body of
    * [[indexMaintenanceLoop]], factored out so a replay is testable as
    * the production code path: tokenize the batch ONCE into
    * (token, doc_id, tf) rows and append them into the CHURN-schema
    * index ([[graft.sources.IndexChurn]]) with `seq = batchId`. */
  def appendPostingsBatch(spark: SparkSession, indexTable: String,
      batch: DataFrame, batchId: Long): Unit =
    graft.sources.IndexChurn.append(spark, indexTable, postingsOf(batch),
      "U", batchId)

  /** Streaming postings-index maintenance — the retrieval-side twin of
    * [[ingestDedupLoop]]: each microbatch of new documents appends its
    * postings into the token-bucketed CHURN-schema catalog table
    * (bucket-preserving — existing index files untouched), so BM25
    * served from the table sees new docs at ingest latency with no
    * rebuild.
    *
    * Delivery: IDEMPOTENT under at-least-once replay. Each append is
    * keyed by its batchId through the churn schema (`op='U'`,
    * `seq=batchId`): a replayed microbatch re-derives byte-identical
    * (token, doc_id, seq) rows from the same source files, and the
    * latest-wins serve view ([[graft.sources.IndexChurn.served]])
    * collapses duplicates — tf can never inflate (StreamingSpec replays
    * a batch and asserts the served index is unchanged). The duplicate
    * rows themselves are storage debt that the next
    * [[graft.sources.IndexChurn.compact]] clears. The base index build
    * must use a seq below the first batch id (e.g. -1) so batch rows
    * supersede on key collisions. Doc deletes and updates ride the
    * dedicated [[churnIngestLoop]] (tombstone batches, `op='D'`). */
  def indexMaintenanceLoop(newDocs: DataFrame,
      indexTable: String): Unit = {
    drain(newDocs, "") { (batch, id) =>
      appendPostingsBatch(batch.sparkSession, indexTable,
        batch.toDF(), id)
    }
  }

  /** The WHOLE ingest path in one loop — the seam-closer between the
    * E7 streaming machinery and the E16/E3 serving indexes: each
    * microbatch of new documents runs, in order,
    *
    *  1. near-dup screen against the bucketed corpus band index
    *     (verified pairs land in a batch-id-suffixed report dir —
    *     report-then-append, the [[ingestDedupLoop]] contract);
    *  2. corpus doc-store + band-index growth ([[growCorpus]] — the
    *     doc slice to a batch-keyed overwrite subdir, the band append
    *     marker-guarded, so a replayed batch re-writes instead of
    *     double-appending), so the NEXT batch screens against this one;
    *  3. CURATION enrichment ([[growCuration]]): the batch's extract →
    *     langid → quality-score → fingerprint projection written to a
    *     batch-keyed overwrite subdir — a streamed crawl gets the
    *     E17/E18 curation columns at ingest latency, stream ≡ batch by
    *     construction (one shared definition);
    *  4. postings append into the CHURN-schema BM25 serving index,
    *     keyed `seq = batchId` ([[appendPostingsBatch]] — replay-
    *     idempotent);
    *  5. the batch's embeddings (via the `embedder` seam — the
    *     embedding model in production, a table lookup in the harness)
    *     SEMANTICALLY SCREENED against the assignment index's CURRENT
    *     serve view ([[graft.operators.Similarity.semanticScreenFrom]]
    *     — the incremental SemDeDup gate, probing nprobe centroid
    *     lists of the pre-batch corpus; verdicts land in a batch-keyed
    *     report dir, report-then-append like step 1, so replay
    *     overwrites rather than doubles and admission is
    *     arrival-order-free within the batch), then
    *  6. assigned against FROZEN centroids at O(batch·C) and appended
    *     into the churn-schema ANN assignment index under the same
    *     batchId keying.
    *
    * After the stream drains, BM25 served from the postings index and
    * ANN served from the assignment index must equal batch rebuilds
    * over the full corpus — StreamingSpec pins both hash-equalities.
    * Every step is O(batch + matching index rows); no full-corpus scan,
    * tokenize, or rebuild anywhere in the loop. */
  def fullIngestLoop(newDocs: DataFrame,
      corpusDir: String, bandIndexTable: String, postingsIndexTable: String,
      assignIndexTable: String, centroids: DataFrame,
      embedder: DataFrame => DataFrame, outDir: String,
      threshold: Double = 0.5,
      simThreshold: Double = 0.40, checkpointDir: String = ""): Unit = {
    import graft.operators.{Memo, Similarity}
    import graft.sources.IndexChurn
    // the frozen codebook as probe literals, collected once per loop
    val cents = Similarity.centroidArtifact(centroids)
    // resumable through drain's checkpoint: the per-step idempotence
    // contracts above absorb a redelivered batch
    drain(newDocs, checkpointDir) { (batch, id) =>
      val s = batch.sparkSession
      val docs = batch.toDF()
      applyDedupScreenBatch(s, docs, id, "full",
        corpusDir, bandIndexTable, outDir, threshold)
      // curation columns at ingest latency — batch-keyed overwrite,
      // so redelivery rewrites rather than doubles
      growCuration(s, corpusDir, docs, id)
      appendPostingsBatch(s, postingsIndexTable, docs, id)
      // the embedder (the embedding model in production) runs ONCE:
      // uncached, the screen write and the index append would each
      // re-execute it — the most expensive step of the loop. Scoped
      // scratch: consumed and deleted within the batch
      Memo.withScratch(s, s"full_vecs_$id")(embedder(docs)) { vecs =>
        // REFRESH first: the index pre-dates this stream (another
        // session built it), and the clone session's relation cache
        // would otherwise miss its files — see IndexChurn.compact
        s.sql(s"REFRESH TABLE $assignIndexTable")
        // screen against the corpus EXCLUDING this batch's own ids:
        // batch-mode at-ingest semantics (the probe sees the corpus
        // as of before the batch), and the REPLAY guard — after a
        // crash between the append and the checkpoint commit, the
        // serve view already holds the batch, and without the
        // anti-join two within-batch near-dups would reject each
        // other on redelivery, flipping their reported verdicts
        Similarity.semanticScreenFrom(vecs,
            IndexChurn.served(s, assignIndexTable, Seq("c_id", "vec_id"))
              .join(vecs.select("vec_id"), Seq("vec_id"), "left_anti"),
            cents, simThreshold)
          .write.mode("overwrite").parquet(s"$outDir/semscreen/batch_id=$id")
        IndexChurn.append(s, assignIndexTable,
          Similarity.assignVectors(vecs, centroids),
          "U", id)
      }
    }
  }

  /** The per-batch tokenize shared by the append and churn loops:
    * (token, doc_id, tf) rows of a document frame — one pass, no
    * corpus access. */
  private def postingsOf(docs: DataFrame): DataFrame = {
    import graft.functions.{TextFunctions => T}
    docs.select(col("doc_id"), explode(T.tokens(col("text"))).as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
  }

  /** One microbatch of CHURN ops applied to the serving indexes — the
    * delete/update half the append-only streaming loops lack. The ops
    * frame carries (op, doc_id, text, …): `op='U'` inserts or updates a
    * document, `op='D'` deletes one, and a delete's `text` is the
    * BEFORE-IMAGE — the CDC old-value slot (the reference's Kafka event
    * API reserves exactly this field; it is `None` only during
    * backfill: `payment_intent.rs:103`) — so the victim's postings and
    * centroid assignment are re-derived from the event itself, with no
    * corpus read in the loop.
    *
    * Seq keying: deletes stamp `seqBase + 2*batchId`, upserts
    * `seqBase + 2*batchId + 1` — monotonic across batches, and an
    * UPDATE (its D before-image + U after-image in ONE batch) resolves
    * exactly: stale tokens (in old text only) keep their tombstone,
    * surviving tokens' U rows supersede their D rows, new tokens
    * simply insert; on the ANN side the D rides the OLD embedding to
    * the old c_id bucket and the U rides the new one, so a vector that
    * crosses centroids leaves no stale list entry. Replay-idempotent
    * like [[appendPostingsBatch]]: a re-run derives byte-identical
    * (key, op, seq) rows that latest-wins collapses.
    *
    * `seqBase` is what makes the advertised grow-then-retract
    * composition safe: [[fullIngestLoop]] and [[indexMaintenanceLoop]]
    * stamp plain `batchId` seqs, and a churn stream's OWN batch ids
    * restart at 0 — without a base, its first delete (seq 0) would
    * LOSE the latest-wins race against any ingest row with a higher
    * batch id and be silently ignored. [[churnIngestLoop]] therefore
    * keys its batches above [[ChurnSeqBase]] (2^40), a domain no
    * realistic ingest batch count reaches; the base is a constant, not
    * a max(seq) read, so a checkpoint-resumed churn stream re-derives
    * byte-identical rows. One table still takes ONE writer scheme at a
    * time (the single-writer contract); the base only orders the
    * schemes' DOMAINS so grow-then-retract works.
    *
    * `buckets` is not read: every append takes its table's bucket spec
    * from the catalog ([[graft.sources.Bucketing.append]]). The
    * parameter stays so existing callers keep compiling. */
  def applyChurnBatch(spark: SparkSession, postingsTable: String,
      assignTable: String, centroids: DataFrame,
      embedder: DataFrame => DataFrame, ops: DataFrame, batchId: Long,
      buckets: Int = -1, doclenTable: Option[String] = None,
      seqBase: Long = 0L): Unit = {
    import graft.functions.{TextFunctions => T}
    import graft.operators.Similarity
    import graft.sources.IndexChurn
    // doc lengths for BM25's (N, avgdl, dl) stats — dl counts ALL the
    // doc's tokens (token-less docs keep a dl=0 row so N stays "all
    // live docs"), same payload as the batch churn index's dl table
    def doclensOf(docs: DataFrame): DataFrame =
      docs.select(col("doc_id"),
        size(T.tokens(col("text"))).cast("long").as("dl"))
    def side(slice: DataFrame, op: String, seq: Long): Unit =
      if (!slice.isEmpty) {
        IndexChurn.append(spark, postingsTable, postingsOf(slice), op, seq)
        doclenTable.foreach(dt => IndexChurn.append(spark, dt,
          doclensOf(slice), op, seq))
        IndexChurn.append(spark, assignTable,
          Similarity.assignVectors(embedder(slice), centroids),
          op, seq)
      }
    side(ops.filter(col("op") === "D").drop("op"), "D",
      seqBase + 2 * batchId)
    side(ops.filter(col("op") === "U").drop("op"), "U",
      seqBase + 2 * batchId + 1)
  }

  /** The churn loop's seq domain floor: far above any plain-batchId
    * ingest seq (2^40 microbatches at one per second is ~35k years),
    * so [[churnIngestLoop]] deletes always supersede
    * [[fullIngestLoop]]/[[indexMaintenanceLoop]] appends. */
  val ChurnSeqBase: Long = 1L << 40

  /** Streaming index CHURN loop — deletes and updates flowing to the
    * BM25 and ANN serving indexes at ingest latency, completing the
    * lifecycle story: [[fullIngestLoop]] grows the indexes, the batch
    * compaction jobs fold debt, and this loop retracts — each
    * microbatch of CDC-style ops tombstones/supersedes via
    * [[applyChurnBatch]], O(batch ops + batch·C), never a rebuild or
    * corpus scan. StreamingSpec proves: a deleted doc stops being
    * served by BOTH indexes after its batch drains, an updated doc
    * serves its new text/assignment, a replayed batch changes nothing,
    * and compaction clears the debt without changing the serve view.
    *
    * `compactThreshold` (NaN = off) adds the maintenance tick INSIDE
    * the loop: after each applied batch,
    * [[graft.sources.IndexChurn.compactIfNeeded]] folds an index's
    * debt once tombstones cross the threshold fraction — the
    * amortization policy from NOTES (one compaction pass absorbs many
    * delete batches) running at ingest cadence, so a long-lived stream
    * can never accrete unbounded debt. The tick itself is two
    * column-pruned counts per index; compaction replays fine (winners
    * keep their (op, seq), so the monotonic-seq contract and replay
    * idempotence survive the rewrite). Every append and compaction
    * takes its table's bucket count from the catalog, so the loop takes
    * none. */
  def churnIngestLoop(ops: DataFrame,
      postingsTable: String, assignTable: String, centroids: DataFrame,
      embedder: DataFrame => DataFrame,
      doclenTable: Option[String] = None,
      compactThreshold: Double = Double.NaN,
      seqBase: Long = ChurnSeqBase, checkpointDir: String = ""): Unit = {
    import graft.sources.IndexChurn
    // resumable: identical (op, seq) re-appends of a redelivered batch
    // collapse in the latest-wins serve (tools/verify_killmid.py
    // --phase churn SIGKILLs this loop)
    drain(ops, checkpointDir) { (batch, id) =>
      val s = batch.sparkSession
      applyChurnBatch(s, postingsTable, assignTable,
        centroids, embedder, batch.toDF(), id, doclenTable = doclenTable,
        seqBase = seqBase)
      if (!compactThreshold.isNaN) {
        IndexChurn.compactIfNeeded(s, postingsTable,
          Seq("token", "doc_id"), Seq("token"), threshold = compactThreshold)
        doclenTable.foreach(dt => IndexChurn.compactIfNeeded(s, dt,
          Seq("doc_id"), Seq("doc_id"), threshold = compactThreshold))
        IndexChurn.compactIfNeeded(s, assignTable,
          Seq("c_id", "vec_id"), Seq("c_id"), threshold = compactThreshold)
        ()
      }
    }
  }

  /** Streaming CDC upsert — the continuous form of the batch
    * [[graft.operators.Cdc.applySnapshot]] merge: a stream of keyed
    * change events folds, per microbatch, into a hash-bucket-partitioned
    * snapshot store via [[graft.operators.Cdc.mergeIntoStore]]. Each
    * batch first collapses WITHIN itself (latest-wins, O(batch)), then
    * rewrites only the bucket partitions its keys touch — merge cost is
    * O(affected buckets), never O(snapshot), and stale replays lose to
    * the rows already in the store, so at-least-once redelivery is a
    * no-op (CdcSpec proves cross-batch supersede/delete plus replay
    * idempotence through the store). This is the continuously-running
    * form of the nightly snapshot⊕changelog batch merge — same kernel,
    * same store layout, same reader ([[graft.operators.Cdc
    * .currentSnapshot]]/[[graft.operators.Cdc.lookup]]). */
  def cdcUpsertLoop(changes: DataFrame,
      storeDir: String, buckets: Int = 16,
      checkpointDir: String = ""): Unit = {
    // resumable: a redelivered batch's stale rows lose latest-wins to
    // what the store already holds, and mergeIntoStore's aside/staging
    // recovery repairs a swap the kill interrupted (killmid --phase
    // cdc SIGKILLs this loop mid-merge)
    drain(changes, checkpointDir) { (batch, id) =>
      graft.operators.Cdc.mergeIntoStore(batch.toDF(), storeDir, buckets, id)
    }
  }

  // ---------------------------------------------- kNN-graph maintenance

  /** Serve view of the streaming-maintained kNN graph at `graphDir`:
    * union of the COMMITTED batch deltas (dirs carrying the `_done`
    * marker — a half-written crash victim is invisible), latest writer
    * per q_id wins WHOLESALE: a delta always rewrites a touched
    * vector's full k rows, so (q_id → max seq) then a join-back selects
    * complete top-k sets, never a row-level mix of generations. Raw
    * scores round at this edge, like every serve path. */
  def servedGraph(spark: SparkSession, graphDir: String): DataFrame =
    graft.operators.Similarity.presented(servedGraphRaw(spark, graphDir))

  // The graph-store protocol runs on the HADOOP filesystem API (resolved
  // from the path's scheme), never java.io.File: the parquet deltas are
  // written through Spark's Hadoop FS, so on a cluster whose graphDir is
  // hdfs://S3a:// a local-disk marker protocol would silently diverge —
  // committedDeltas would list nothing and every batch would re-fold
  // against an empty base. growCorpus set this precedent for its band
  // marker.
  private def graphFs(spark: SparkSession, graphDir: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val root = new org.apache.hadoop.fs.Path(graphDir)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  private def committedDeltas(spark: SparkSession,
      graphDir: String): Seq[String] = {
    val (fs, root) = graphFs(spark, graphDir)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_done")))
      .map(_.getPath.toString).sorted
  }

  /** Latest generation per q_id, sentinels INCLUDED (the churn loop's
    * rk = −1 delete markers must keep suppressing older generations
    * until [[servedGraphRaw]]'s final filter — and through
    * [[compactGraph]], whose winners carry them forward so a
    * mid-compaction crash can never resurrect a deleted vector's
    * rows). The leading dropDuplicates makes a compacted copy
    * coexisting with its source deltas harmless: winner rows are
    * byte-identical in both, so the (q_id, seq, wsrc) join can't
    * double them.
    *
    * Generation order is (seq, wsrc) — seq first, the delta DIRECTORY
    * name as tiebreak. Under the single-writer contract (see
    * [[graphIngestLoop]]) seqs never tie and wsrc is inert; if two
    * writers ever DO race one graphDir and mint the same seq
    * ([[nextSeqFromDirs]] is list-then-write, not atomic), the
    * tiebreak makes the outcome deterministic and per-q_id WHOLESALE —
    * one delta's top-k set wins intact — instead of serving a
    * row-level mix of two generations' rows for a shared q_id. */
  private def latestWins(all: DataFrame): DataFrame = {
    // tolerate pre-wsrc stores (the column was added in a later store
    // generation): a delta written without it reads as a MISSING column
    // when every file predates it, or as NULLs in a mixed store (the
    // parquet reader null-fills absent columns). Default both to "" —
    // ordered below every real delta-dir name, and equi-joinable where
    // a raw null would silently DROP its rows at the join-back.
    val withW =
      if (all.columns.contains("wsrc"))
        all.withColumn("wsrc", coalesce(col("wsrc"), lit("")))
      else all.withColumn("wsrc", lit(""))
    val d = withW.dropDuplicates()
    val latest = d.groupBy("q_id")
      .agg(max(struct(col("seq"), col("wsrc"))).as("w"))
      .select(col("q_id"), col("w.seq").as("seq"), col("w.wsrc").as("wsrc"))
    d.join(latest, Seq("q_id", "seq", "wsrc"))
  }

  private def emptyGraph(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("q_id", LongType),
        StructField("rk", LongType), StructField("vec_id", LongType),
        StructField("score", DoubleType))))

  /** Multi-delta read of a graph store. mergeSchema is MANDATORY
    * here: without it the union read infers its schema from ONE
    * footer — typically the lexicographically-first delta, i.e. the
    * oldest, pre-wsrc-format one in a mixed-generation store — and
    * the wsrc column silently vanishes from every NEW-format row,
    * degrading [[latestWins]]'s same-seq writer-source tiebreak to a
    * row-level mix of two generations (the exact failure wsrc was
    * added to prevent). With it, pre-wsrc rows read as wsrc = null
    * and coalesce to "" as documented on [[latestWins]]. */
  private def readDeltas(spark: SparkSession,
      dirs: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dirs: _*)

  private def servedFromDirs(spark: SparkSession,
      dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) emptyGraph(spark)
    else latestWins(readDeltas(spark, dirs))
      .filter(col("rk") > 0).drop("seq", "wsrc")

  private[graft] def servedGraphRaw(spark: SparkSession,
      graphDir: String): DataFrame =
    servedFromDirs(spark, committedDeltas(spark, graphDir))

  /** Fold the graph store's committed deltas — the debt-bounding
    * compaction tick of the graph lifecycle (the store otherwise
    * accretes one directory per microbatch forever). A dominant delta
    * (≥ half the store's rows, the leftover of a previous fold) is
    * kept in place and only the rest folds — see the tiered-fast-path
    * note in the body; otherwise everything folds to one. Winners
    * keep their ORIGINAL seq stamps and their delete sentinels, so
    * every instant of the fold is serve-consistent: before the
    * `_done` marker the compacted copy is invisible; after it, its
    * rows coexist with the source deltas as exact duplicates (collapsed
    * by [[latestWins]]); source deltas are deleted only after the
    * marker commits. Requires the checkpointed-batch-id contract (a
    * post-compaction run restarting ids at 0 would no longer find its
    * markers — same contract as every batch-keyed store here). */
  def compactGraph(spark: SparkSession, graphDir: String): Unit = {
    val (fs, _) = graphFs(spark, graphDir)
    val dirs = committedDeltas(spark, graphDir)
    if (dirs.length <= 1) return
    // TIERED fast path — fold cost must scale with the rows written
    // since the last fold, not the store: folding ANY subset S of the
    // committed deltas into latestWins(S) is serve-preserving (a row
    // losing within S is beaten by a same-q_id higher-generation row
    // that also beats it globally; winners within S are carried
    // verbatim, so latestWins over the untouched rest ∪ fold(S) picks
    // identical rows). So when one delta DOMINATES the store — the
    // steady state right after a previous full fold — leave it in
    // place and fold only the rest. Monotone seqs mean the dominant
    // (earlier) delta can never hold the winning generation of a q_id
    // a later delta touched, so skipping its scan loses nothing; its
    // superseded rows for touched q_ids linger as latest-wins losers
    // until the next FULL fold (triggered automatically once the
    // folded tier outgrows it). Dir row counts are parquet
    // metadata-counts — cheap next to the fold itself.
    // a committed delta can be schema-only (documented: a first batch
    // whose vector has no scorable neighbor) — if its parquet footers
    // are absent a PER-DIR read cannot infer a schema and throws where
    // the union read (schema from siblings) would not; such a dir
    // holds zero rows by definition, so count it as such
    val counts = dirs.map(d => d ->
      (try spark.read.parquet(d).count()
      catch {
        // ONLY the documented footer-less/schema-only case counts as
        // zero; a transient FS or corruption error on a POPULATED
        // delta must propagate — counting it as 0 would silently
        // mis-pick the dominant tier and defer the real failure to
        // the union read
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getMessage)
              .exists(_.contains("UNABLE_TO_INFER_SCHEMA")) => 0L
      }))
    val total = counts.map(_._2).sum
    val baseDir = counts.maxBy { case (d, n) => (n, d) }._1
    val baseRows = counts.toMap.apply(baseDir)
    val foldDirs =
      if (2 * baseRows >= total && dirs.length >= 3)
        dirs.filterNot(_ == baseDir)
      else dirs
    val winners = latestWins(readDeltas(spark, foldDirs))
    // all-empty stores have no max seq — name under 0, fold anyway
    // (the result is one empty committed delta, the folded form)
    val maxSeq = Option(winners.agg(max(col("seq"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    // the target must be a FRESH directory, never one of the inputs: a
    // repeat compaction can see the SAME maxSeq (a later batch may not
    // have raised it), and deleting an input dir before the lazy
    // `winners` plan re-reads it would crash the write AND destroy the
    // only copy of the previously-compacted rows. A deterministic
    // suffix probe finds an unused name; a leftover unmarked dir from
    // a crashed attempt is invisible to the serve (no `_done`) and
    // safe to clear.
    val target = Iterator.from(0)
      .map(i => new org.apache.hadoop.fs.Path(
        s"$graphDir/compact_${maxSeq}_$i"))
      .find(t => !fs.exists(new org.apache.hadoop.fs.Path(t, "_done")))
      .get
    if (fs.exists(target)) fs.delete(target, true)
    winners.write.mode("overwrite").parquet(target.toString)
    fs.create(new org.apache.hadoop.fs.Path(target, "_done"), true).close()
    foldDirs.foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(d), true))
  }

  /** Next delta seq for the graph store: one past the max committed
    * seq. The store's generations must be MONOTONE IN WRITE ORDER
    * regardless of which loop writes: a fixed per-loop seq domain
    * (batchId for ingest, 2^40+id for churn) breaks the moment an
    * ingest batch touches a vector a churn repair already rewrote —
    * the fold computes the right rows from the served base, then its
    * delta LOSES the latest-wins race to the older churn generation
    * and the new vector's edges silently vanish for that query.
    * Replay stays idempotent by the marker protocol (a skipped batch
    * never reads this), and a crash-redo recomputes against the same
    * committed state it re-reads as base.
    *
    * This list-then-write is NOT atomic: it assumes the
    * SINGLE-WRITER-per-graphDir contract documented on
    * [[graphIngestLoop]]/[[graphChurnLoop]]. Two concurrent writers
    * could mint the same seq; [[latestWins]]'s (seq, wsrc) order keeps
    * even that failure deterministic and unmixed per q_id, but the
    * losing delta's fold was computed against a base missing the
    * winner — run the loops against one store sequentially. */
  private def nextSeqFromDirs(spark: SparkSession,
      dirs: Seq[String]): Long =
    if (dirs.isEmpty) 0L
    else Option(spark.read.parquet(dirs: _*).select("seq")
        .agg(max(col("seq"))).head().get(0))
      .map(_.asInstanceOf[Long] + 1L)
      // committed deltas can all be EMPTY (a first batch whose single
      // vector has no scorable neighbor writes a schema-only delta) —
      // max(seq) is then null, and the store's next generation is 0
      .getOrElse(0L)

  /** The graph store's delta commit protocol, shared by
    * [[graphIngestLoop]] and [[graphChurnLoop]]: the delta lands in
    * `graphDir/<name>` and commits by its `_done` marker. A marked
    * delta means a redelivered batch and is skipped (the fold reads
    * prior state, so the marker, not arithmetic, makes replay
    * idempotent); an unmarked partial from a crashed attempt is deleted
    * first. ONE committed-delta listing serves both the served `base`
    * handed to `rows` and the next monotone seq ([[nextSeqFromDirs]]);
    * the rows are stamped (seq, wsrc = `name`), written, and only then
    * marked. */
  private def commitDelta(s: SparkSession, graphDir: String, name: String)(
      rows: DataFrame => DataFrame): Unit = {
    val (fs, _) = graphFs(s, graphDir)
    val deltaDir = new org.apache.hadoop.fs.Path(s"$graphDir/$name")
    val marker = new org.apache.hadoop.fs.Path(deltaDir, "_done")
    if (!fs.exists(marker)) {
      if (fs.exists(deltaDir)) fs.delete(deltaDir, true)
      val dirs = committedDeltas(s, graphDir)
      rows(servedFromDirs(s, dirs))
        .withColumn("seq", lit(nextSeqFromDirs(s, dirs)))
        .withColumn("wsrc", lit(name))
        .write.mode("overwrite").parquet(deltaDir.toString)
      fs.create(marker, true).close()
    }
  }

  /** STREAMING kNN-graph maintenance — the E7 twin for the one corpus
    * artifact that still folded in by batch job only
    * ([[graft.operators.Similarity.knnGraphMaintained]]). Per
    * microbatch of arriving vectors:
    *
    *  1. assign the batch against the FROZEN centroids (O(batch·C) —
    *     the codebook travels as the same driver-literal artifact the
    *     batch build ships);
    *  2. fold into the served graph via the shared merge kernel
    *     ([[graft.operators.Similarity.graphReverseMerge]]): forward —
    *     the batch probes the full index (established ∪ batch) for its
    *     own top-k; reverse — only established vectors whose probed
    *     cells the batch dirtied AND whose artifact k-th score is
    *     beaten re-merge;
    *  3. write ONLY touched + new vectors' rows as a batch DELTA under
    *     `graphDir/batch_id=<id>` with a MONOTONE store seq
    *     ([[nextSeqFromDirs]] — never a per-loop seq domain, see its
    *     note), committed by a `_done` marker ([[commitDelta]]) —
    *     [[servedGraph]] resolves latest-wins per
    *     q_id, so untouched vectors keep serving from older deltas and
    *     a delta is O(touched + batch), never O(n);
    *  4. append the batch to the churn-schema assignment index — the
    *     serving ANN index and the graph advance in lockstep.
    *
    * At-least-once discipline: a replayed batch id finds its `_done`
    * marker and SKIPS the graph fold (the fold reads prior state, so
    * re-running it against post-fold state is not idempotent by
    * arithmetic — the marker makes it idempotent by protocol, the same
    * pattern as the band-index append); an UNMARKED half-written delta
    * is deleted before the redo reads its base (serve never saw it —
    * crash-atomic like the retrain epoch swap). The assignment append
    * needs no marker: identical re-appended rows collapse in the
    * latest-wins serve view. The redelivery `left_anti` below keeps the
    * fold correct when the prior attempt died AFTER the index append
    * (batch rows already serve as established vectors — they must not
    * be double-counted as both index rows and arrivals).
    *
    * CONTRACT — one writer per graphDir at a time: this loop,
    * [[graphChurnLoop]] and [[compactGraph]] each do a non-atomic
    * list-then-write against the store ([[nextSeqFromDirs]]), so
    * interleaving two of them concurrently on one graphDir is
    * unsupported (run them sequentially, as StreamingSpec's lifecycle
    * does). The (seq, wsrc) generation order degrades a violated
    * contract to a deterministic wholesale winner rather than a
    * row-mixed serve, but the loser's work is silently discarded. */
  def graphIngestLoop(newVecs: DataFrame,
      assignIndexTable: String, centroids: DataFrame, graphDir: String,
      k: Int = 3, nprobe: Int = 4,
      compactEvery: Int = 0, checkpointDir: String = ""): Unit = {
    import graft.operators.{Memo, Similarity}
    import graft.sources.IndexChurn
    val cents = Similarity.centroidArtifact(centroids)
    // resumable: redelivered batches skip the fold on their _done
    // marker and their assignment re-appends collapse latest-wins —
    // the same protocol the whole-stream-replay spec pins, here
    // process-kill-proven (tools/verify_killmid.py --phase graph)
    drain(newVecs, checkpointDir) { (batch, id) =>
      val s = batch.sparkSession
      val vecs = Similarity.vectorsOf(batch.toDF())
      Memo.withScratch(s, s"graph_bidx_$id")(
          Similarity.assignVectors(vecs, centroids)
            .select("c_id", "vec_id", "v", "nrm")) { batchIdx =>
        commitDelta(s, graphDir, s"batch_id=$id") { base =>
          s.sql(s"REFRESH TABLE $assignIndexTable")
          val oldIdx = IndexChurn
            .served(s, assignIndexTable, Seq("c_id", "vec_id"))
            .select("c_id", "vec_id", "v", "nrm")
            .join(batchIdx.select("vec_id"), Seq("vec_id"), "left_anti")
          val (_, remerged) = Similarity.graphReverseMerge(
            base, batchIdx, Similarity.asQueries(oldIdx), cents, k, nprobe)
          val newEdges = Similarity.scoreTopK(
            oldIdx.unionByName(batchIdx),
            Similarity.withProbes(Similarity.asQueries(batchIdx), cents,
              nprobe), k)
          remerged.unionByName(newEdges)
        }
        IndexChurn.append(s, assignIndexTable, batchIdx, "U", id)
      }
      // debt-gated maintenance tick (the graph twin of
      // churnIngestLoop's compactIfNeeded): the delta store grows
      // one directory per microbatch; past the threshold, fold —
      // serve-consistent at every instant, so it can run inside
      // the loop at ingest cadence. 0 = off (the replay-no-op spec
      // relies on markers surviving, which compaction removes —
      // production runs checkpointed, where ids never restart).
      if (compactEvery > 0 &&
        committedDeltas(s, graphDir).length >= compactEvery)
        compactGraph(s, graphDir)
    }
  }

  /** STREAMING kNN-graph CHURN — deletes reaching the graph artifact at
    * ingest latency, completing the graph's streaming lifecycle
    * ([[graphIngestLoop]] grows, [[compactGraph]] folds debt, this
    * retracts). Each microbatch carries the deleted vectors WITH their
    * payload (the frozen-centroid contract every churn path here
    * shares: a tombstone must land under its victim's c_id, which only
    * the vector itself determines). Per batch:
    *
    *  1. tombstone the assignment index first (op='D', seq in the
    *     churn domain) — the graph repair below then probes the
    *     already-churned serve view, so a repaired top-k can never
    *     re-admit a vector deleted in the same batch;
    *  2. deleted vectors vanish from the graph BOTH ways: as queries, a
    *     per-q sentinel row (rk = −1) supersedes their whole
    *     generation in the latest-wins serve ([[servedGraphRaw]]
    *     filters rk > 0 after the generation pick — an rk = −1 winner
    *     means "serve nothing"); as neighbors, exactly the survivors
    *     holding an edge to a deleted vector re-probe and re-rank
    *     against the churned index — the affected set is bounded by
    *     the batch's reverse degree (≤ n_del·k), never the corpus;
    *  3. the delta (repaired rows + sentinels) commits under a `_done`
    *     marker ([[commitDelta]]) with a MONOTONE store seq
    *     ([[nextSeqFromDirs]] — one past the max committed
    *     generation, so any later write from EITHER
    *     loop supersedes; a fixed churn domain would instead doom
    *     every subsequent ingest fold that touches a repaired vector);
    *     the assignment-index tombstones still ride the 2^40 churn
    *     domain of [[churnIngestLoop]]. Replay skips on the marker
    *     like the ingest loop.
    *
    * StreamingSpec pins the end state hash-equal to the batch
    * [[graft.operators.Similarity.knnGraphChurn]] — a fresh build over
    * survivors only.
    *
    * Same SINGLE-WRITER-per-graphDir contract as [[graphIngestLoop]]:
    * never run two graph loops (or a loop and [[compactGraph]])
    * concurrently against one store. */
  def graphChurnLoop(deletes: DataFrame,
      assignIndexTable: String, centroids: DataFrame, graphDir: String,
      k: Int = 3, nprobe: Int = 4,
      seqBase: Long = ChurnSeqBase, checkpointDir: String = ""): Unit = {
    import graft.operators.{Memo, Similarity}
    import graft.sources.IndexChurn
    val cents = Similarity.centroidArtifact(centroids)
    // resumable: the delta marker skips a redelivered fold; the
    // assignment tombstone re-append is an identical (op, seq) row
    // that collapses latest-wins (killmid --phase gchurn)
    drain(deletes, checkpointDir) { (batch, id) =>
      val s = batch.sparkSession
      val vecs = Similarity.vectorsOf(batch.toDF())
      Memo.withScratch(s, s"graph_del_$id")(
          Similarity.assignVectors(vecs, centroids)
            .select("c_id", "vec_id", "v", "nrm")) { delIdx =>
        s.sql(s"REFRESH TABLE $assignIndexTable")
        // the ASSIGNMENT index keeps the 2^40 churn seq domain (its
        // grow side appends at raw batch ids); the GRAPH delta seq
        // is monotone per store — see nextSeqFromDirs
        IndexChurn.append(s, assignIndexTable, delIdx, "D", seqBase + id)
        commitDelta(s, graphDir, s"churn_id=$id") { base =>
          val delQ = delIdx.select(col("vec_id").as("q_id"))
          // deleted as queries: their whole generation must vanish
          val goneQ = base.join(delQ, Seq("q_id"), "left_semi")
            .select("q_id").distinct()
          // deleted as neighbors: survivors holding an edge to a
          // deleted vector re-rank over the churned candidate set
          val affected = base
            .join(delIdx.select("vec_id"), Seq("vec_id"), "left_semi")
            .select("q_id").distinct()
            .join(delQ, Seq("q_id"), "left_anti")
          // rk = −1 sentinel for EVERY q_id this delta rewrites —
          // deleted queries AND re-ranked survivors. A survivor whose
          // probed cells hold no surviving candidate (all neighbors
          // deleted) yields ZERO repaired rows; without its own
          // sentinel in the same generation, its OLD rows would keep
          // winning latest-wins and serve edges into deleted vectors.
          // Sentinel and repaired rows share one (seq, wsrc), so the
          // generation pick keeps both and the rk > 0 serve filter
          // leaves exactly the repaired rows — or nothing, matching
          // the batch knnGraphChurn (which drops the vector).
          val sentinels = goneQ.unionByName(affected).distinct()
            .select(col("q_id"), lit(-1L).as("rk"),
              lit(-1L).as("vec_id"), lit(0.0).as("score"))
          val servedIdx = IndexChurn
            .served(s, assignIndexTable, Seq("c_id", "vec_id"))
            .select("c_id", "vec_id", "v", "nrm")
          val affQ = Similarity.asQueries(servedIdx
            .join(affected.withColumnRenamed("q_id", "vec_id"),
              Seq("vec_id")))
          val repaired = Similarity.scoreTopK(servedIdx,
            Similarity.withProbes(affQ, cents, nprobe), k)
          repaired.unionByName(sentinels)
        }
      }
    }
  }
}
