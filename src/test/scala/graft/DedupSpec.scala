package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup
import graft.functions.{TextFunctions => T}

/** Near-dup detection on planted fixtures: the correctness story for the
  * non-oracle LSH paths (SURVEY.md §5 item 4 — golden-fixture tests). */
class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Corpus with a planted exact dup (21/22), near-dup pair (0/1: one
    * word changed out of 40), and unrelated filler docs. */
  lazy val fixtureDir: String = {
    import spark.implicits._
    val base = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliett kilo lima mike november oscar papa quebec romeo sierra " +
      "tango uniform victor whiskey xray yankee zulu one two three four " +
      "five six seven eight nine ten eleven twelve thirteen fourteen").trim
    val near = base.replace("oscar", "OSCAR-PRIME")
    val docs = Seq(
      (0L, base, "en", "src0"),
      (1L, near, "en", "src1"),
      (21L, "the same exact content twice over and over again now", "en", "srcA"),
      (22L, "the same exact content twice over and over again now", "en", "srcB")
    ) ++ (100L until 140L).map { i =>
      (i, s"totally unrelated document number $i with words w${i}a w${i}b " +
        s"w${i}c w${i}d w${i}e w${i}f w${i}g w${i}h w${i}i w${i}j", "en", "srcX")
    }
    val dir = Files.createTempDirectory("dedupfix").toString
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("minhash pairs detect planted near-dup and exact dup, no false pairs") {
    val pairs = Dedup.minhashPairs(spark, fixtureDir, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "near-dup 0/1 missed")
    assert(pairs.contains((21L, 22L)), "exact dup 21/22 missed")
    assert(pairs.forall { case (a, b) => Set((0L, 1L), (21L, 22L))((a, b)) },
      s"false positives: $pairs")
  }

  test("incremental dedup: new batch probes the corpus, never re-pairs it") {
    // planted fixture: 0 (new side, %10==0) vs 1 (corpus) is a near-dup;
    // 21/22 are both corpus-side and must NOT appear in an increment
    val inc = Dedup.incrementalPairs(spark, fixtureDir, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc.contains((0L, 1L)), "new-doc near-dup vs corpus missed")
    assert(inc.forall { case (n, c) => n % 10 == 0 && c % 10 != 0 },
      s"non-incremental pair leaked: $inc")
    // and on the harness data: exactly the cross-set subset of the full
    // pair table, reoriented new→corpus — the one-sided probe loses no
    // recall vs the full self-join
    val full = Dedup.minhashPairs(spark, TestSpark.sf, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.collect {
      case (a, b) if a % 10 == 0 && b % 10 != 0 => (a, b)
      case (a, b) if b % 10 == 0 && a % 10 != 0 => (b, a)
    }
    val incSf = Dedup.incrementalPairs(spark, TestSpark.sf, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incSf == expected)
  }

  test("per-row HOF band computation ≡ batch explode+groupBy band table") {
    val perRow = Dedup.minhashBandsPerRow(
      Tables.load(spark, fixtureDir, "documents"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val batch = Dedup.minhashBandTable(spark, fixtureDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(perRow == batch,
      s"only per-row: ${perRow.diff(batch).take(3)}; only batch: ${batch.diff(perRow).take(3)}")
  }

  test("per-row bands probing the corpus bands surface every verified pair") {
    // the candidate stage of the ingest screen (applyDedupScreenBatch):
    // new docs banded per row, joined on (band_id, band_key) against the
    // corpus band table. No recall loss vs batch: every verified
    // incremental pair is a candidate (also pins the per-row HOF-min
    // signature ≡ the batch explode+groupBy signature on the harness data)
    val sf = TestSpark.sf
    val corpusBands = Dedup.minhashCappedBands(spark, sf)
      .filter(col("doc_id") % 10 =!= 0)
      .withColumnRenamed("doc_id", "corpus_id")
    val newDocs = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 10 === 0)
    val cands = Dedup.minhashBandsPerRow(newDocs)
      .join(corpusBands, Seq("band_id", "band_key"))
      .select("doc_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // candidates orient new → corpus only (no corpus re-pairing at ingest)
    assert(cands.forall { case (n, c) => n % 10 == 0 && c % 10 != 0 })
    val verified = Dedup.incrementalPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.nonEmpty, "fixture has no cross-set near-dups")
    assert(verified.subsetOf(cands),
      s"missed candidates: ${verified.diff(cands)}")
  }

  test("simhash: identical docs equal, near-dups close, unrelated far") {
    val sh = Dedup.simhash(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(21L) == sh(22L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(1L)) <= 8)
    assert(ham(sh(0L), sh(100L)) > 8)
  }

  test("content-hash dedup groups the exact dup only") {
    val d = Dedup.exactByContentHash(spark, fixtureDir).collect()
    // 21/22 differ in `source`, so full-row hash keeps them apart;
    // text-only hash would group them — both semantics valid, here row-level
    assert(d.forall(_.getAs[Long]("dup_count") == 1L))
    val textOnly = Tables.load(spark, fixtureDir, "documents")
      .groupBy(sha2(col("text"), 256)).count()
      .filter(col("count") > 1).count()
    assert(textOnly == 1L)
  }

  test("fingerprint is token-order and duplication invariant") {
    import spark.implicits._
    val df = Seq("the quick brown fox", "fox brown the quick the")
      .toDF("text").select(T.fingerprint(col("text")).as("fp")).collect()
    assert(df(0).getString(0) == df(1).getString(0))
  }

  test("rolling hash is token-order sensitive") {
    import spark.implicits._
    val df = Seq("the quick brown fox", "fox brown the quick")
      .toDF("text").select(T.rollingHash(col("text")).as("h")).collect()
    assert(df(0).getLong(0) != df(1).getLong(0))
  }

  test("exact key dedup keeps one row per key") {
    val d = Dedup.exactByKey(spark, TestSpark.sf)
    assert(d.groupBy("user_id", "event_type").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("connected components: chains merge, islands stay separate") {
    import spark.implicits._
    import graft.operators.Components
    // chain 1-2-3 (3 not directly linked to 1), island 4-5, singleton edge 9-9
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (9L, 9L)).toDF("src", "dst")
    val got = Components.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("union-find convergence pin: propagation rounds scale with the " +
      "partition count, NOT the component's chain length") {
    import spark.implicits._
    import graft.operators.Components
    // adversarial shape: ONE chain component spanning every partition.
    // Phase 1 contracts each partition's segment to a star, so phase 2
    // rounds track the number of partition boundaries the min label
    // must cross (the contracted forest chains stars root↔boundary↔root
    // — about two hops per boundary). At 100× edges with the same
    // partition COUNT the round count is unchanged; growing the cluster
    // (more partitions) grows rounds linearly with executors, never
    // with data. That invariance is the scale law this test pins.
    def chain(n: Int, epp: Long): Int = {
      val edges = (0L until (n - 1).toLong).map(i => (i, i + 1))
        .toDF("src", "dst")
      val (labels, rounds) =
        Components.connectedComponentsStats(edges, maxIter = 40,
          edgesPerPartition = epp)
      val lab = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
      labels.unpersist()
      assert(lab.length == n && lab.forall(_._2 == 0L),
        s"chain($n) did not converge to one component")
      rounds
    }
    // both runs use parts = min(8, (n-1)/epp + 1) = 8
    val r200 = chain(200, 25)
    val r400 = chain(400, 50)
    assert(r200 == r400,
      s"rounds grew with chain length at fixed partitions: $r200 vs $r400")
    // ≈ two hops per boundary (7 boundaries) + 1 convergence round
    assert(r200 <= 2 * 8 + 1, s"rounds=$r200 exceeds the 2·parts bound")
  }

  test("dedup clusters group the planted near-dups with min-id keeper") {
    import graft.operators.Components
    val rows = Components.dedupClusters(spark, fixtureDir).collect()
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).toSet).toMap
    assert(byCluster(0L) == Set(0L, 1L))
    assert(byCluster(21L) == Set(21L, 22L))
    rows.filter(_.getAs[Boolean]("is_keeper"))
      .foreach(r => assert(r.getAs[Long]("doc_id") == r.getAs[Long]("cluster_id")))
  }

  test("embedding near-dup finds planted duplicate vector") {
    import spark.implicits._
    val dir = Files.createTempDirectory("embfix").toString
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)(rnd.nextFloat() * 2 - 1)
    val v0 = vec()
    val v0near = v0.map(x => x + 0.001f) // cosine ≈ 1
    val rows = Seq((0L, v0, 0), (1L, v0near, 0)) ++
      (10L until 60L).map(i => (i, vec(), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val pairs = Dedup.embeddingNearDup(spark, dir, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("embedding bucket saturation: totals reconcile, zero vectors " +
      "excluded, planted mega-bucket trips the alarm") {
    import spark.implicits._
    val dir = Files.createTempDirectory("embsat").toString
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(64)(rnd.nextFloat() * 2 - 1)
    val base = vec()
    // 250 near-copies of one vector land in ONE hyperplane bucket (the
    // clustered-corpus shape the skew cap exists for), one all-zero
    // vector must vanish at the source, filler keeps other buckets cold
    val rows = (0L until 250L).map(i =>
        (i, base.map(x => x + i.toFloat * 1e-5f), 0)) ++
      Seq((500L, Array.fill(64)(0.0f), 9)) ++
      (600L until 650L).map(i => (i, vec(), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = graft.operators.Dedup.embeddingBucketSaturation(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n_vecs") === 300L, "zero vector not excluded")
    assert(r.getAs[Long]("n_capped") >= 1L, "mega-bucket not flagged")
    assert(r.getAs[Long]("n_dropped") >= 250L)
    val df = r.getAs[Double]("drop_frac")
    assert(df > 0.8 && df <= 1.0, s"drop_frac $df")
    assert(r.getAs[Long]("n_capped") <= r.getAs[Long]("n_buckets"))
  }

  test("dedupKeepBest: keeper is the longest doc per cluster, map consistent") {
    val rows = graft.operators.Components.dedupKeepBest(spark, fixtureDir).collect()
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.values.foreach { g =>
      val keepers = g.filter(_.getAs[Boolean]("is_keeper"))
      assert(keepers.length == 1)
      val k = keepers.head
      val maxChars = g.map(_.getAs[Number]("n_chars").longValue).max
      assert(k.getAs[Number]("n_chars").longValue == maxChars)
      assert(g.forall(_.getAs[Long]("keep_doc_id") == k.getAs[Long]("doc_id")))
    }
  }

  test("spanDedup: exact dups fully covered, near-dups partial, uniques zero") {
    val rows = Dedup.spanDedup(spark, fixtureDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Double]("dup_span_frac"))).toMap
    // 21/22: identical 10-token docs → every 8-token span shared
    assert(rows(21L)._2 === 1.0 && rows(22L)._2 === 1.0)
    assert(rows(21L)._1 === 3L) // 10 tokens → 3 spans
    // 0/1: 40 tokens, one swapped at position 15 → the 8 spans crossing
    // it differ, the other 25 of 33 are shared on both sides
    assert(rows(0L) === ((33L, 0.757576)) && rows(1L) === ((33L, 0.757576)))
    // unique filler docs share nothing
    (100L until 140L).foreach(i => assert(rows(i)._2 === 0.0))
  }

  test("spanScrub: cross-doc hot spans scrubbed, uniques intact, " +
      "short docs untouched, counts reconcile") {
    val rows = Dedup.spanScrub(spark, fixtureDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("n_removed"))).toMap
    // 21/22: identical 10-token docs — every token covered by a shared
    // span → fully scrubbed
    assert(rows(21L) === ((10L, 0L, 10L)), s"got ${rows(21L)}")
    assert(rows(22L) === ((10L, 0L, 10L)))
    // 0/1: 40 tokens with one swap at position 15 — the shared spans
    // cover everything OUTSIDE the 8-span window around the swap...
    // at minimum SOMETHING is removed and SOMETHING kept
    assert(rows(0L)._3 > 0 && rows(0L)._2 > 0)
    assert(rows(0L)._1 === 40L &&
      rows(0L)._2 + rows(0L)._3 === rows(0L)._1)
    // unique fillers: nothing removed
    (100L until 140L).foreach { i =>
      assert(rows(i)._3 === 0L, s"filler $i scrubbed: ${rows(i)}") }
    // every doc reconciles
    rows.values.foreach { case (nt, nk, nr) => assert(nk + nr === nt) }
  }
}
