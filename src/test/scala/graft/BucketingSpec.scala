package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.graftshim.Shim
import graft.sources.Bucketing

class BucketingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("bucketed band index: increment probe exchange-free on corpus side") {
    import org.apache.spark.sql.functions.col
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val table = Bucketing.ensureCorpusBandIndex(spark, sf)
      val newBands = graft.operators.Dedup.minhashCappedBands(spark, sf)
        .filter(col("doc_id") % 10 === 0)
      val probe = Bucketing.incrementalProbeColocated(spark, newBands, table)
      val plan = Shim.executedPlan(probe).toString
      // at most ONE shuffle — the (small) new side aligning to the
      // corpus index's bucketing; the corpus side itself must not move
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(shuffles <= 1, s"corpus side reshuffled:\n$plan")
      // and the bucketed probe finds the same candidates as the direct join
      val got = probe.distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val corpus = graft.operators.Dedup.minhashCappedBands(spark, sf)
        .filter(col("doc_id") % 10 =!= 0)
        .withColumnRenamed("doc_id", "corpus_id")
      val want = newBands.join(corpus, Seq("band_id", "band_key"))
        .select("doc_id", "corpus_id").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.filter { case (n, c) => c % 10 != 0 } == want)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("semantic dedup sweep over the maintained index: zero hash exchange") {
    import org.apache.spark.sql.functions.col
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val S = graft.operators.Similarity
      val pairs = S.semanticNearDupMaintained(spark, sf)
      val plan = Shim.executedPlan(pairs).toString
      // the self-join keys on the bucket column: both sides read
      // colocated — the only repartitioning allowed is the final
      // presentation range-sort
      val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(hashEx === 0, s"bucketed self-join reshuffled:\n$plan")
      // and it is the SAME pair set as the memo-based sweep
      val got = pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = S.semanticNearDupPairs(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, "maintained-index sweep diverged from memo sweep")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
  }

  test("appendToBandIndex: increment N+1 sees increment N, no index rebuild") {
    import org.apache.spark.sql.functions.col
    val bands = graft.operators.Dedup.minhashCappedBands(spark, sf)
    val table = "corpus_bands_append_t"
    try {
      // corpus = %10 >= 2; increment A = %10 == 0; increment B = %10 == 1
      Bucketing.ensureBandIndexFrom(spark, table,
        bands.filter(col("doc_id") % 10 >= 2))
      val bandsA = bands.filter(col("doc_id") % 10 === 0)
      val bandsB = bands.filter(col("doc_id") % 10 === 1)
      // before the append, B's probe can never hit an A doc
      val before = Bucketing.incrementalProbeColocated(spark, bandsB, table)
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(before.forall { case (_, c) => c % 10 >= 2 })
      // snapshot the index files, append A, snapshot again: the append
      // must only ADD files — no rewrite of the existing index
      def files(): Set[(String, Long)] = {
        val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $table")
          .filter(col("col_name") === "Location")
          .collect()(0).getString(1).stripPrefix("file:")
        val dir = new java.io.File(loc)
        dir.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length())).toSet
      }
      val preFiles = files()
      Bucketing.append(spark, table, bandsA)
      val postFiles = files()
      assert(preFiles.subsetOf(postFiles),
        s"append rewrote existing index files: ${preFiles.diff(postFiles)}")
      assert(postFiles.size > preFiles.size, "append added no files")
      // after the append, B's probe finds A docs as corpus — exactly
      // the direct-join candidate set against (corpus ∪ A)
      val after = Bucketing.incrementalProbeColocated(spark, bandsB, table)
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = bandsB.join(
          bands.filter(col("doc_id") % 10 =!= 1)
            .withColumnRenamed("doc_id", "corpus_id"),
          Seq("band_id", "band_key"))
        .select("doc_id", "corpus_id").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after == want)
      assert(after.exists { case (_, c) => c % 10 == 0 },
        "no appended-increment doc ever surfaced as corpus")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("maintained postings index: append preserves files, query bucket-prunes") {
    import org.apache.spark.sql.functions.col
    val posts = graft.operators.Retrieval.postingsTable(spark, sf)
    val table = "postings_append_t"
    try {
      Bucketing.ensureBucketedTable(spark, table,
        posts.filter(col("doc_id") % 10 =!= 0), Seq("token"))()
      def files(): Set[(String, Long)] = {
        val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $table")
          .filter(col("col_name") === "Location")
          .collect()(0).getString(1).stripPrefix("file:")
        new java.io.File(loc).listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length())).toSet
      }
      val preFiles = files()
      Bucketing.append(spark, table, posts.filter(col("doc_id") % 10 === 0))
      val postFiles = files()
      assert(preFiles.subsetOf(postFiles),
        s"append rewrote existing index files: ${preFiles.diff(postFiles)}")
      assert(postFiles.size > preFiles.size, "append added no files")
      // the maintained table IS the full postings set
      val got = spark.table(table).count()
      assert(got === posts.count())
      // a query-term filter opens only the matching token buckets; the
      // aggregate on the bucket column (BM25's dfreq shape) keeps the
      // scan bucketed (a bare filter alone gets de-bucketed by the
      // planner as "not useful") AND exchange-free
      val probe = spark.table(table)
        .filter(col("token").isin("hash", "join", "scan"))
        .groupBy("token")
        .agg(org.apache.spark.sql.functions.count(col("doc_id")).as("df"))
      val plan = Shim.executedPlan(probe).toString
      assert(plan.contains("SelectedBucketsCount"),
        s"token filter did not bucket-prune:\n$plan")
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan).get
      assert(sel.group(1).toInt < sel.group(2).toInt,
        s"pruning selected every bucket:\n$plan")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("salted postings: hot token spreads over buckets, serve prunes + agrees") {
    import org.apache.spark.sql.functions._
    import graft.sources.IndexChurn
    val salted = "salted_post_t"
    val plain = "plain_post_t"
    try {
      // Zipf-ish fixture: stopword "the" in all 2000 docs (40% of the
      // index), 200 cold tokens with 10 docs each
      val posts = spark.range(2000)
        .select(lit("the").as("token"), col("id").as("doc_id"),
          lit(5L).as("tf"))
        .union(spark.range(2000)
          .select(concat(lit("t"), col("id") % 200).as("token"),
            col("id").as("doc_id"), lit(1L).as("tf")))
      Bucketing.ensureBucketedTable(spark, salted,
        Bucketing.hotSharded(spark, salted, posts, hotDf = 100),
        Seq("shard_key"))()
      posts.write.mode("overwrite")
        .bucketBy(8, "token").sortBy("token").saveAsTable(plain)
      // only the stopword crossed the df threshold
      assert(spark.table(s"${salted}_hot").collect()
        .map(_.getString(0)).toSeq === Seq("the"))
      def bucketCounts(table: String, keyCol: String): Seq[Long] =
        spark.table(table)
          .withColumn("b", IndexChurn.bucketIdExpr(Seq(col(keyCol)), 8))
          .groupBy("b").count().collect().map(_.getLong(1)).toSeq
      // unsalted: one bucket swallows the whole stopword list
      assert(bucketCounts(plain, "token").max >= 2000,
        "fixture lost its skew — test is vacuous")
      // salted: no bucket holds more than ~1/salts of the hot list plus
      // its cold share (2000/8 + 2000/8 = 500 expected; 2x headroom)
      val saltedMax = bucketCounts(salted, "shard_key").max
      assert(saltedMax < 1000, s"salting left a mega-bucket: $saltedMax rows")
      // the hot token's shards genuinely span multiple buckets
      val hotBuckets = spark.table(salted).filter(col("token") === "the")
        .select(IndexChurn.bucketIdExpr(Seq(col("shard_key")), 8).as("b"))
        .distinct().count()
      assert(hotBuckets >= 3, s"hot shards landed in only $hotBuckets buckets")
      // serve-path equivalence: hot + cold mixed query == direct filter
      val got = graft.sources.Bucketing
        .saltedPostings(spark, salted, Seq("the", "t5"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val want = posts.filter(col("token").isin("the", "t5"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want)
      // a cold-token query still prunes to a strict bucket subset. The
      // probe aggregates on the bucket column first (per-shard partial
      // df, rolled up to token downstream — the two-level shape a
      // salted index serves df with); an aggregate on a non-bucket
      // column alone makes the planner discard the bucketed scan and
      // with it the pruning, as in the maintained-index test
      val probe = spark.table(salted)
        .filter(col("shard_key").isin("t5"))
        .groupBy("shard_key").agg(count(col("doc_id")).as("df"))
      val plan = Shim.executedPlan(probe).toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan)
      assert(sel.isDefined, s"cold serve did not bucket-prune:\n$plan")
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt)
      // append path: new postings adopt the frozen hot policy, serve
      // sees the union — hot AND cold rows land under the right keys
      val newPosts = spark.range(2000, 2100)
        .select(lit("the").as("token"), col("id").as("doc_id"),
          lit(2L).as("tf"))
        .union(spark.range(2000, 2100)
          .select(lit("t5").as("token"), col("id").as("doc_id"),
            lit(1L).as("tf")))
      Bucketing.append(spark, salted,
        Bucketing.saltedShards(spark, salted, newPosts))
      val got2 = graft.sources.Bucketing
        .saltedPostings(spark, salted, Seq("the", "t5"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val want2 = posts.union(newPosts)
        .filter(col("token").isin("the", "t5"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got2 === want2, "appended postings not served under salt keys")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $salted")
      spark.sql(s"DROP TABLE IF EXISTS ${salted}_hot")
      spark.sql(s"DROP TABLE IF EXISTS $plain")
    }
  }

  test("salted serve: a cold token literally named '<hot>#<digit>' is " +
      "never served as the hot token's shard (exact token re-filter)") {
    import org.apache.spark.sql.functions._
    val salted = "salted_hash_t"
    try {
      // hot token "the" shards to the#0..the#7; the ADVERSARIAL cold
      // token is literally "the#3" — its shard key IS its own name,
      // byte-identical to one of the hot token's shard keys (the
      // tokenizer is whitespace-split, so '#' inside tokens is legal)
      val posts = spark.range(2000)
        .select(lit("the").as("token"), col("id").as("doc_id"),
          lit(5L).as("tf"))
        .union(spark.range(9000, 9010)
          .select(lit("the#3").as("token"), col("id").as("doc_id"),
            lit(1L).as("tf")))
      Bucketing.ensureBucketedTable(spark, salted,
        Bucketing.hotSharded(spark, salted, posts, hotDf = 100),
        Seq("shard_key"))()
      // serving the hot token must NOT pick up the impostor's postings
      val hotServe = graft.sources.Bucketing
        .saltedPostings(spark, salted, Seq("the"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(hotServe.forall(_._1 == "the"),
        s"foreign token served as hot shard: $hotServe")
      assert(hotServe.size == 2000)
      // and the impostor itself serves exactly its own rows
      val coldServe = graft.sources.Bucketing
        .saltedPostings(spark, salted, Seq("the#3"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(coldServe === (9000L until 9010L).map(("the#3", _)).toSet)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $salted")
      spark.sql(s"DROP TABLE IF EXISTS ${salted}_hot")
    }
  }

  test("ensureBucketedTable crash window: partial __building leftover is discarded") {
    import org.apache.spark.sql.functions.col
    val posts = graft.operators.Retrieval.postingsTable(spark, sf)
    // two builds: the maintained fold (corpus slice, then the increment
    // appended inside the guard) and the salted build (hot companion
    // written, rows shard-keyed under it)
    val builds = Seq[(String, String => Unit)](
      "postings_crash_t" -> { t =>
        Bucketing.ensureBucketedTable(spark, t,
            posts.filter(col("doc_id") % 10 =!= 0), Seq("token"),
            Some("fp-crash")) { tmp =>
          Bucketing.append(spark, tmp, posts.filter(col("doc_id") % 10 === 0))
        }
      },
      "salted_crash_t" -> { t =>
        Bucketing.ensureBucketedTable(spark, t,
          Bucketing.hotSharded(spark, t, posts, hotDf = 10), Seq("shard_key"),
          Some("fp-crash"))()
      })
    for ((table, build) <- builds) {
      val tmp = s"${table}__building"
      try {
        // simulate the crash: the build committed the corpus slice under
        // the temp name but the JVM died before the append + rename —
        // nothing exists under the final name
        posts.filter(col("doc_id") % 10 =!= 0)
          .write.mode("overwrite").bucketBy(8, "token").sortBy("token")
          .saveAsTable(tmp)
        assert(!spark.catalog.tableExists(table))
        // the next ensure call must not adopt the partial temp table: it
        // rebuilds from scratch and only the complete index gets the
        // final name, fingerprint already stamped
        build(table)
        assert(spark.catalog.tableExists(table))
        assert(!spark.catalog.tableExists(tmp), "temp table outlived the rename")
        assert(Shim.catalogTable(spark, table).properties
          .get(Bucketing.FingerprintProp).contains("fp-crash"),
          s"$table exists without its fingerprint")
        assert(spark.table(table).count() === posts.count(),
          s"healed $table is missing rows — partial build was served")
      } finally {
        Seq(table, tmp, s"${table}_hot")
          .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      }
    }
  }

  test("append takes column order and bucket spec from the catalog") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name}
    import graft.sources.IndexChurn
    val table = "append_spec_t"
    try {
      // 4 buckets on doc_id — neither the module's count nor a token
      // bucketing — and a column order the appended frame does not share
      Seq((1L, "t1", 1L)).toDF("doc_id", "token", "tf")
        .write.mode("overwrite").bucketBy(4, "doc_id").sortBy("doc_id")
        .saveAsTable(table)
      Bucketing.append(spark, table, (2L to 200L)
        .map(i => (s"t${i % 7}", i, i % 3)).toDF("token", "doc_id", "tf"))
      assert(IndexChurn.bucketCountOf(spark, table) === 4)
      val rows = spark.table(table)
        .select(col("doc_id"), col("token"), col("tf"),
          IndexChurn.bucketIdExpr(Seq(col("doc_id")), 4).as("want"),
          input_file_name().as("file"))
        .collect()
      assert(rows.length === 200)
      rows.foreach { r =>
        val id = r.getLong(0)
        assert((r.getString(1), r.getLong(2)) === ((s"t${id % 7}", id % 3)))
        val got = IndexChurn.bucketOfFile(
          new org.apache.hadoop.fs.Path(r.getString(4)).getName)
        assert(got.contains(r.getInt(3)),
          s"doc $id landed in bucket $got, bucketIdExpr predicts ${r.getInt(3)}")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("source fingerprint: in-place dataset rewrite rebuilds the index; " +
      "unchanged source serves the existing build") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("fpr").toString
    def writeDocs(n: Int): Unit =
      spark.range(n).select(
        col("id").as("doc_id"),
        concat(lit("alpha bravo charlie doc "), col("id")).as("text"),
        lit("en").as("lang"), lit("web").as("source"),
        lit(30L).as("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeDocs(40)
    val table = Bucketing.ensureMaintainedPostingsIndex(spark, dir)
    try {
      assert(spark.table(table).select("doc_id").distinct().count() == 40)
      // unchanged source → the SAME build is served, not rebuilt: the
      // stored fingerprint matches, so the managed location's files are
      // untouched by the second ensure call
      val loc = new java.io.File(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table)).location.toString))
      def files = loc.listFiles().map(f => (f.getName, f.lastModified)).toSet
      val before = files
      assert(Bucketing.ensureMaintainedPostingsIndex(spark, dir) == table)
      assert(files == before, "unchanged source triggered a rebuild")
      // the stale case the verdict flagged: a persistent catalog serving
      // an index of a dataset that was regenerated at the same path —
      // the fingerprint mismatch must drop + rebuild, and the whole
      // derived chain (Tables file-index memo, Memo postings) must see
      // the new bytes too, or the "rebuild" would re-index dead files
      writeDocs(70)
      assert(Bucketing.ensureMaintainedPostingsIndex(spark, dir) == table)
      assert(spark.table(table).select("doc_id").distinct().count() == 70,
        "stale index served after in-place source rewrite")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
