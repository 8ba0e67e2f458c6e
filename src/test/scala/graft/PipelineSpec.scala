package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, get_json_object}
import graft.pipeline.Backfill
import graft.sources.Jdbc
import graft.operators.Multimodal

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("jdbc options render partitioning + reference-parity defaults") {
    val cfg = Jdbc.JdbcConfig(
      url = "jdbc:postgresql://replica:5432/hyperswitch",
      table = "payment_intent",
      lowerBound = Some("2020-01-01 00:00:00"),
      upperBound = Some("2026-01-01 00:00:00"))
    val o = Jdbc.options(cfg)
    assert(o("fetchsize") == "10000")        // reference batch size
    assert(o("numPartitions") == "5")        // reference parallelism
    assert(o("partitionColumn") == "created_at")
    assert(o("pushDownPredicate") == "true")
    // without bounds no partitioning keys leak in
    val o2 = Jdbc.options(Jdbc.JdbcConfig(url = "u", table = "t"))
    assert(!o2.contains("partitionColumn") && !o2.contains("numPartitions"))
    // credentials are masked in any printable form of the config, but
    // the reader options still receive the revealed value
    val secret = new graft.pipeline.ConfigBootstrap.Secret("hunter2")
    val cfg3 = Jdbc.JdbcConfig(url = "u", table = "t", password = secret)
    assert(!cfg3.toString.contains("hunter2"))
    assert(Jdbc.options(cfg3)("password") == "hunter2")
  }

  test("media features: sha256 matches MessageDigest, stub dims consistent") {
    val r = Multimodal.mediaFeatures(spark, sf).limit(5).collect()
    val texts = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").limit(5).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    r.foreach { row =>
      val bytes = texts(row.getAs[Long]("doc_id")).getBytes("UTF-8")
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(bytes).map("%02x".format(_)).mkString
      assert(row.getAs[String]("sha256") == hex)
      assert(row.getAs[Long]("n_bytes") == bytes.length.toLong)
      assert(row.getAs[Long]("width") == bytes.length % 640)
    }
  }

  test("image decode: PNG round-trip reproduces the synthesized raster exactly") {
    val rows = Multimodal.imageDecode(spark, sf).limit(10).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val w = 4 + id % 5
      val h = 3 + id % 4
      // dims must come from the DECODER, matching the encoded raster
      assert(r.getAs[Long]("width") == w && r.getAs[Long]("height") == h)
      val expected = (0L until w * h).map(i => (id * 31 + i) % 256).sum
      assert(r.getAs[Long]("pixel_sum") == expected,
        s"doc $id: lossy or misaligned codec round-trip")
    }
  }

  test("audio decode: WAV round-trip reproduces the synthesized PCM exactly") {
    val rows = Multimodal.audioDecode(spark, sf).limit(10).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val n = 400 + id % 1600
      // frame count and rate must come from the DECODED header
      assert(r.getAs[Long]("n_samples") == n)
      assert(r.getAs[Long]("sample_rate") == 16000L)
      assert(r.getAs[Long]("duration_ms") == n * 1000 / 16000)
      // signed sample sum over the DECODED little-endian PCM: any
      // header-offset/endianness/width bug shifts or flips this
      val expected = (0L until n).map(i => (id * 31 + i * 7) % 2003 - 1001).sum
      assert(r.getAs[Long]("sample_sum") == expected,
        s"doc $id: lossy or misaligned WAV round-trip")
    }
  }

  test("audio decode: the WAVE writer is chosen by round trip, past a " +
      "provider that refuses the format") {
    import javax.sound.sampled.{AudioFileFormat, AudioInputStream}
    // reports WAVE support; without `out` it refuses the PCM probe the
    // way WaveFloatFileWriter does
    class Fake(out: Option[Array[Byte]])
        extends javax.sound.sampled.spi.AudioFileWriter {
      def getAudioFileTypes: Array[AudioFileFormat.Type] =
        Array(AudioFileFormat.Type.WAVE)
      def getAudioFileTypes(s: AudioInputStream): Array[AudioFileFormat.Type] =
        getAudioFileTypes
      def write(s: AudioInputStream, t: AudioFileFormat.Type,
          o: java.io.OutputStream): Int = out match {
        case Some(b) => o.write(b); b.length
        case None => throw new IllegalArgumentException("PCM_FLOAT only")
      }
      def write(s: AudioInputStream, t: AudioFileFormat.Type,
          f: java.io.File): Int = write(s, t, new java.io.ByteArrayOutputStream)
    }
    val refusing = new Fake(None)
    val second = new Fake(Some("RIFF".getBytes("US-ASCII")))
    val (w, bytes) = Multimodal.waveWriter(Iterator(refusing, second))
    assert(w eq second)
    assert(new String(bytes, "US-ASCII") == "RIFF")
    intercept[IllegalStateException](Multimodal.waveWriter(Iterator(refusing)))
  }

  test("video decode: animated-GIF round-trip demuxes and decodes exactly") {
    val rows = Multimodal.videoDecode(spark, sf).limit(10).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val nf = 2 + id % 4
      val w = 4 + id % 5
      val h = 3 + id % 4
      // frame count must come from the DECODER's container demux
      assert(r.getAs[Long]("n_frames") == nf)
      assert(r.getAs[Long]("width") == w && r.getAs[Long]("height") == h)
      // pixel sums over the DECODED rasters: palette/interlace/stride
      // bugs, dropped frames, or frame reorder all shift these
      def frameSum(f: Long) = (0L until w * h).map(i => (id * 31 + f * 17 + i) % 256).sum
      assert(r.getAs[Long]("pixel_sum") == (0L until nf).map(frameSum).sum)
      assert(r.getAs[Long]("frame0_sum") == frameSum(0))
      assert(r.getAs[Long]("sampled_sum") ==
        (0L until nf).filter(_ % 2 == 0).map(frameSum).sum,
        s"doc $id: lossy or misordered GIF round-trip")
    }
  }

  test("frame sample strides every 4th frame") {
    val rows = Multimodal.frameSample(spark, sf, stride = 4).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val idx = r.getAs[Long]("frame_idx")
      assert(idx % 4 == 0 && idx < r.getAs[Long]("n_frames"))
    }
  }

  test("image phash: grouped variants land at small aHash distance, " +
      "near-dup pairs surface them and every pair verifies") {
    val sigs = Multimodal.imagePhash(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("ahash"), r.getAs[Long]("dhash"))).toMap
    assert(sigs.nonEmpty)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // variants of one group stay perceptually close (the ~14% pixel
    // perturbation moves a few bits); unrelated groups sit far apart
    val g0 = (0L to 3L).filter(sigs.contains).map(sigs(_)._1)
    for (a <- g0; b <- g0) assert(ham(a, b) <= 12,
      "group-0 variants drifted apart in aHash")
    val far = for (g <- 0L to 20L if sigs.contains(4 * g) &&
      sigs.contains(4 * g + 40)) yield
      ham(sigs(4 * g)._1, sigs(4 * g + 40)._1)
    assert(far.count(_ > 12) >= far.size / 2,
      s"cross-group aHash distances collapsed: $far")
    val nd = Multimodal.imageNearDup(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming_a"), r.getAs[Long]("hamming_d")))
    assert(nd.nonEmpty, "no image near-dups at all")
    // every reported pair re-verifies against the signature table, both
    // hamming columns and the banded threshold
    nd.foreach { case (a, b, ha, hd) =>
      assert(a < b && ha <= 3)
      assert(ha == ham(sigs(a)._1, sigs(b)._1).toLong)
      assert(hd == ham(sigs(a)._2, sigs(b)._2).toLong)
    }
    // the intended positives are found: at least one same-group pair
    assert(nd.exists { case (a, b, _, _) => a / 4 == b / 4 })
  }

  test("video phash: per-frame aHash majority holds grouped variants " +
      "close, near-dup pairs re-verify against the signature table") {
    val sigs = Multimodal.videoPhash(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("vhash"), r.getAs[Long]("f0hash"),
          r.getAs[Long]("n_frames"))).toMap
    assert(sigs.nonEmpty)
    // frame count survives the container demux
    sigs.foreach { case (id, (_, _, nf)) =>
      assert(nf == 3 + (id / 4) % 3, s"clip $id lost frames in the demux")
    }
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val g0 = (0L to 3L).filter(sigs.contains).map(sigs(_)._1)
    for (a <- g0; b <- g0) assert(ham(a, b) <= 12,
      "group-0 variants drifted apart in the majority hash")
    val nd = Multimodal.videoNearDup(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming_v"), r.getAs[Long]("hamming_kf")))
    assert(nd.nonEmpty, "no video near-dups at all")
    nd.foreach { case (a, b, hv, hkf) =>
      assert(a < b && hv <= 3)
      assert(hv == ham(sigs(a)._1, sigs(b)._1).toLong)
      assert(hkf == ham(sigs(a)._2, sigs(b)._2).toLong)
    }
    assert(nd.exists { case (a, b, _, _) => a / 4 == b / 4 })
  }

  test("audio fingerprint: grouped variants stay close in the envelope " +
      "hash, near-dup pairs re-verify, decode stats pin the codec") {
    val sigs = Multimodal.audioFingerprint(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("ehash"), r.getAs[Long]("thash"),
          r.getAs[Long]("n_samples"), r.getAs[Long]("energy_total"))).toMap
    assert(sigs.nonEmpty)
    sigs.values.foreach { case (_, _, n, e) =>
      assert(n == 1220L && e > 0L, "WAV round-trip lost samples")
    }
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // variants of one group share the base waveform — the sparse +97
    // perturbation moves a few envelope bits, not the identity
    val g0 = (0L to 3L).filter(sigs.contains).map(sigs(_)._1)
    for (a <- g0; b <- g0) assert(ham(a, b) <= 12,
      "group-0 variants drifted apart in the envelope hash")
    val nd = Multimodal.audioNearDup(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming_e"), r.getAs[Long]("hamming_t")))
    assert(nd.nonEmpty, "no audio near-dups at all")
    nd.foreach { case (a, b, he, ht) =>
      assert(a < b && he <= 3)
      assert(he == ham(sigs(a)._1, sigs(b)._1).toLong)
      assert(ht == ham(sigs(a)._2, sigs(b)._2).toLong)
    }
    // the intended positives are found: at least one same-group pair
    assert(nd.exists { case (a, b, _, _) => a / 4 == b / 4 })
  }

  test("incremental backfill: first run emits all, idle re-run emits zero") {
    val state = java.nio.file.Files.createTempDirectory("hwm").toString
    val sf = TestSpark.sf
    val first = graft.pipeline.Backfill.planIncremental(spark, sf, state)
    val full = graft.pipeline.Backfill.run(spark, sf)
    assert(first.feed.count() == full.count())
    // planning must NOT advance the mark: an uncommitted (= failed-sink)
    // run leaves the next plan re-emitting everything — no data loss
    val retry = graft.pipeline.Backfill.planIncremental(spark, sf, state)
    assert(retry.feed.count() == full.count())
    retry.commit()
    // committed: no new data arrived, so the next plan emits nothing
    val second = graft.pipeline.Backfill.planIncremental(spark, sf, state)
    assert(second.feed.count() == 0)
    second.commit()
    // and the mark survives the empty increment's commit
    val third = graft.pipeline.Backfill.planIncremental(spark, sf, state)
    assert(third.feed.count() == 0)
  }

  test("multi-tenant routing fails loudly on an unmapped tenant, not silently drops") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val B = graft.pipeline.Backfill
    val good = B.runMultiTenant(spark, sf,
      Seq(B.Tenant("a", "t-a"), B.Tenant("b", "t-b")),
      e => when(col(e.merchantCol) % 2 === 0, "a").otherwise("b"))
    assert(good.count() == B.run(spark, sf).count()) // nothing dropped
    val bad = B.runMultiTenant(spark, sf,
      Seq(B.Tenant("a", "t-a")), // "b" missing from the routing table
      e => when(col(e.merchantCol) % 2 === 0, "a").otherwise("b"))
    // collect(), not count(): count prunes the topic column and with it
    // the routing check — a real sink write evaluates every column
    val err = intercept[Exception] { bad.collect() }
    assert(err.getMessage.contains("unmapped tenant"), err.getMessage)
  }

  test("incremental HWM crash recovery: .next survives a lost state dir") {
    val state = java.nio.file.Files.createTempDirectory("hwm3").toString
    val sf = TestSpark.sf
    val first = graft.pipeline.Backfill.planIncremental(spark, sf, state)
    first.feed.count(); first.commit()
    // simulate a crash between delete and rename: state exists only as .next
    val fs = java.nio.file.Paths.get(state)
    val cur = fs.resolve("hwm.parquet")
    val next = fs.resolve("hwm.parquet.next")
    java.nio.file.Files.move(cur, next)
    val recovered = graft.pipeline.Backfill.planIncremental(spark, sf, state)
    assert(recovered.feed.count() == 0) // mark recovered, no re-emit of history
  }

  test("incremental backfill: sink write lands before the mark advances") {
    val state = java.nio.file.Files.createTempDirectory("hwm2").toString
    val sink = java.nio.file.Files.createTempDirectory("sink2").toString
    val sf = TestSpark.sf
    val n = graft.pipeline.Backfill.runIncremental(spark, sf, state, sink)
    assert(n == graft.pipeline.Backfill.run(spark, sf).count())
    assert(spark.read.parquet(sink).count() == n)
    // re-run: mark advanced only after the durable write, nothing new
    val n2 = graft.pipeline.Backfill.runIncremental(spark, sf, state, sink)
    assert(n2 == 0)
    assert(spark.read.parquet(sink).count() == n) // no duplicates either
  }

  test("incremental run cost is O(increment): the sink is never re-read") {
    import org.apache.spark.sql.functions.lit
    val state = java.nio.file.Files.createTempDirectory("hwm4").toString
    val sink = java.nio.file.Files.createTempDirectory("sink4").toString
    val sf = TestSpark.sf
    val n = graft.pipeline.Backfill.runIncremental(spark, sf, state, sink)
    assert(n > 0)
    // grow the sink out-of-band so a hidden O(sink) scan is visible in
    // the read metrics (the old implementation counted the whole sink
    // before AND after the append — 2× these rows)
    val junk = 20L * n
    spark.range(junk)
      .select(lit("junk").as("entity"), lit("k").as("key"),
        lit("public").as("tenant"), lit("{}").as("value"))
      .write.mode("append").parquet(sink)
    val (n2, m2) = graft.pipeline.RunMetrics.instrument(spark) {
      graft.pipeline.Backfill.runIncremental(spark, sf, state, sink)
    }
    assert(n2 == 0)
    // everything the second run read (source planning + the empty feed
    // + hwm state) is far below the junk row count — the sink was not
    // scanned; the old before/after counting would have read >= 2*junk
    assert(m2.inputRecords < junk,
      s"read ${m2.inputRecords} rows — sink (${junk} junk rows) was scanned")
  }

  test("jdbc source composes into Backfill.run end-to-end (embedded Derby)") {
    import org.apache.spark.sql.functions.col
    // a REAL database for the production seam: Derby ships with Spark,
    // runs embedded in-memory — so the JDBC reader is exercised live
    // (connect, schema inference, scan), not just at the option level
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    val rows = Tables.load(spark, sf, "orders")
      .orderBy("o_orderkey").limit(25).collect()
    try {
      val st = conn.createStatement()
      st.executeUpdate("""CREATE TABLE orders_j (
        o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR(4),
        o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority VARCHAR(20))""")
      val ps = conn.prepareStatement("INSERT INTO orders_j VALUES (?,?,?,?,?,?)")
      rows.foreach { r =>
        ps.setLong(1, r.getAs[Long]("o_orderkey"))
        ps.setLong(2, r.getAs[Long]("o_custkey"))
        ps.setString(3, r.getAs[String]("o_orderstatus"))
        ps.setDouble(4, r.getAs[Double]("o_totalprice"))
        ps.setTimestamp(5, java.sql.Timestamp.valueOf(
          r.getAs[java.time.LocalDateTime]("o_orderdate")))
        ps.setString(6, r.getAs[String]("o_orderpriority"))
        ps.executeUpdate()
      }
      val B = graft.pipeline.Backfill
      val ordersEntity = B.defaultEntities.find(_.name == "orders").get
      val cfg = B.Config(
        entities = Seq(ordersEntity),
        source = (s, _, _) => Jdbc.load(s, Jdbc.JdbcConfig(
          url = url, table = "orders_j", partitionColumn = None)))
      val viaJdbc = B.run(spark, sf, cfg)
        .orderBy("key").collect()
      // byte-identical envelopes vs the parquet-sourced feed on the
      // same 25 orders — the seam changes the source, nothing else
      val keys = rows.map(_.getAs[Long]("o_orderkey").toString).toSet
      val viaParquet = B.run(spark, sf, B.Config(entities = Seq(ordersEntity)))
        .filter(col("key").isin(keys.toSeq: _*))
        .orderBy("key").collect()
      assert(viaJdbc.length == 25)
      assert(viaJdbc.map(_.toString).toSeq == viaParquet.map(_.toString).toSeq)
    } finally conn.close()
  }

  test("merchant IN-list compiles into the JDBC query, not a post-filter") {
    // the reference hand-renders its merchant list into the WHERE
    // clause (payment_intent.rs:63-64); Spark must do the same through
    // predicate pushdown — a short merchant list against a 100 TB
    // replica that arrives as a full-range scan + post-filter is the
    // difference between milliseconds and hours
    val url = "jdbc:derby:memory:graftjdbcin;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE t_in (MERCHANT_ID BIGINT, AMOUNT BIGINT)")
      val ps = conn.prepareStatement("INSERT INTO t_in VALUES (?,?)")
      (0 until 40).foreach { i =>
        ps.setLong(1, (i % 10).toLong); ps.setLong(2, i.toLong)
        ps.executeUpdate()
      }
      import org.apache.spark.sql.functions.col
      val df = Jdbc.load(spark, Jdbc.JdbcConfig(
          url = url, table = "t_in", partitionColumn = None))
        .filter(col("MERCHANT_ID").isin(1L, 3L, 5L))
      // the plan pin: the In filter is HANDLED BY the jdbc source (the
      // scan's PushedFilters carries it), so the generated SQL includes
      // the IN — not a Spark-side Filter over a full scan
      val scan = df.queryExecution.executedPlan.toString
      assert(scan.contains("PushedFilters") && scan.contains("MERCHANT_ID"),
        s"no pushed filters on the JDBC scan:\n$scan")
      assert("In\\(.?MERCHANT_ID".r.findFirstIn(scan).isDefined,
        s"merchant IN-list not pushed into the JDBC scan:\n$scan")
      // and it executes correctly against the live database
      assert(df.count() == 12)
      assert(df.select("MERCHANT_ID").distinct().collect()
        .map(_.getLong(0)).toSet == Set(1L, 3L, 5L))
    } finally conn.close()
  }

  test("partitioned jdbc scan: numPartitions live range splits, same rows") {
    // the S1 concurrency claim EXECUTED, not just rendered as options:
    // a partitionColumn'd read against a real database must fan the
    // scan out into numPartitions range-bounded queries, and the union
    // of the splits must be exactly the table
    val url = "jdbc:derby:memory:graftjdbcpart;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE t_part (id BIGINT, v VARCHAR(16))")
      val ps = conn.prepareStatement("INSERT INTO t_part VALUES (?,?)")
      (0 until 100).foreach { i =>
        ps.setLong(1, i.toLong); ps.setString(2, s"v$i"); ps.executeUpdate()
      }
      val df = Jdbc.load(spark, Jdbc.JdbcConfig(
        url = url, table = "t_part",
        partitionColumn = Some("id"), lowerBound = Some("0"),
        upperBound = Some("100"), numPartitions = 4))
      assert(df.rdd.getNumPartitions == 4,
        s"expected 4 JDBC range partitions, got ${df.rdd.getNumPartitions}")
      // each split carries real rows — 4 concurrent connections would
      // each do ~1/4 of the work, not one fat partition + 3 empties
      val perPart = df.rdd.mapPartitions(it => Iterator(it.size)).collect()
      assert(perPart.count(_ > 0) == 4, s"split sizes: ${perPart.mkString(",")}")
      assert(perPart.sum == 100)
      val got = df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      assert(got.toSeq == (0L until 100L).map(i => (i, s"v$i")))
    } finally conn.close()
  }

  import PipelineSpec.{window, windowEntity}

  private def sorted(feed: DataFrame): Seq[String] =
    feed.collect().map(_.toString).toSeq.sorted

  private def windowed(start: String, end: String,
      src: => DataFrame): Backfill.Config =
    Backfill.Config(start = Some(start), end = Some(end),
      entities = Seq(windowEntity), source = (_, _, _) => src)

  test("jdbc backfill reads only the strides its window touches, same rows") {
    // 8 strides of 45.75 days over 2024; the first boundary is
    // 2024-02-15 18:00, which the second window straddles
    val cases = Seq(
      ("2024-03-01", "2024-03-07", 1),
      ("2024-02-01", "2024-03-20", 2),
      ("2023-06-01", "2025-06-01", 8),
      ("2026-01-01", "2026-02-01", 1))
    cases.foreach { case (start, end, parts) =>
      val feed = Backfill.run(spark, sf, windowed(start, end, window()))
      // a transformed source is never restricted: the full 8-stride read
      val full = Backfill.run(spark, sf,
        windowed(start, end, window().select("*")))
      assert(full.rdd.getNumPartitions == 8)
      assert(feed.rdd.getNumPartitions == parts, s"$start..$end")
      val rows = sorted(feed)
      assert(rows == sorted(full), s"$start..$end")
      assert(rows.isEmpty == start.startsWith("2026"), s"$start..$end")
      assert(Backfill.feedChecksum(feed).collect().toSeq ==
        Backfill.feedChecksum(full).collect().toSeq, s"$start..$end")
    }
  }

  test("jdbc backfill without a window keeps every stride and NULL-time rows") {
    val feed = Backfill.run(spark, sf, Backfill.Config(
      entities = Seq(windowEntity), source = (_, _, _) => window()))
    assert(feed.rdd.getNumPartitions == 8)
    assert(feed.count() == PipelineSpec.WindowRows)
    assert(feed.filter(get_json_object(col("value"), "$.TS").isNull).count() ==
      PipelineSpec.NullTimeRows)
  }

  test("Jdbc.within leaves other sources' partitioning unchanged") {
    val noColumn = Jdbc.load(spark, Jdbc.JdbcConfig(url = PipelineSpec.windowUrl,
      table = "t_win", partitionColumn = None))
    val otherColumn = Jdbc.load(spark, Jdbc.JdbcConfig(
      url = PipelineSpec.windowUrl, table = "t_win", partitionColumn = Some("ID"),
      lowerBound = Some("0"), upperBound = Some("400"), numPartitions = 8))
    val transformed = window().filter(col("V").isNotNull)
    Seq(noColumn -> 1, otherColumn -> 8, transformed -> 8).foreach {
      case (src, parts) =>
        assert(Jdbc.within(src, "ts", Some("2024-03-01"), Some("2024-03-07")) eq src)
        val feed = Backfill.run(spark, sf, windowed("2024-03-01", "2024-03-07", src))
        assert(feed.rdd.getNumPartitions == parts)
        assert(feed.count() == 6)
    }
  }

  test("merchant set as one InSet returns isin's rows: BIGINT, INTEGER, " +
      "empty and 5,000 ids") {
    // ids past INT range must match nothing on the INTEGER column (a
    // narrowing cast would turn 2^32 + 3 into 3)
    val big = (0L until 4998L).map(_ * 7) ++ Seq((1L << 32) + 3, -1L)
    def feed(merchantCol: String, ids: Seq[Long], inSet: Boolean) = {
      val e = windowEntity.copy(merchantCol = merchantCol)
      Backfill.run(spark, sf, Backfill.Config(
        merchantIds = if (inSet) Some(ids) else None, entities = Seq(e),
        source = (_, _, _) =>
          if (inSet) window() else window().filter(col(merchantCol).isin(ids: _*))))
    }
    for (c <- Seq("m_id", "m_int"); ids <- Seq(Seq(3L, 5L, (1L << 32) + 3),
        Seq.empty[Long], big)) {
      val got = sorted(feed(c, ids, inSet = true))
      assert(got == sorted(feed(c, ids, inSet = false)), s"$c, ${ids.size} ids")
      assert(got.nonEmpty == ids.nonEmpty)
    }
    // the 5,000-id set pushes down as the same In(...) as isin's (the
    // scan renders the values sorted, so set order cannot differ)
    def pushed(df: DataFrame) = "PushedFilters: .*, ReadSchema".r
      .findFirstIn(df.queryExecution.executedPlan.toString)
    val set = pushed(feed("m_id", big, inSet = true))
    assert(set.exists(_.contains("In(M_ID")), set)
    assert(set == pushed(feed("m_id", big, inSet = false)))
  }

  test("compactRun ≡ compactFeed(run): per-entity restructure is row-identical") {
    // r17 optimization pin: compactRun splits the aggregation per entity
    // and pre-spreads small scans by the key string; the rows (and the
    // group counts) must be exactly those of the naive shape. Also pins
    // the plan claim: no exchange may carry the envelope `value` column
    // (the JSON is built after its rows are already co-located).
    val B = graft.pipeline.Backfill
    val naive = B.compactFeed(B.run(spark, sf))
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    val opt = B.compactRun(spark, sf)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(opt.length == naive.length)
    assert(opt.toSeq == naive.toSeq)
    val plan = B.compactRun(spark, sf).queryExecution.executedPlan.toString
    val exchangesWithValue = plan.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && l.contains("value#")).toSeq
    assert(exchangesWithValue.isEmpty,
      s"envelope JSON must not be shuffled: $exchangesWithValue")
  }
}

object PipelineSpec {
  val NullTimeRows = 5L
  val WindowRows: Long = 400L + NullTimeRows

  /** An in-memory Derby table of one row a day from 2023-12-20 to
    * 2025-01-22 (so some rows lie outside the 2024 partition span) at a
    * day-varying hour, plus NULL-time rows; merchants `i % 37` as
    * BIGINT and INTEGER. */
  lazy val windowUrl: String = {
    val url = "jdbc:derby:memory:graftjdbcwin;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().executeUpdate("""CREATE TABLE t_win (ID BIGINT,
        M_ID BIGINT, M_INT INT, TS TIMESTAMP, V VARCHAR(16))""")
      val ps = conn.prepareStatement("INSERT INTO t_win VALUES (?,?,?,?,?)")
      val first = java.time.LocalDateTime.of(2023, 12, 20, 0, 0)
      (0L until WindowRows).foreach { i =>
        ps.setLong(1, i); ps.setLong(2, i % 37); ps.setInt(3, (i % 37).toInt)
        if (i < 400) ps.setTimestamp(4,
          java.sql.Timestamp.valueOf(first.plusDays(i).plusHours(i % 24)))
        else ps.setNull(4, java.sql.Types.TIMESTAMP)
        ps.setString(5, s"v$i")
        ps.addBatch()
      }
      ps.executeBatch()
    } finally conn.close()
    url
  }

  /** `t_win` partitioned `parts` ways on TS over 2024. */
  def window(parts: Int = 8): DataFrame =
    Jdbc.load(TestSpark.spark, Jdbc.JdbcConfig(url = windowUrl, table = "t_win",
      partitionColumn = Some("TS"), lowerBound = Some("2024-01-01 00:00:00"),
      upperBound = Some("2025-01-01 00:00:00"), numPartitions = parts))

  /** A backfill entity over `t_win`. It names its columns in lower case
    * while Derby's catalog holds them in upper case, so every lookup
    * must be case-insensitive. */
  val windowEntity: Backfill.Entity = Backfill.Entity("win", "t_win", "id",
    "m_id", "ts", Seq("ID", "M_ID", "TS", "V"))
}
