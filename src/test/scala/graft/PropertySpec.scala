package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{TextFunctions => T, Vectors => V}

/** Property-based coverage (SURVEY.md §5.3): pagination equivalence,
  * dedup idempotence, cosine symmetry/range. */
class PropertySpec extends AnyFunSuite {
  /** Raw-scalacheck sampling (no scalatestplus bridge in the offline
    * dependency set). */
  private def forSamples[A](g: Gen[A], n: Int)(f: A => Unit): Unit = {
    var done = 0
    var tries = 0
    while (done < n && tries < n * 20) {
      g.sample.foreach { a => f(a); done += 1 }
      tries += 1
    }
    assert(done == n, s"only generated $done/$n samples")
  }
  lazy val spark = TestSpark.spark

  private val vecGen: Gen[List[Double]] =
    Gen.listOfN(16, Gen.chooseNum(-10.0, 10.0))
      .suchThat(v => v.exists(math.abs(_) > 1e-9))

  test("top_k_by_score == row_number window replay on random groups, " +
      "any partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val gen = Gen.listOfN(300, Gen.zip(
      Gen.chooseNum(0L, 11L),             // group
      Gen.chooseNum(-5.0, 5.0),           // score (collisions likely at
      Gen.chooseNum(0L, 400L)))           //   1dp below) and ids that repeat
      .map(_.map { case (g, s, id) => (g, math.rint(s * 10) / 10, id) })
    forSamples(gen, 5) { rows =>
      val df = rows.toDF("grp", "score", "id")
        .repartition(7)                   // arrival order ≠ rank order
      val got = df.groupBy("grp")
        .agg(graft.functions.TopK.top_k_by_score(
          struct(col("score"), col("id")), 4).as("nn"))
        .select(col("grp"), posexplode(col("nn")).as(Seq("pos", "s")))
        .select(col("grp"), (col("pos") + 1).as("rk"),
          col("s.score").as("score"), col("s.id").as("id"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
          r.getLong(3))).toSet
      val w = Window.partitionBy("grp").orderBy(col("score").desc, col("id"))
      val want = df.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 4)
        .select("grp", "rk", "score", "id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
          r.getLong(3))).toSet
      assert(got == want, "aggregate diverged from the window replay")
    }
  }

  test("RankCut.topFlag == the contract replay on random tie-heavy, " +
      "null-laced, skewed groups") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // groups incl NULL, scores rounded to 0.2 steps (heavy ties), some
    // null scores, skew (group 0 oversampled), UNIQUE ids via index —
    // RankCut's bucket bound assumes id uniqueness like the operators'
    // key columns. Id SPACING is sampled per replay: dense (1, 3) ids
    // pack several tied rows into one ≤2^3-wide boundary bucket (the
    // multi-row in-bucket ranking path), sparse (37) leaves buckets
    // near-singleton — both shapes must satisfy the contract.
    val gen = Gen.zip(Gen.oneOf(1L, 3L, 37L), Gen.listOfN(400, Gen.zip(
      Gen.option(Gen.frequency(3 -> Gen.const(0L), 1 -> Gen.chooseNum(1L, 5L))),
      Gen.chooseNum(-2.0, 2.0), Gen.chooseNum(0, 36))))
      .map { case (spacing, xs) =>
        xs.zipWithIndex.map { case ((g, s, nullMark), i) =>
          (g, if (nullMark == 1) None else Some(math.rint(s * 5) / 5),
            i.toLong * spacing + 1000) } }
    forSamples(gen, 6) { rows =>
      val df = rows.toDF("grp", "score", "id").repartition(7)
      for (frac <- Seq(0.3, 0.95)) {
        val got = graft.operators.RankCut.topFlag(df, "grp", "score", "id",
            n => ceil(n * lit(frac)), "flag", bucketShift = 3)
          .collect().map(r => (Option(r.get(0)), r.getLong(2)) ->
            r.getBoolean(3)).toMap
        // the contract: rank over (score DESC NULLS LAST, id) within
        // the group, top min(ceil(frac·n), non-null count) — null
        // scores are NEVER top, and when k exceeds the non-null count
        // every non-null row is
        val w = Window.partitionBy("grp")
          .orderBy(col("score").desc_nulls_last, col("id"))
        val want = df
          .withColumn("rk", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("grp")))
          .withColumn("nn", count(col("score"))
            .over(Window.partitionBy("grp")))
          .withColumn("flag", col("score").isNotNull &&
            col("rk") <= least(ceil(col("n") * lit(frac)), col("nn")))
          .collect().map(r => (Option(r.get(0)), r.getAs[Long]("id")) ->
            r.getAs[Boolean]("flag")).toMap
        assert(got.size == want.size && got == want,
          s"RankCut diverged from the contract replay at frac=$frac")
      }
    }
  }

  test("packed exact fold ≡ ADC unordered decimal sum, BIT-exactly, " +
      "across magnitudes incl. the 1e18 float edge") {
    import spark.implicits._
    import graft.operators.Quantize
    // The r13 regression class: round-10 doubles carry a BINARY tail
    // past 10 decimal digits, so a scale-10 decimal cast recovers a
    // DIFFERENT number than adcServe's scale-18 cast — the two sums
    // coincided for six rounds only because no cos sat within ~1e-16
    // of a round-6 boundary. The contract is therefore BIT-equality
    // of the production fold and sum kernels, not 6dp closeness —
    // under scale-10 addends this test is red on ~half the samples.
    val small = Gen.chooseNum(-1.0, 1.0)
    val mid = Gen.chooseNum(-1.0e10, 1.0e10)
    val huge = Gen.chooseNum(-1.0e18, 1.0e18) // vecdegen's garbage scale
    val addendsGen = Gen.listOfN(Quantize.M,
      Gen.frequency(4 -> small, 1 -> mid, 1 -> huge))
    forSamples(Gen.listOfN(60, addendsGen), 2) { cases =>
      // replay lutOf's own round(·,10) (Spark's HALF_UP, not rint)
      val luts = cases.zipWithIndex.map { case (adds, i) => (i.toLong, adds) }
        .toDF("case_id", "raw")
        .select(col("case_id"),
          transform(col("raw"), x => round(x, 10)).as("adds"))
      val folded = luts.select(col("case_id"),
          Quantize.exactOrderedFold(s => element_at(col("adds"), s + 1))
            .as("v"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val summed = luts
        .select(col("case_id"), explode(col("adds")).as("ip"))
        .repartition(7) // arrival order ≠ fold order: sum must not care
        .groupBy("case_id")
        .agg(Quantize.exactUnorderedSum(col("ip")).as("v"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(folded.keySet == summed.keySet)
      folded.foreach { case (id, f) =>
        assert(java.lang.Double.doubleToLongBits(f) ==
          java.lang.Double.doubleToLongBits(summed(id)),
          s"fold forked from the sum on case $id: fold=$f sum=${summed(id)} " +
            s"adds=${cases(id.toInt)}")
      }
    }
  }

  test("exact-expansion input hop: decExact(x) == BigDecimal exact " +
      "quantize, and differs from the native cast exactly where " +
      "toString is not the value") {
    import spark.implicits._
    import graft.functions.DecimalConv
    // The vecdegen-s2 class: Spark's native double→decimal cast takes
    // Java-toString's VALUE, DuckDB's VARCHAR hop takes Ryu's — they
    // disagree on ~18% of 1e16+ doubles. decExact must be the double's
    // TRUE IEEE value (java.math.BigDecimal(x)), scale-18 HALF_UP.
    val gen = Gen.frequency(
      2 -> Gen.chooseNum(-1.0, 1.0),
      2 -> Gen.chooseNum(-1.0e18, 1.0e18),
      1 -> Gen.chooseNum(-1.0, 1.0).map(x => math.rint(x * 1e10) / 1e10),
      1 -> Gen.chooseNum(-1.0e-6, 1.0e-6))
    forSamples(Gen.listOfN(200, gen), 2) { xs =>
      val got = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
        .toDF("id", "x")
        .select(col("id"), DecimalConv.decExact(col("x")).cast("string"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      xs.zipWithIndex.foreach { case (x, i) =>
        val want = new java.math.BigDecimal(x)
          .setScale(18, java.math.RoundingMode.HALF_UP).toPlainString
        assert(BigDecimal(got(i.toLong)) == BigDecimal(want),
          s"decExact($x) = ${got(i.toLong)}, want $want")
      }
    }
    // the r13/r14 regression anchor: a double whose Java-toString value
    // differs from its true value — the native cast takes the former,
    // decExact the latter
    val x = 8.574961456450381e+17 // toString: 8.5749614564503808E17
    val row = Seq(x).toDF("x").select(
      DecimalConv.decExact(col("x")).cast("string").as("exact"),
      col("x").cast("decimal(38,18)").cast("string").as("native"))
      .collect().head
    assert(BigDecimal(row.getString(0)) ==
      BigDecimal(new java.math.BigDecimal(x)
        .setScale(18, java.math.RoundingMode.HALF_UP).toPlainString))
    assert(BigDecimal(row.getString(0)) == BigDecimal(row.getString(1)),
      "for this integer-valued double the two casts should coincide")
  }

  test("decSumExact == driver-side exact BigDecimal sum with a " +
      "correctly-rounded double image, at every magnitude and order") {
    import spark.implicits._
    import graft.functions.DecimalConv
    // the GD-trainer sum: addends are arbitrary products (no round-k
    // grid), so the sum must be the EXACT quantized-addend decimal sum
    // and its double image the correctly-rounded parse of the digits —
    // order-free by decimal exactness (shuffled replay must agree)
    val gen = Gen.frequency(
      3 -> Gen.chooseNum(-1.0, 1.0),
      1 -> Gen.chooseNum(-1.0e10, 1.0e10),
      1 -> Gen.chooseNum(-1.0e-9, 1.0e-9))
    forSamples(Gen.listOfN(120, gen), 3) { xs =>
      def sumOf(vals: Seq[Double]): Double =
        vals.zipWithIndex.map { case (x, i) => (i.toLong, x) }
          .toDF("id", "x").repartition(7)
          .agg(DecimalConv.decSumExact(col("x")).as("s"))
          .collect().head.getDouble(0)
      val want = java.lang.Double.parseDouble(
        xs.map(x => new java.math.BigDecimal(x)
            .setScale(18, java.math.RoundingMode.HALF_UP))
          .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).toPlainString)
      val got = sumOf(xs)
      assert(java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(want),
        s"decSumExact = $got, exact-sum image = $want")
      // order-independence: the reversed list sums to the same bits
      assert(java.lang.Double.doubleToLongBits(sumOf(xs.reverse)) ==
        java.lang.Double.doubleToLongBits(want))
    }
  }

  test("exact decimal hops fail LOUD: non-finite input names the " +
      "expression, >20-integer-digit add overflow is catchable") {
    import spark.implicits._
    import graft.functions.{DecimalConv, ExactDecimal}
    def chain(t: Throwable): String = {
      val sb = new StringBuilder
      var c: Throwable = t
      while (c != null) { sb.append(c.getMessage).append(" | "); c = c.getCause }
      sb.toString
    }
    // NaN / Infinity through the decSum-family hop: the raw
    // BigDecimal ctor threw an uninformative NumberFormatException
    // from an executor task (ADVICE r15); the guard must name the
    // expression and the finite-input contract
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity)) {
      val e = intercept[Exception] {
        Seq(1.0, bad).toDF("x")
          .agg(DecimalConv.decSumExact(col("x"))).collect()
      }
      val m = chain(e)
      assert(m.contains("exact_decimal18") && m.contains("non-finite"),
        s"guard message for $bad: $m")
    }
    // the 1e20 headroom contract: adding past 20 integer digits at
    // scale 18 cannot be represented in decimal(38,18) — the fold's
    // ExactDecimalAdd must THROW (catchable at the action boundary),
    // never silently null/wrap a serve-path distance
    val big = lit("99000000000000000000.5").cast("decimal(38,18)")
    val e2 = intercept[Exception] {
      Seq(1).toDF("i").select(ExactDecimal.exactAdd(big, big)).collect()
    }
    val m2 = chain(e2).toLowerCase
    assert(m2.contains("decimal") || m2.contains("precision") ||
      m2.contains("overflow"), s"overflow message: ${chain(e2)}")
  }

  test("cosine is symmetric, in [-1,1], and 1 on self") {
    import spark.implicits._
    forSamples(Gen.zip(vecGen, vecGen), 20) { case (a, b) =>
      val (na, nb) = (V.norm(col("a")), V.norm(col("b")))
      val r = Seq((a.toArray, b.toArray)).toDF("a", "b").select(
        V.cosine(col("a"), na, col("b"), nb).as("ab"),
        V.cosine(col("b"), nb, col("a"), na).as("ba"),
        V.cosine(col("a"), na, col("a"), na).as("aa")).collect().head
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
      assert(r.getDouble(0) >= -1.0 - 1e-9 && r.getDouble(0) <= 1.0 + 1e-9)
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    }
  }

  test("fingerprint invariant under token permutation and duplication") {
    import spark.implicits._
    val tokensGen = Gen.nonEmptyListOf(Gen.oneOf(
      "alpha", "beta", "gamma", "delta", "epsilon", "zeta"))
    forSamples(tokensGen, 20) { toks =>
      val shuffled = scala.util.Random.shuffle(toks ++ toks.take(2))
      val fps = Seq(toks.mkString(" "), shuffled.mkString(" ")).toDF("text")
        .select(T.fingerprint(col("text"))).collect().map(_.getString(0))
      assert(fps(0) == fps(1))
    }
  }

  test("exact dedup is idempotent") {
    val d1 = graft.operators.Dedup.exactByKey(spark, TestSpark.sf)
    val again = d1.dropDuplicates("user_id", "event_type")
    assert(d1.count() == again.count())
  }

  test("window pagination pages concatenate to the full sorted table") {
    import org.apache.spark.sql.expressions.Window
    val orders = Tables.load(spark, TestSpark.sf, "orders")
    val w = Window.orderBy("o_orderkey")
    val rn = orders.withColumn("rn", row_number().over(w))
    val pageSize = 137
    val n = orders.count()
    val pages = (0L to n / pageSize).map { p =>
      rn.filter(col("rn") > p * pageSize && col("rn") <= (p + 1) * pageSize)
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
    }
    val concat = pages.flatten
    val full = orders.orderBy("o_orderkey")
      .select("o_orderkey").collect().map(_.getLong(0)).toSeq
    assert(concat == full)
  }

  test("as-of (both directions) ≡ join+aggregate emulation on random sets") {
    import spark.implicits._
    val gen = for {
      nl <- Gen.chooseNum(5, 60)
      nr <- Gen.chooseNum(0, 60)
      l <- Gen.listOfN(nl, Gen.zip(Gen.chooseNum(0L, 6L), Gen.chooseNum(0L, 500L)))
      r <- Gen.listOfN(nr, Gen.zip(Gen.chooseNum(0L, 6L), Gen.chooseNum(0L, 500L)))
    } yield (l.distinct, r.distinct) // unique (k,t) per side → deterministic pick
    forSamples(gen, 5) { case (lRows, rRows) =>
      val l = lRows.toDF("k", "t").repartition(4)
      val r = rRows.map { case (k, rt) => (k, rt, s"tag_${k}_$rt") }
        .toDF("k", "rt", "tag").repartition(3)
      for (forward <- Seq(false, true)) {
        val got = graft.plans.AsOf.join(spark, l, r,
            l("k"), r("k"), l("t"), r("rt"), forward = forward)
          .select(l("k"), l("t"), col("tag")).collect()
          .map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSet
        // emulation: all candidates on the right side of the time
        // boundary, then argmin/argmax by rt per left row
        val pred = if (forward) col("rt") >= col("t") else col("rt") <= col("t")
        val best = if (forward) min(struct(col("rt"), col("tag")))
          else max(struct(col("rt"), col("tag")))
        val want = l.join(r.withColumnRenamed("k", "rk"),
            col("k") === col("rk") && pred, "left")
          .groupBy("k", "t").agg(best.as("b"))
          .select(col("k"), col("t"), col("b.tag")).collect()
          .map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSet
        assert(got == want, s"forward=$forward got=$got want=$want")
      }
    }
  }

  test("doc_pack: bins fill contiguously and never split a document") {
    import spark.implicits._
    forSamples(Gen.listOfN(40, Gen.chooseNum(1, 200)), 3) { lens =>
      val dir = java.nio.file.Files.createTempDirectory("pack").toString
      lens.zipWithIndex.map { case (n, i) =>
        (i.toLong, Seq.fill(n)("tok").mkString(" "), "en",
          s"src${i % 2}", n.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val packed = graft.operators.Sampling.docPack(spark, dir, capacity = 256)
        .collect()
      packed.groupBy(_.getAs[String]("source")).values.foreach { rows =>
        val inOrder = rows.sortBy(_.getAs[Long]("doc_id"))
        // pack ids are nondecreasing in doc order and start at 0
        val ids = inOrder.map(_.getAs[Long]("pack_id"))
        assert(ids.head == 0L)
        assert(ids.zip(ids.tail).forall { case (a, b) => a <= b })
        // a bin's docs are contiguous, and each bin starts before the
        // capacity boundary (contiguous fill: tokens BEFORE the doc
        // determine its bin)
        var before = 0L
        inOrder.foreach { r =>
          assert(r.getAs[Long]("pack_id") == before / 256)
          before += r.getAs[Long]("n_tokens")
        }
      }
    }
  }

  test("minhash jaccard estimate tracks exact jaccard on controlled overlap") {
    import spark.implicits._
    // two token sets with known overlap ratio
    val base = (1 to 40).map(i => s"tok$i")
    forSamples(Gen.chooseNum(0, 40), 10) { keep =>
      val a = base.mkString(" ")
      val b = (base.take(keep) ++ (1 to (40 - keep)).map(i => s"other$i")).mkString(" ")
      val df = Seq((0L, a), (1L, b)).toDF("doc_id", "text")
      val sh = df.select(col("doc_id"),
        array_distinct(T.wordShingles(col("text"), 3)).as("s"))
      val row = sh.as("x").crossJoin(sh.as("y"))
        .filter(col("x.doc_id") < col("y.doc_id"))
        .select((size(array_intersect(col("x.s"), col("y.s"))).cast("double") /
          size(array_union(col("x.s"), col("y.s")))).as("j")).collect().head
      val j = row.getDouble(0)
      assert(j >= 0.0 && j <= 1.0)
      if (keep == 40) assert(j == 1.0)
      if (keep == 0) assert(j == 0.0)
    }
  }

  test("band join ≡ plain range join on random event sets") {
    import spark.implicits._
    import graft.operators.RangeJoin
    val rnd = new scala.util.Random(99)
    for (trial <- 0 until 3) {
      val radius = Seq(1L, 1000L, 1000000L)(trial)
      val rows = Seq.fill(300)((rnd.nextInt(5).toLong,
        rnd.nextLong().abs % 100000, rnd.nextLong().abs % (radius * 10)))
        .zipWithIndex.map { case ((u, _, t), i) => (u, i.toLong, t) }
      val df = rows.toDF("user_id", "event_id", "t")
      val a = df.select(col("user_id"), col("event_id").as("event_a"),
        col("t").as("t_a"))
      val b = df.select(col("user_id"), col("event_id").as("event_b"),
        col("t").as("t_b"))
      val banded = RangeJoin.bandJoin(a, b, "user_id", col("t_a"), col("t_b"),
          radius)
        .filter(col("event_a") < col("event_b"))
        .select("event_a", "event_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val plain = df.as("x").join(df.as("y"),
          col("x.user_id") === col("y.user_id") &&
          col("x.event_id") < col("y.event_id") &&
          abs(col("x.t") - col("y.t")) <= radius)
        .select(col("x.event_id"), col("y.event_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded == plain, s"radius $radius")
    }
  }

  test("CDC bucket hash: Column and driver-side scalar paths agree") {
    import spark.implicits._
    import graft.operators.Cdc
    // the write path buckets with the Catalyst expression, the lookup
    // path with the JVM scalar — a divergence silently reads the
    // wrong bucket, so pin them equal across random keys and widths
    forSamples(Gen.zip(Gen.listOfN(50, Gen.chooseNum(0L, Long.MaxValue)),
      Gen.oneOf(4, 16, 64)), 6) { case (keys, buckets) =>
      val viaColumn = keys.toDF("k")
        .select(col("k"), Cdc.bucketOf(col("k"), buckets).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      keys.foreach { k =>
        assert(viaColumn(k) === Cdc.bucketIdOf(k.toString, buckets),
          s"key $k buckets=$buckets")
      }
    }
  }

  test("CDC fold laws: split-anywhere associativity and replay idempotence") {
    import spark.implicits._
    import graft.operators.Cdc
    // random keyed changelogs: few keys so supersede/delete chains occur
    val evGen = Gen.listOfN(24, Gen.zip(
      Gen.chooseNum(1L, 5L),   // user_id
      Gen.chooseNum(0L, 40L),  // coarse ts (collisions likely)
      Gen.oneOf("I", "U", "D")))
    forSamples(Gen.zip(evGen, Gen.chooseNum(1, 23)), 12) { case (evs, cut) =>
      val rows = evs.zipWithIndex.map { case ((u, t, op), i) =>
        (u, new java.sql.Timestamp(86400000L + t * 60000L), i.toLong, op,
          s"type$op", i.toDouble)
      }
      def df(xs: Seq[(Long, java.sql.Timestamp, Long, String, String, Double)]) =
        xs.toDF("user_id", "ts", "event_id", "op", "last_type", "last_value")
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.select("user_id", "event_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val whole = Cdc.applyChangelog(
        df(rows).limit(0), df(rows))
      // associativity: folding any prefix to a snapshot first, then
      // applying the suffix, equals one fold over the whole stream
      val (pre, post) = rows.splitAt(cut)
      val base = Cdc.latestWins(df(pre), Seq("user_id"), Seq("ts", "event_id"))
      val merged = Cdc.applyChangelog(base, df(post))
      assert(canon(merged) === canon(whole), s"cut=$cut")
      // idempotence: replaying the whole stream over the fold changes nothing
      val folded = Cdc.latestWins(df(rows), Seq("user_id"), Seq("ts", "event_id"))
      val replayed = Cdc.applyChangelog(folded, df(rows))
      assert(canon(replayed) === canon(whole))
    }
  }

  test("churn history: serve equals the reference fold under random ops + compactions") {
    import spark.implicits._
    import graft.sources.IndexChurn
    // a history = batches of (op, key set, tf, compact-after?); keys are
    // (token, doc_id) over a small space so updates, deletes of absent
    // keys, re-inserts after delete, and tombstone pile-ups all occur.
    // The reference is a plain Scala map fold — the serve view must
    // match it after EVERY batch, with compaction (either detection
    // mode) interleaved at random points as a semantic no-op.
    val keyGen = Gen.zip(Gen.oneOf("ka", "kb", "kc", "kd"),
      Gen.chooseNum(1L, 4L))
    val batchGen = Gen.zip(Gen.oneOf("U", "D"),
      Gen.nonEmptyListOf(keyGen).map(_.distinct.take(5)),
      Gen.oneOf(true, false), Gen.chooseNum(2L, 9L))
    forSamples(Gen.listOfN(5, batchGen), 3) { hist =>
      val table = "churn_prop_t"
      spark.sql(s"DROP TABLE IF EXISTS $table")
      try {
        val allKeys = for { t <- Seq("ka", "kb", "kc", "kd"); d <- 1L to 4L }
          yield (t, d, 1L)
        IndexChurn.stamp(allKeys.toDF("token", "doc_id", "tf"), "U", 0L)
          .write.mode("overwrite").bucketBy(4, "token").sortBy("token")
          .saveAsTable(table)
        var ref = allKeys.map { case (t, d, v) => (t, d) -> v }.toMap
        var seq = 0L
        hist.foreach { case (op, keys, doCompact, tfv) =>
          seq += 1
          IndexChurn.append(spark, table,
            keys.map { case (t, d) => (t, d, tfv) }.toDF("token", "doc_id", "tf"),
            op, seq)
          ref = if (op == "D") ref -- keys
                else ref ++ keys.map { case (t, d) => (t, d) -> tfv }
          if (doCompact)
            IndexChurn.compact(spark, table, Seq("token", "doc_id"),
              Seq("token"), tombstonesOnly = scala.util.Random.nextBoolean())
          val got = IndexChurn.served(spark, table, Seq("token", "doc_id"))
            .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
            .toMap
          assert(got === ref,
            s"serve diverged from the fold at seq $seq (op=$op keys=$keys)")
        }
      } finally spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("phrase kernel == brute shingle count on random corpora") {
    import spark.implicits._
    // tiny vocab so phrases genuinely repeat and overlap (the repeated-
    // term case — "a a a" — is where shifted-intersection math breaks
    // if positions are mishandled)
    val vocab = Vector("a", "b", "c")
    val docGen = Gen.listOfN(12, Gen.oneOf(vocab)).map(_.mkString(" "))
    val caseGen = Gen.zip(
      Gen.listOfN(8, docGen),
      Gen.chooseNum(2, 3).flatMap(k => Gen.listOfN(k, Gen.oneOf(vocab))))
    forSamples(caseGen, 5) { case (docs, terms) =>
      val dir = java.nio.file.Files.createTempDirectory("phraseprop").toString
      docs.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") }
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.operators.Retrieval
        .phraseFromIndexN(spark, dir, terms, topK = 100)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val want = docs.zipWithIndex.flatMap { case (t, i) =>
        val toks = t.split("\\s+").filter(_.nonEmpty).toSeq
        val n = toks.sliding(terms.size).count(_ == terms)
        if (n > 0) Some(i.toLong -> n.toLong) else None
      }.toMap
      assert(got === want, s"terms=$terms docs=$docs")
    }
  }
}
