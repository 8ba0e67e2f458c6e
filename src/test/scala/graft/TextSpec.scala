package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{TextFunctions => T}

class TextSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.DataFrame

  private def one(df: DataFrame): org.apache.spark.sql.Row = df.collect().head

  test("langId identifies clear-cut languages and und") {
    import spark.implicits._
    val cases = Seq(
      "the cat is on the table and it is happy for a while" -> "en",
      "le chat est sur la table et les amis sont pour une fete" -> "fr",
      "der hund ist mit den kindern und die katze ist ein tier" -> "de",
      "el gato y la mesa es una de las cosas que un dia" -> "es",
      "你好世界这是一个测试" -> "zh",
      "zzz qqq www rrr ttt" -> "und")
    val got = cases.map(_._1).toDF("text")
      .select(T.langId(col("text")).as("l")).collect().map(_.getString(0))
    assert(got.sameElements(cases.map(_._2)), got.mkString(","))
  }

  test("simpleLower: Unicode simple case mapping — İ→i (not i̇), Σ→σ " +
      "even at word end, ς untouched, astral Deseret still maps") {
    import spark.implicits._
    // Java full mapping would emit "i̇stanbul" (9 cp) and final "ς" —
    // each a cross-engine divergence vs every simple-mapping SQL
    // engine (the unicode degenerate gate's r12 finding); tokens()
    // must produce the simple images
    val got = one(Seq("İstanbul ΟΔΥΣΣΕΥΣ ΟΔΥΣΣΕΥΣ.ΤΕΛΟΣ ς 𐐀𐐁 Ωmega")
      .toDF("text").select(T.tokens(col("text")).as("ts")))
      .getSeq[String](0)
    assert(got == Seq("istanbul", "οδυσσευσ", "οδυσσευσ.τελοσ", "ς",
      "𐐨𐐩", "ωmega"), got.mkString("|"))
    assert(got.head.length == 8, "combining dot leaked into İ's image")
    // the locale-trigger letters (tr/az dotless-ı, lt dot-above rules)
    // are pre-translated, so their images hold on ANY host locale
    val loc = one(Seq("IJK Įara").toDF("text")
      .select(T.simpleLower(col("text")).as("s"))).getString(0)
    assert(loc == "ijk įara", loc)
  }

  test("quality struct ratios on a known string") {
    import spark.implicits._
    val r = one(Seq("The cat, the DOG; 42 end.").toDF("text")
      .select(T.qualityStruct(col("text")).as("q")).select("q.*"))
    assert(r.getAs[Long]("n_chars") == 25)
    assert(r.getAs[Long]("n_tokens") == 6)
    assert(r.getAs[Double]("punct_ratio") == 3.0 / 25)  // , ; .
    assert(r.getAs[Double]("digit_ratio") == 2.0 / 25)
    assert(r.getAs[Double]("upper_ratio") == 4.0 / 25)  // T,D,O,G
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 2.0 / 6) < 1e-12)
  }

  test("bpe-ish token count segments letters/digits/punct") {
    import spark.implicits._
    val r = one(Seq("hello world-42!").toDF("text")
      .select(T.bpeishTokenCount(col("text")).as("n")))
    // hello | world | - | 42 | !
    assert(r.getAs[Int]("n") == 5)
  }

  test("shingles and char ngrams handle short inputs") {
    import spark.implicits._
    val r = Seq("a b", "a b c d", "ab").toDF("text").select(
      T.wordShingles(col("text"), 3).as("sh"),
      T.charNgrams(col("text"), 4).as("ng")).collect()
    assert(r(0).getSeq[String](0).isEmpty)             // 2 tokens < 3
    assert(r(0).getSeq[String](1).isEmpty)             // 3 chars < 4
    assert(r(1).getSeq[String](0) == Seq("a b c", "b c d"))
    assert(r(1).getSeq[String](1).length == 7 - 3)
    assert(r(2).getSeq[String](0).isEmpty && r(2).getSeq[String](1).isEmpty)
  }

  test("native char_ngrams ≡ composed substring form on ASCII/CJK/" +
      "astral/mixed; null → null; linear on a 200k-char doc") {
    import spark.implicits._
    // the composed O(len²) form the native expression replaced — the
    // equality oracle for its codepoint semantics
    def composed(text: org.apache.spark.sql.Column, n: Int) =
      flatten(transform(array(T.simpleLower(text)), t =>
        when(length(t) < n, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), length(t) - (n - 1)),
            i => substring(t, i, lit(n))))))
    val cases = Seq("hello world", "火花数据处理引擎", "𐐀𐐁𐐂 mix 蟹",
      "a", "", "İΣ edge ς 👨‍👩‍👧")
    val got = cases.toDF("text")
      .select(T.charNgrams(col("text"), 4).as("a"),
        composed(col("text"), 4).as("b")).collect()
    got.zip(cases).foreach { case (r, c) =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"diverged on: $c")
    }
    val nullRow = Seq(Tuple1[String](null)).toDF("text")
      .select(T.charNgrams(col("text"), 4).as("a")).collect().head
    assert(nullRow.isNullAt(0))
    // linearity: 200k chars must produce len−3 grams. The wall bound is
    // deliberately loose (the composed O(len²) form took MINUTES here,
    // a linear pass takes ~100 ms) so a loaded box can't flake it while
    // a quadratic regression still trips it by an order of magnitude.
    val t0 = System.nanoTime()
    val big = one(Seq(("x" * 100000) + ("蟹" * 100000)).toDF("text")
      .select(size(T.charNgrams(col("text"), 4)).as("n")))
    assert(big.getAs[Int]("n") == 200000 - 3)
    assert((System.nanoTime() - t0) / 1e9 < 30.0, "char_ngrams not linear")
  }

  test("cjk ratio") {
    import spark.implicits._
    val r = one(Seq("ab世界").toDF("text")
      .select(T.cjkRatio(col("text")).as("r")))
    assert(r.getAs[Double]("r") == 0.5)
  }

  test("docChunks: dense chunk ids, full chunks except the tail") {
    val sf = TestSpark.sf
    val rows = graft.operators.TextAnalysis.docChunks(spark, sf).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.values.foreach { g =>
      val idx = g.map(_.getAs[Long]("chunk_idx")).sorted
      assert(idx.sameElements(0L until idx.length))
      val ns = g.sortBy(_.getAs[Long]("chunk_idx"))
        .map(_.getAs[Long]("n_chunk_tokens"))
      // chunk i covers tokens [48i+1, 48i+64]: full unless it reaches
      // the document end
      val total = ns.length match {
        case 1 => ns.head
        case k => 48L * (k - 1) + ns.last
      }
      ns.zipWithIndex.foreach { case (n, i) =>
        assert(n == math.min(64L, math.max(0L, total - 48L * i)),
          s"chunk $i of ${ns.toSeq} total $total")
      }
    }
  }

  test("vocabCoverage: ranks dense, freq nonincreasing, cum_frac monotone <= 1") {
    val sf = TestSpark.sf
    val rows = graft.operators.TextAnalysis.vocabCoverage(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("rank")).sameElements(1L to rows.length))
    val fs = rows.map(_.getAs[Long]("freq"))
    assert(fs.zip(fs.tail).forall { case (a, b) => a >= b })
    val cf = rows.map(_.getAs[Double]("cum_frac"))
    assert(cf.zip(cf.tail).forall { case (a, b) => a <= b } && cf.last <= 1.0)
  }

  test("trainSplit: deterministic, content-free, ~90/5/5") {
    val sf = TestSpark.sf
    val rows = graft.operators.Sampling.trainSplit(spark, sf).collect()
    val n = rows.length.toDouble
    val frac = rows.groupBy(_.getAs[String]("split")).view
      .mapValues(_.length / n).toMap
    assert(frac("train") > 0.8 && frac("train") < 0.97, frac.toString)
    assert(frac.getOrElse("val", 0.0) < 0.15 && frac.getOrElse("test", 0.0) < 0.15)
    // re-running yields the identical assignment
    val again = graft.operators.Sampling.trainSplit(spark, sf).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(2))).toSeq ==
      again.map(r => (r.getLong(0), r.getString(2))).toSeq)
  }

  test("leakageSafeSplit: near-dup pairs never straddle the boundary") {
    val sf = TestSpark.sf
    val split = graft.operators.Sampling.leakageSafeSplit(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    // the defining property: every near-dup pair lands in ONE split
    val pairs = graft.operators.Dedup.minhashPairs(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a) === split(b),
        s"near-dup pair ($a, $b) straddles splits ${split(a)}/${split(b)}")
    }
    // still roughly 90/5/5 over the whole corpus
    val n = split.size.toDouble
    val frac = split.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(frac("train") > 0.8 && frac("train") < 0.97, frac.toString)
    // and a doc NOT in any pair keys on itself — same bucket as the
    // per-doc split, so the group rule only moves actual near-dups
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val perDoc = graft.operators.Sampling.trainSplit(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val singletons = split.keySet -- paired
    assert(singletons.nonEmpty)
    singletons.foreach(d => assert(split(d) === perDoc(d)))
  }

  test("sourceQuota: at most quota kept per source") {
    val sf = TestSpark.sf
    val rows = graft.operators.Sampling.sourceQuota(spark, sf, quota = 30).collect()
    rows.groupBy(_.getAs[String]("source")).values.foreach { g =>
      assert(g.count(_.getAs[Boolean]("kept")) <= 30)
    }
    assert(rows.exists(!_.getAs[Boolean]("kept")) ||
      rows.groupBy(_.getAs[String]("source")).values.forall(_.length <= 30))
  }

  test("epochPlan: weights normalize, targets apportion the full budget") {
    val rows = graft.operators.Sampling
      .epochPlan(spark, TestSpark.sf, budgetTokens = 100000L).collect()
    assert(rows.nonEmpty)
    val wSum = rows.map(_.getAs[Double]("mix_weight")).sum
    assert(math.abs(wSum - 1.0) < 1e-3, s"weights sum to $wSum")
    val tSum = rows.map(_.getAs[Double]("target_tokens")).sum
    assert(math.abs(tSum - 100000.0) < 1.0, s"targets sum to $tSum")
    rows.foreach { r =>
      // epochs is the repeat factor: epochs × available ≈ target
      val implied = r.getAs[Double]("epochs") * r.getAs[Long]("tokens_available")
      assert(math.abs(implied - r.getAs[Double]("target_tokens")) <
        r.getAs[Long]("tokens_available") * 1e-5 + 1.0)
    }
  }

  test("mixExpand: contiguous copy indices, copies = floor(epochs) or +1") {
    val S = graft.operators.Sampling
    val plan = S.epochPlan(spark, TestSpark.sf).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Double]("epochs")).toMap
    val rows = S.mixExpand(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("doc_id")).values.foreach { g =>
      val n = g.head.getAs[Long]("n_copies")
      assert(g.map(_.getAs[Long]("copy_idx")).sorted.toSeq == (1L to n),
        "copy indices not contiguous")
      val e = plan(g.head.getAs[String]("source"))
      val base = math.floor(e).toLong
      assert(n == base || n == base + 1, s"copies $n vs epochs $e")
    }
    // determinism: a re-run emits the identical multiset (and, under
    // the oracle's ordered variant, the identical stream)
    assert(S.mixExpand(spark, TestSpark.sf, ordered = true)
      .collect().map(_.toString).toSeq ==
      S.mixExpand(spark, TestSpark.sf, ordered = true)
        .collect().map(_.toString).toSeq)
    // the production path (default) must NOT pay the global range
    // shuffle the oracle ordering needs — no rangepartitioning exchange
    val physical = org.apache.spark.sql.graftshim.Shim
      .executedPlan(S.mixExpand(spark, TestSpark.sf)).toString
    assert(!physical.contains("rangepartitioning"),
      s"unordered mixExpand still global-sorts:\n$physical")
  }

  test("PII redaction scrubs emails/ips/phones with correct counts") {
    import spark.implicits._
    // same expression chain as TextAnalysis.redactPii, on crafted text
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phone = "\\+?\\d[\\d ()-]{7,}\\d"
    val df = Seq(
      "write to a.b@x.co or ops@corp.example.org today",
      "server 10.0.0.1 fell over; failover to 192.168.1.255",
      "call +1 415-555-0199 now",
      "no pii here at all").toDF("text")
    val r = df.select(
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        email, "<EMAIL>"), ip, "<IP>"), phone, "<PHONE>").as("red"),
      size(regexp_extract_all(col("text"), lit(email), lit(0))).as("ne"),
      size(regexp_extract_all(col("text"), lit(ip), lit(0))).as("ni"),
      size(regexp_extract_all(col("text"), lit(phone), lit(0))).as("np"))
      .collect()
    assert(r(0).getString(0) == "write to <EMAIL> or <EMAIL> today")
    assert(r(0).getInt(1) == 2)
    assert(r(1).getString(0) == "server <IP> fell over; failover to <IP>")
    assert(r(1).getInt(2) == 2)
    assert(r(2).getString(0) == "call <PHONE> now")
    assert(r(2).getInt(3) == 1)
    assert(r(3).getString(0) == "no pii here at all")
    assert(r(3).getInt(1) == 0 && r(3).getInt(2) == 0 && r(3).getInt(3) == 0)
  }

  test("contaminationNgram: eval rows only, hits bounded by spans") {
    val rows = graft.operators.Sampling.contaminationNgram(spark, TestSpark.sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(Set("val", "test").contains(r.getAs[String]("split")))
      val (spans, hits) = (r.getAs[Long]("n_spans"), r.getAs[Long]("n_hit"))
      assert(hits >= 0L && hits <= spans)
      val frac = r.getAs[Double]("hit_frac")
      assert(frac >= 0.0 && frac <= 1.0)
      if (spans == 0) assert(frac === 0.0)
    }
  }

  test("phrasePmi: support floor, deterministic ordering, PMI replays " +
      "from independently-recomputed counts") {
    import org.apache.spark.sql.functions._
    import graft.functions.{TextFunctions => T}
    val rows = graft.operators.TextAnalysis
      .phrasePmi(spark, TestSpark.sf, minCount = 2).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    val cnts = rows.map(_.getAs[Long]("pair_cnt")).toSeq
    assert(cnts === cnts.sorted.reverse, "not ordered by support")
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val toks = docs.select(explode(T.tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nu = toks.values.sum.toDouble
    val bigs = docs.select(explode(T.wordShingles(col("text"), 2)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val np = bigs.values.sum.toDouble
    rows.foreach { r =>
      val b = r.getAs[String]("bigram")
      val pc = r.getAs[Long]("pair_cnt")
      assert(pc >= 2 && bigs(b) == pc)
      val Array(w1, w2) = b.split(" ")
      assert(r.getAs[Long]("c1") == toks(w1) && r.getAs[Long]("c2") == toks(w2))
      val want = math.log((pc / np) / ((toks(w1) / nu) * (toks(w2) / nu)))
      assert(math.abs(r.getAs[Double]("pmi") - want) < 1e-5,
        s"PMI of '$b' diverged from the raw-count replay")
    }
  }

  test("bpeMerges: ranks dense, counts non-increasing, first merge is " +
      "the raw adjacent-pair argmax, greedy pass replays by hand") {
    import org.apache.spark.sql.functions._
    import graft.functions.{TextFunctions => T}
    val rows = graft.operators.TextAnalysis.bpeMerges(spark, TestSpark.sf)
      .collect().map(r => (r.getAs[Long]("merge_rank"),
        r.getAs[String]("left_sym"), r.getAs[String]("right_sym"),
        r.getAs[Long]("pair_cnt")))
    assert(rows.map(_._1).toSeq == (1L to 6L))
    // a merge can only remove old occurrences, and every pair it
    // creates is capped by its own count — so the max is non-increasing
    val cnts = rows.map(_._4).toSeq
    assert(cnts === cnts.sorted.reverse, s"counts increased: $cnts")
    // round 1 must be the argmax of the raw adjacent-pair counts under
    // the (count DESC, l, r) tie-break, recomputed independently
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select(T.tokens(col("text")).as("ts")).collect()
      .map(_.getSeq[String](0))
    val raw = scala.collection.mutable.Map[(String, String), Long]()
    docs.foreach { ts =>
      ts.sliding(2).foreach {
        case Seq(a, b) => raw((a, b)) = raw.getOrElse((a, b), 0L) + 1
        case _ =>
      }
    }
    val best = raw.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.head
    assert((rows(0)._2, rows(0)._3) == best._1 && rows(0)._4 == best._2)
    // greedy left-to-right replay of round 1 on the raw corpus gives
    // round 2's argmax
    def merge(ts: Seq[String], l: String, r: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < ts.length) {
        if (i + 1 < ts.length && ts(i) == l && ts(i + 1) == r) {
          out += s"$l $r"; i += 2
        } else { out += ts(i); i += 1 }
      }
      out.toSeq
    }
    val merged = docs.map(merge(_, rows(0)._2, rows(0)._3))
    val raw2 = scala.collection.mutable.Map[(String, String), Long]()
    merged.foreach { ts =>
      ts.sliding(2).foreach {
        case Seq(a, b) => raw2((a, b)) = raw2.getOrElse((a, b), 0L) + 1
        case _ =>
      }
    }
    val best2 = raw2.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.head
    assert((rows(1)._2, rows(1)._3) == best2._1 && rows(1)._4 == best2._2,
      "round-2 merge diverged from the hand replay of the greedy pass")
  }

  test("bpeEncode: per-doc token counts replay the learned merges by hand") {
    import org.apache.spark.sql.functions._
    import graft.functions.{TextFunctions => T}
    val merges = graft.operators.TextAnalysis.bpeMerges(spark, TestSpark.sf)
      .collect().sortBy(_.getAs[Long]("merge_rank"))
      .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
    def merge(ts: Seq[String], l: String, r: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < ts.length) {
        if (i + 1 < ts.length && ts(i) == l && ts(i + 1) == r) {
          out += s"$l $r"; i += 2
        } else { out += ts(i); i += 1 }
      }
      out.toSeq
    }
    val want = Tables.load(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), T.tokens(col("text")).as("ts")).collect()
      .map { r =>
        val ts = r.getSeq[String](1)
        r.getLong(0) -> (ts.length.toLong,
          merges.foldLeft(ts) { case (t, (l, rr)) => merge(t, l, rr) }
            .length.toLong)
      }.toMap
    val got = graft.operators.TextAnalysis.bpeEncode(spark, TestSpark.sf)
      .collect()
    assert(got.nonEmpty && got.length == want.size)
    got.foreach { r =>
      val (nRaw, nTok) = want(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_raw") == nRaw)
      assert(r.getAs[Long]("n_tokens") == nTok,
        s"doc ${r.getAs[Long]("doc_id")} encode diverged from hand replay")
    }
    // the merges actually compress somewhere
    assert(got.exists(r => r.getAs[Long]("n_tokens") < r.getAs[Long]("n_raw")))
  }

  test("bpeMergesVocab + bpeEncodeVocab: the word-table trainer replays " +
      "by hand (freq-weighted word-internal pairs), counts " +
      "non-increasing, encode counts match the per-word encoding") {
    import org.apache.spark.sql.functions._
    import graft.functions.{TextFunctions => T}
    val m = 8
    val rows = graft.operators.TextAnalysis
      .bpeMergesVocab(spark, TestSpark.sf, m).collect()
      .map(r => (r.getAs[Long]("merge_rank"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[Long]("pair_cnt")))
    assert(rows.map(_._1).toSeq == (1L to m.toLong))
    val cnts = rows.map(_._4).toSeq
    assert(cnts === cnts.sorted.reverse, s"counts increased: $cnts")
    // hand replay over the word-frequency table: ONE corpus pass to
    // (word, freq), then every round is vocab-only — weighted
    // word-internal pair counts, (cnt DESC, l, r) argmax, greedy merge
    def merge(ts: Seq[String], l: String, r: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < ts.length) {
        if (i + 1 < ts.length && ts(i) == l && ts(i + 1) == r) {
          out += s"$l $r"; i += 2
        } else { out += ts(i); i += 1 }
      }
      out.toSeq
    }
    val wordFreq = Tables.load(spark, TestSpark.sf, "documents")
      .select(explode(T.tokens(col("text"))).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    var vocab: Map[String, (Long, Seq[String])] =
      wordFreq.map { case (w, f) => w -> (f, w.map(_.toString)) }
    val handMerges = Seq.newBuilder[(String, String, Long)]
    (1 to m).foreach { _ =>
      val pc = scala.collection.mutable.Map[(String, String), Long]()
      vocab.values.foreach { case (f, ts) =>
        ts.sliding(2).foreach {
          case Seq(a, b) => pc((a, b)) = pc.getOrElse((a, b), 0L) + f
          case _ =>
        }
      }
      val ((l, r), c) = pc.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.head
      handMerges += ((l, r, c))
      vocab = vocab.map { case (w, (f, ts)) => w -> (f, merge(ts, l, r)) }
    }
    assert(rows.map(t => (t._2, t._3, t._4)).toSeq ===
      handMerges.result(),
      "vocab-table merges diverged from the hand replay")
    // encode: per-doc n_tokens = sum of encoded-word lengths in token
    // order, n_raw = sum of word char counts
    val got = graft.operators.TextAnalysis
      .bpeEncodeVocab(spark, TestSpark.sf, m).collect()
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), T.tokens(col("text")).as("ts")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got.length == docs.size)
    got.foreach { r =>
      val ts = docs(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_raw") == ts.map(_.length.toLong).sum)
      assert(r.getAs[Long]("n_tokens") ==
        ts.map(w => vocab(w)._2.length.toLong).sum,
        s"doc ${r.getAs[Long]("doc_id")} vocab encode diverged")
    }
    assert(got.exists(r => r.getAs[Long]("n_tokens") < r.getAs[Long]("n_raw")))
  }

  test("clusterLabels: dense ranks, weights descending, labels cover " +
      "exactly the clusters the assignment serves") {
    import org.apache.spark.sql.functions.col
    val rows = graft.operators.TextAnalysis
      .clusterLabels(spark, TestSpark.sf).collect()
      .map(r => (r.getAs[Long]("c_id"), r.getAs[Long]("rk"),
        r.getAs[String]("term"), r.getAs[Double]("weight")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cid, g) =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length) &&
        sorted.length <= 3, s"cluster $cid ranks not dense")
      val ws = sorted.map(_._4).toSeq
      assert(ws === ws.sorted.reverse, s"cluster $cid weights ascend")
      assert(g.map(_._3).distinct.length == g.length)
    }
    val asgClusters = graft.operators.Similarity
      .assignmentTable(spark, TestSpark.sf)
      .select(col("c_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(rows.map(_._1).toSet == asgClusters,
      "labels missing for a served cluster (or labeling a ghost one)")
  }

  test("stratifiedSplit: exact per-language 90/5/5 cuts") {
    val rows = graft.operators.Sampling
      .stratifiedSplit(spark, TestSpark.sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("split")))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (lang, g) =>
      val n = g.length.toLong
      val want = Map("train" -> n * 90 / 100,
        "val" -> (n * 95 / 100 - n * 90 / 100),
        "test" -> (n - n * 95 / 100))
      val got = g.groupBy(_._3).view.mapValues(_.length.toLong).toMap
      want.foreach { case (k, v) =>
        assert(got.getOrElse(k, 0L) == v,
          s"$lang: $k got ${got.getOrElse(k, 0L)} want $v (n=$n)")
      }
    }
  }

  test("contaminationBloom: row-identical to the exact operator, and the " +
      "eval side actually rides the bloom screen") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("split"),
        r.getAs[Long]("n_spans"), r.getAs[Long]("n_hit"),
        r.getAs[Double]("hit_frac"))).toSet
    val bloom = graft.operators.Sampling.contaminationBloom(spark, TestSpark.sf)
    // the screen must change the exchange, never the answer: any bloom
    // false positive surviving into n_hit, or any true hit the screen
    // dropped, breaks this set equality
    assert(rows(bloom) ==
      rows(graft.operators.Sampling.contaminationNgram(spark, TestSpark.sf)))
    // the pre-screen is really in the plan (a build that silently falls
    // back to the unscreened join would also pass the equality above)
    val plan = bloom.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"),
      s"no bloom probe in the plan:\n$plan")
  }

  test("invertedIndex: postings ascending, bounded, never exceed df") {
    val rows = graft.operators.Retrieval.invertedIndex(spark, TestSpark.sf)
      .collect()
    assert(rows.nonEmpty && rows.length <= 50)
    val dfs = rows.map(_.getAs[Long]("df")).toSeq
    assert(dfs === dfs.sorted.reverse)
    rows.foreach { r =>
      // postings is a comma-joined string (scalar so the harness
      // compare can sort/hash it); decode and check the prefix contract
      val p = r.getAs[String]("postings").split(",").map(_.toLong).toSeq
      assert(p.length <= 20 && p.length <= r.getAs[Long]("df"))
      assert(p == p.sorted && p.distinct.length == p.length)
    }
  }

  test("qualityQuantileFilter: threshold+tie plan equals the naive per-lang window") {
    import org.apache.spark.sql.expressions.Window
    val TA = graft.operators.TextAnalysis
    val got = TA.qualityQuantileFilter(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // naive semantics: full window per language, rank <= 1 + keep*(n-1)
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("lang"))
    val q = TA.quality(spark, TestSpark.sf)
      .select(col("doc_id"),
        round(col("stopword_ratio") - col("punct_ratio") -
          col("digit_ratio"), 6).as("score"))
      .join(docs, "doc_id")
    val w = Window.partitionBy("lang").orderBy(col("score").desc, col("doc_id"))
    val want = q.withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
      .filter(col("rk") <= floor(lit(1.0) + lit(0.5) * (col("n") - 1)))
      .select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === want && got.nonEmpty)
    // roughly half of each language survives
    val byLang = got.groupBy(_._1).view.mapValues(_.size)
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    byLang.foreach { case (l, k) =>
      assert(math.abs(k.toDouble / totals(l) - 0.5) < 0.1, s"$l kept $k of ${totals(l)}")
    }
  }

  test("quantile filter keeps exactly floor(1 + keep*(n-1)) per lang under heavy ties") {
    import spark.implicits._
    val TA = graft.operators.TextAnalysis
    // 3 score classes x 10 docs per lang: most of the kept set comes
    // from INSIDE a tie group, so the tie-quota branch does the work
    val variants = Seq(
      "the a and of to in is that it for",     // all stopwords: high score
      "one two three four five six seven",      // no stopwords: mid
      "1 2 3 4 5 6 7 8 9 10")                   // digits: low
    val docs = for (l <- Seq("en", "de"); i <- 0 until 30)
      yield ((if (l == "en") 0 else 1000) + i.toLong,
        variants(i % 3), l, "s")
    val dir = java.nio.file.Files.createTempDirectory("quantfix").toString
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    for (keep <- Seq(0.25, 0.5, 0.9)) {
      val kept = TA.qualityQuantileFilter(spark, dir, keep).collect()
      val byLang = kept.groupBy(_.getString(0)).view.mapValues(_.length)
      val k = math.floor(1.0 + keep * 29).toLong
      Seq("en", "de").foreach { l =>
        assert(byLang.getOrElse(l, 0) === k, s"keep=$keep lang=$l")
      }
      // kept docs are the BEST-scoring, ties broken by doc_id: variants
      // cycle i%3 with strictly ordered class scores (stopwords > plain
      // words > digits), so the expected kept set is the first k ids in
      // (class, doc_id) order
      kept.groupBy(_.getString(0)).foreach { case (lang, rows) =>
        val base = if (lang == "en") 0L else 1000L
        val expected = (0 until 30).map(i => (i % 3, base + i)).sorted
          .take(k.toInt).map(_._2).toSet
        assert(rows.map(_.getLong(1)).toSet === expected,
          s"keep=$keep lang=$lang")
      }
    }
  }

  test("quantile filter on a one-score boilerplate corpus: tie cut spans " +
      "buckets and keeps exactly the first quota ids") {
    import spark.implicits._
    val TA = graft.operators.TextAnalysis
    // every doc identical: ONE rounded score per lang, the tie group IS
    // the corpus — the exact shape the histogram-offset cut exists for.
    // 600 ids with shift=8 → buckets {0,1,2}; keep=0.5 → quota 300:
    // bucket 0 whole-kept (256), bucket 1 is the boundary (ranks
    // 257..300), bucket 2 whole-dropped
    val docs = (0L until 600L).map(i => (i, "the quick brown fox", "en", "s"))
    val dir = java.nio.file.Files.createTempDirectory("boiler").toString
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = TA.qualityQuantileFilter(spark, dir, 0.5).collect()
      .map(_.getLong(1)).sorted
    val k = math.floor(1.0 + 0.5 * 599).toLong
    assert(kept.length === k.toInt)
    assert(kept.toSeq === (0L until k))
  }

  test("bm25Batch: the batch member with the standing terms equals the single-query ranking") {
    val single = graft.operators.Retrieval.bm25FromIndex(spark, TestSpark.sf)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    val batch = graft.operators.Retrieval.bm25Batch(spark, TestSpark.sf)
      .filter(col("query_id") === 1L).orderBy("rk")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    assert(batch.toSeq === single.toSeq)
    // a REPEATED term in one query's list must not double its postings:
    // bm25Search dedups via isin, so the batch path must dedup too
    val dup = graft.operators.Retrieval.bm25Batch(spark, TestSpark.sf,
        batch = Seq(7L -> Seq("hash", "hash", "join", "scan")))
      .orderBy("rk")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    assert(dup.toSeq === single.toSeq,
      "duplicated query term double-counted in the batch ranking")
  }

  test("empty query lists return zero rows with the serves' normal schema") {
    val R = graft.operators.Retrieval
    val S = graft.operators.Similarity
    Seq(
      R.bm25Search(spark, TestSpark.sf, Seq()) -> R.bm25Search(spark, TestSpark.sf),
      R.bm25Batch(spark, TestSpark.sf, Seq()) -> R.bm25Batch(spark, TestSpark.sf),
      S.probedTopKForIds(spark, TestSpark.sf, Seq()) ->
        S.probedTopKForIds(spark, TestSpark.sf, Seq(1L))
    ).foreach { case (empty, normal) =>
      assert(empty.schema === normal.schema)
      assert(empty.collect().isEmpty)
    }
  }

  test("hybridSearch: fused ranking equals an RRF recompute of both sides") {
    val R = graft.operators.Retrieval
    // recompute the fusion in plain Scala from the two candidate pools,
    // independently of the operator's union/groupBy/window shape
    val lex = R.bm25Batch(spark, TestSpark.sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Long]("rk")).toMap
    val sem = graft.operators.Similarity
      .probedTopKForIds(spark, TestSpark.sf, R.QueryBatch.map(_._1), k = 20)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Long]("rk")).toMap
    val want = (lex.keySet ++ sem.keySet).groupBy(_._1).flatMap {
      case (q, keys) =>
        val scored = keys.toSeq.map { k =>
          val rrf = lex.get(k).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
            sem.get(k).map(r => 1.0 / (60 + r)).getOrElse(0.0)
          (k._2, rrf)
        }.sortBy { case (d, s) => (-s, d) }.take(10)
        scored.zipWithIndex.map { case ((d, s), i) =>
          (q, (i + 1).toLong, d, math.rint(s * 1e6) / 1e6)
        }
    }.toSeq.sortBy(t => (t._1, t._2))
    val got = R.hybridSearch(spark, TestSpark.sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rk"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("rrf"))).toSeq
    assert(got === want, "fused ranking diverged from the RRF recompute")
    // a doc both sides agree on must outrank one only a single side
    // returned at similar depth — spot the fusion actually fuses
    assert(got.nonEmpty && got.groupBy(_._1).size === R.QueryBatch.size)
  }

  test("index-served BM25 and phrase search equal their full-scan twins") {
    val R = graft.operators.Retrieval
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rowsOf(R.bm25FromIndex(spark, TestSpark.sf)) ===
      rowsOf(R.bm25Search(spark, TestSpark.sf)))
    assert(rowsOf(R.phraseFromIndex(spark, TestSpark.sf)) ===
      rowsOf(R.phraseSearch(spark, TestSpark.sf)))
  }

  test("bm25Search: positive descending scores, term counts bounded by query") {
    val rows = graft.operators.Retrieval.bm25Search(spark, TestSpark.sf)
      .collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val scores = rows.map(_.getAs[Double]("score")).toSeq
    assert(scores === scores.sorted.reverse)
    rows.foreach { r =>
      assert(r.getAs[Double]("score") > 0.0)
      val nt = r.getAs[Long]("n_terms")
      assert(nt >= 1L && nt <= 3L)
    }
  }

  test("phraseSearch counts exact adjacent occurrences, ignores bags") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("phrasefix").toString
    Seq(
      (1L, "hash join hash join twice", "en", "s"),
      (2L, "one hash join here", "en", "s"),
      (3L, "join hash reversed never matches", "en", "s"),
      (4L, "hash alone and join apart", "en", "s"),
      (5L, "", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.Retrieval.phraseSearch(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // doc 3 has both tokens but never adjacent in order; 4 has them
    // apart; 5 is empty — only 1 (twice) and 2 (once) match
    assert(got === Seq((1L, 2L), (2L, 1L)))
    // the index-served n-term generalization on the same fixture: the
    // overlapping 3-phrase "hash join hash" occurs once in doc 1
    // ("hash join hash join …") and nowhere else
    val got3 = graft.operators.Retrieval
      .phraseFromIndexN(spark, dir, Seq("hash", "join", "hash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got3 === Seq((1L, 1L)))
  }

  test("bigramLogprob: bigram counts = max(n_tokens - 1, 0), scores negative") {
    val TA = graft.operators.TextAnalysis
    val j = TA.bigramLogprob(spark, TestSpark.sf)
      .join(TA.tokenCounts(spark, TestSpark.sf)
        .select("doc_id", "n_tokens"), "doc_id").collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      val nb = r.getAs[Long]("n_bigrams")
      assert(nb === math.max(r.getAs[Long]("n_tokens") - 1, 0L))
      if (nb > 0) assert(r.getAs[Double]("avg_logprob") < 0.0)
      else assert(r.getAs[Double]("avg_logprob") === 0.0)
    }
  }

  test("unigramLogprob: negative scores, token counts agree with tokenCounts") {
    val lp = graft.operators.TextAnalysis.unigramLogprob(spark, TestSpark.sf)
    val tc = graft.operators.TextAnalysis.tokenCounts(spark, TestSpark.sf)
      .select("doc_id", "n_tokens")
    assert(lp.join(tc, "doc_id")
      .filter(lp("n_tokens") =!= tc("n_tokens")).isEmpty)
    lp.collect().foreach { r =>
      if (r.getAs[Long]("n_tokens") > 0)
        assert(r.getAs[Double]("avg_logprob") < 0.0)
      else assert(r.getAs[Double]("avg_logprob") === 0.0)
    }
  }

  test("sampleKPerLang on a null-text corpus: the null doc samples FIRST " +
      "(empty sort key), never silently dropped by the aggregate") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("nulldocs").toString
    try {
      // 7 docs in one language, doc 3 has NULL text. BottomK skips null
      // keys, so without the coalesce-to-'' discipline the null doc
      // would vanish from the 5-sample where the quota family (and the
      // oracle's nulls-first window replay) ranks it first.
      (0L until 7L).map(i =>
          (i, if (i == 3) null else s"alpha beta doc $i",
            "en", "web", 20L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.operators.TextAnalysis.sampleKPerLang(spark, dir)
        .collect()
        .map(r => (r.getString(1), r.getLong(2)))
      assert(got.length == 5, s"sample size: ${got.toSeq}")
      assert(got.head == ("", 3L),
        s"null-text doc not first with empty sort key: ${got.toSeq}")
      // and the quota family agrees: the null doc is kept under the
      // same nulls-first-as-'' order
      val q = graft.operators.Sampling.sourceQuota(spark, dir, quota = 5)
        .collect().map(r => (r.getLong(0), r.getBoolean(3))).toMap
      assert(q(3L), "quota dropped the null-text doc the sample kept")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("null GROUP keys (lang/source) are their own group, never dropped: " +
      "stratified split, doc_pack and the quota all rank them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("nullgrp").toString
    try {
      // 10 docs; docs 4 and 7 have NULL lang AND NULL source. The
      // histogram-offset joins key on the group column — a plain
      // equi-join silently LOSES the null-group docs where the window
      // forms (and the DuckDB oracles' PARTITION BY) rank them.
      (0L until 10L).map(i =>
          (i, s"alpha beta gamma doc $i words",
            if (i == 4 || i == 7) null else "en",
            if (i == 4 || i == 7) null else "web", 25L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val S = graft.operators.Sampling
      val split = S.stratifiedSplit(spark, dir).collect()
      assert(split.length == 10, "stratified split lost null-lang docs")
      // the two null-lang docs form their own 2-doc stratum: exact
      // 90/5/5 cuts at n=2 give (2*90)//100 = 1 train, 1 val... wait:
      // r<=1 train, r<=(2*95)//100=1 val unreachable, rest test — so
      // exactly one train and one test
      val nullStratum = split.filter(_.isNullAt(1)).map(_.getString(2))
      assert(nullStratum.length == 2 &&
        nullStratum.count(_ == "train") == 1,
        s"null-lang stratum miscut: ${nullStratum.toSeq}")
      val pack = S.docPack(spark, dir).collect()
      assert(pack.length == 10, "doc_pack lost null-source docs")
      assert(pack.filter(_.isNullAt(1)).length == 2)
      val quota = S.sourceQuota(spark, dir, quota = 1).collect()
        .map(r => (r.getLong(0), r.getBoolean(3)))
      assert(quota.length == 10, "quota lost null-source docs")
      // the null-source group keeps exactly its quota of 1
      val nullKept = split.filter(_.isNullAt(1)).map(_.getLong(0)).toSet
      assert(quota.filter(t => nullKept.contains(t._1))
        .count(_._2) == 1, "null-source group did not rank to quota")
      // the quality quantile keep ranks the null-lang stratum too:
      // keep=0.5 over its 2 docs keeps floor(1 + 0.5·1) = 1 of them
      val qual = graft.operators.TextAnalysis
        .qualityQuantileFilter(spark, dir).collect()
      assert(qual.count(_.isNullAt(0)) == 1,
        s"null-lang stratum not quantile-kept: ${qual.toSeq}")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("unigram-LM tokenizer: singles coverage, Viterbi picks the " +
      "learned multi-char piece, encode compresses and is deterministic") {
    import spark.implicits._
    val T2 = graft.operators.TextAnalysis
    // synthetic corpus: 'abab' dominates → 'ab'/'abab' must earn high
    // scores and Viterbi must prefer ONE 'abab' piece over char paths
    val dir = java.nio.file.Files.createTempDirectory("ulm").toString
    try {
      val docs = (0L until 30L).map(i => (i, "abab abab cdcd", "en", "w", 14L)) ++
        Seq((100L, "xy", "en", "w", 2L))
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val vocab = T2.ulmVocab(spark, dir).collect()
      val pieces = vocab.map(_.getString(0)).toSet
      // coverage floor: every char of every word is a piece
      assert(Set("a", "b", "c", "d", "x", "y").subsetOf(pieces))
      assert(pieces.contains("abab") && pieces.contains("cdcd"))
      val enc = T2.ulmEncode(spark, dir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      // 'abab abab cdcd' = 12 chars; the whole-word pieces dominate the
      // corpus, so Viterbi encodes each word as ONE piece: 3 tokens
      assert(enc(0L) == ((12L, 3L)), s"got ${enc(0L)}")
      assert(enc(100L) == ((2L, 1L)) || enc(100L) == ((2L, 2L)))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))

    // harness corpus: structural invariants + determinism
    val sf = TestSpark.sf
    val v = T2.ulmVocab(spark, sf).collect()
    assert(v.nonEmpty && v.forall(_.getDouble(3) < 0.0))
    val rows = T2.ulmEncode(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1),
        s"doc ${r.getLong(0)}: more pieces than chars") }
    // the model must actually compress (multi-char pieces in use)
    assert(rows.map(_.getLong(2)).sum < rows.map(_.getLong(1)).sum)
    val again = T2.ulmEncode(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("quality classifier: GD probe separates a disjoint-vocabulary " +
      "corpus and emits calibrated-side probabilities") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("qc").toString
    try {
      // curated (src0 ∈ DsirTargets) and crawl docs with disjoint
      // vocabularies — a linearly separable problem the 4-round probe
      // must solve exactly
      val curated = (0L until 20L).map(i =>
        (i, "alpha beta gamma delta epsilon", "en", "src0", 30L))
      val crawl = (100L until 120L).map(i =>
        (i, "zebra xylo qux nope junk", "en", "web", 25L))
      (curated ++ crawl)
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = graft.operators.TextAnalysis.qualityClassifier(spark, dir)
        .collect()
      assert(out.length == 40)
      out.foreach { r =>
        val p = r.getDouble(3)
        assert(p > 0.0 && p < 1.0, s"prob out of range: $p")
        assert(r.getBoolean(4) == (r.getInt(1) == 1),
          s"doc ${r.getLong(0)} misclassified: $r")
      }
      // deterministic replay (memoized features + deterministic GD)
      val again = graft.operators.TextAnalysis.qualityClassifier(spark, dir)
        .collect()
      assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))

    // harness corpus: one row per doc, probs in (0,1), both labels seen
    val rows = graft.operators.TextAnalysis
      .qualityClassifier(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getDouble(3) > 0.0 && r.getDouble(3) < 1.0))
    assert(rows.map(_.getInt(1)).toSet == Set(0, 1))
  }

  test("quality classifier: non-degenerate predictions on a 15%-" +
      "positive imbalanced corpus (base-rate bias init + calibrated " +
      "threshold — the r14 all-negative-at-scale finding)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("qcimb").toString
    try {
      // 15 curated / 85 crawl — the imbalance the r14 z≥0 cut went
      // all-negative on. Vocabularies separable but overlapping (the
      // shared filler keeps it from being a trivially-0-loss problem).
      val curated = (0L until 15L).map(i =>
        (i, s"alpha beta gamma delta filler$i common words here",
          "en", "src0", 40L))
      val crawl = (100L until 185L).map(i =>
        (i, s"zebra xylo qux nope junk$i common words here",
          "en", "web", 38L))
      (curated ++ crawl)
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = graft.operators.TextAnalysis.qualityClassifier(spark, dir)
        .collect()
      assert(out.length == 100)
      val (pos, neg) = out.partition(_.getInt(1) == 1)
      // BOTH classes appear in the hard decision
      val preds = out.map(_.getBoolean(4)).toSet
      assert(preds == Set(true, false),
        s"degenerate predictions: $preds")
      // separation: every curated doc scores above every crawl doc
      assert(pos.map(_.getDouble(2)).min > neg.map(_.getDouble(2)).max,
        "scores do not separate the classes")
      // calibrated cut is also ACCURATE here: majority of each class
      // lands on its own side
      assert(pos.count(_.getBoolean(4)) * 2 > pos.length,
        "most curated docs should predict true")
      assert(neg.count(!_.getBoolean(4)) * 2 > neg.length,
        "most crawl docs should predict false")

      // kept-fraction calibration on the SAME imbalanced corpus: the
      // cut keeps exactly ⌊1 + frac·(n−1)⌋ docs, and because the
      // scores separate, the kept set is PRECISION-oriented — all
      // kept docs are curated (the prior cut flagged 60% at r15)
      val fr = graft.operators.TextAnalysis
        .qualityClassifierFrac(spark, dir, frac = 0.15).collect()
      assert(fr.length == 100)
      val k = math.floor(1.0 + 0.15 * (fr.length - 1)).toLong
      val kept = fr.filter(_.getBoolean(3))
      assert(kept.length == k, s"kept ${kept.length}, want $k")
      assert(kept.forall(_.getInt(1) == 1),
        "fraction cut on a separable corpus must keep only curated")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("dsir: pool-only weights, target-like docs outrank aliens, " +
      "Gumbel top-k selects the target-like mass") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dsir").toString
    try {
      // target corpus (source src0 ∈ DsirTargets): tight vocabulary
      val target = (0L until 10L).map(i =>
        (i, "alpha beta gamma delta", "en", "src0", 22L))
      // pool: 20 target-like docs + 20 alien-vocabulary docs + 1 null
      val likes = (100L until 120L).map(i =>
        (i, s"alpha beta gamma delta extra$i", "en", "web1", 28L))
      val aliens = (200L until 220L).map(i =>
        (i, s"zebra xylo qux nope junk$i", "en", "web2", 26L))
      val nullDoc = Seq((300L, null.asInstanceOf[String], "en", "web2", 0L))
      (target ++ likes ++ aliens ++ nullDoc)
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val S = graft.operators.Sampling
      val w = S.dsirWeights(spark, dir).collect()
      // pool only: the 10 target docs never appear
      assert(w.length == 41 && w.forall(_.getLong(0) >= 100L),
        s"weights rows: ${w.length}")
      val byId = w.map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
      // n_feats = tokens + bigrams (5 + 4 for every non-null pool doc)
      assert(byId(100L)._1 == 9L && byId(200L)._1 == 9L)
      assert(byId(300L) == ((0L, 0.0)), "null-text doc not neutral")
      // every target-like doc outranks every alien doc
      val likeMin = (100L until 120L).map(byId(_)._2).min
      val alienMax = (200L until 220L).map(byId(_)._2).max
      assert(likeMin > alienMax,
        s"likeMin=$likeMin !> alienMax=$alienMax")
      // Gumbel top-k: k rows, keys non-increasing, and the selection
      // is dominated by target-like docs (weight gap ≫ Gumbel spread)
      val sel = S.dsirSelect(spark, dir, k = 10).collect()
      assert(sel.length == 10)
      val keys = sel.map(_.getDouble(3))
      assert(keys.zip(keys.tail).forall { case (a, b) => a >= b })
      assert(sel.count(_.getLong(0) < 200L) >= 8,
        s"selection not target-enriched: ${sel.map(_.getLong(0)).toSeq}")
      // deterministic replay
      val again = S.dsirSelect(spark, dir, k = 10).collect()
      assert(sel.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)

      // proportional selection: kept count is exactly the quantile
      // rank bound, and the kept SET equals the literal-k top cut at
      // the same k — the histogram threshold is a pure plan-shape
      // change, not a semantics change
      val fr = S.dsirSelectFrac(spark, dir, frac = 0.25).collect()
      assert(fr.length == 41)
      val n = fr.length
      val k = math.floor(1.0 + 0.25 * (n - 1)).toLong
      val kept = fr.filter(_.getBoolean(4)).map(_.getLong(0)).toSet
      assert(kept.size == k, s"kept ${kept.size}, want $k")
      val topK = S.dsirSelect(spark, dir, k = k.toInt)
        .collect().map(_.getLong(0)).toSet
      assert(kept == topK, s"frac cut != literal-k cut: $kept vs $topK")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("dsirLogRatio survives true-100TB count magnitudes (the r14 " +
      "silent Long-product wraparound) and matches exact arithmetic") {
    import spark.implicits._
    val S = graft.operators.Sampling
    val B = S.DsirBuckets
    // a hot bucket at a 100 TB corpus: ~5e13 total feature instances,
    // ~5e10 in one bucket — the r14 form's Long product here is
    // ~2.5e24 ≫ 2^63 and wrapped silently under non-ANSI Spark
    val cases = Seq(
      (50000000000L, 40000000000000L, 1000000000000L, 50000000000000L),
      (0L, 50000000000000L, 1000000000000L, 50000000000000L),
      (9007199254740992L, 9007199254740992L, // 2^53: factor-cast edge
        9007199254740992L, 9007199254740992L))
    val got = cases.toDF("ct", "cr", "nt", "nr")
      .select(S.dsirLogRatio(org.apache.spark.sql.functions.col("ct"),
        org.apache.spark.sql.functions.col("cr"),
        org.apache.spark.sql.functions.col("nt"),
        org.apache.spark.sql.functions.col("nr")).as("lr"))
      .collect().map(_.getDouble(0))
    val want = cases.map { case (ct, cr, nt, nr) =>
      val v = math.log(((ct + 1L).toDouble * (nr + B).toDouble) /
        ((cr + 1L).toDouble * (nt + B).toDouble))
      BigDecimal(v).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    got.zip(want).foreach { case (g, w) =>
      assert(!g.isNaN && !g.isInfinite, s"non-finite log ratio: $g")
      assert(g == w, s"got $g want $w")
    }
    // the wrapped form really does corrupt at these magnitudes — the
    // property this spec exists to keep dead (the wrap can land on
    // either sign; what matters is it is not the true product)
    val wrapped = (50000000000L + 1L) * (50000000000000L + B)
    val exact = (BigInt(50000000000L) + 1) * (BigInt(50000000000000L) + B)
    assert(BigInt(wrapped) != exact,
      "expected 2^63 wraparound in the old form")
  }

  test("fracBoundary: ONE-row driver artifact at a WIDE key range " +
      "(the r15 histogram-collect bound), matching the brute rank") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val S = graft.operators.Sampling
    // wide-key corpus shape: |sel_key| up to ~1e6 (a 2e5-feature doc
    // over hot-bucket ratios), tens of thousands of OCCUPIED 2dp bins
    // — the r15 driver collect() pulled every one of them; the
    // distributed search must return exactly one row regardless
    val rnd = new scala.util.Random(7)
    val rows = (0 until 60000).map { i =>
      (i.toLong, math.floor(rnd.nextDouble() * 2e8 - 1e8).toLong) }
    val binned = rows.toDF("doc_id", "bin").repartition(8)
    val got = S.fracBoundary(binned, 0.25)
    assert(got.length == 1, s"driver artifact rows: ${got.length}")
    val r = got.head
    // brute replay of the boundary law on the driver
    val sorted = rows.map(_._2).sortBy(b => -b)
    val n = sorted.length
    val k = math.floor(1.0 + 0.25 * (n - 1)).toLong
    val bStar = sorted(k.toInt - 1)
    assert(r.getAs[Long]("bin") == bStar, s"boundary bin ${r}")
    val above = sorted.count(_ > bStar).toLong
    assert(r.getAs[Long]("quota") == k - above, s"quota $r")
    assert(r.getAs[Long]("n") == n && r.getAs[Long]("k") == k)
    assert(r.getAs[Long]("n_bins") == rows.map(_._2).distinct.length.toLong)
    assert(r.getAs[Long]("boundary_cnt") ==
      sorted.count(_ == bStar).toLong)
    // empty pool: empty result, not a crash or a zero row
    assert(S.fracBoundary(binned.filter(lit(false)), 0.25).isEmpty)
  }
}
