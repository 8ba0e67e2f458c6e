package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Quantize, Similarity}

class QuantizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def tops(df: org.apache.spark.sql.DataFrame) =
    df.collect().groupBy(_.getAs[Long]("q_id"))
      .map { case (q, g) => q -> g.map(_.getAs[Long]("vec_id")).toSet }

  test("pq codes: M codes per vector, every code a trained codebook id") {
    val codes = Quantize.pqCodes(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = Similarity.embeddingsWithNorm(spark, sf).count()
    assert(codes.length === n * Quantize.M)
    val perVec = codes.groupBy(_._1)
    assert(perVec.values.forall(g =>
      g.map(_._2).sorted.toSeq === (0L until Quantize.M.toLong)))
    // codes reference entries the trained codebook actually has (empty
    // Lloyd clusters vanish, so membership — not just range — matters)
    val cb = Quantize.trainCodebooks(spark, sf).collect()
      .map(r => (r.getAs[Int]("sub").toLong, r.getAs[Long]("c_id"))).toSet
    assert(codes.forall { case (_, sub, code) => cb.contains((sub, code)) })
  }

  test("ADC serves from the compressed index memo, not the raw vectors") {
    val plan = Quantize.pqTopK(spark, sf).queryExecution.executedPlan.toString
    // the scan side must be the (vec_id, nrm, sub, code) memo — ~20 B
    // per vector; embeddings may appear only as the bounded query side
    assert(plan.contains("graft-memo-pq_index"),
      s"ADC does not read the compressed index:\n$plan")
  }

  test("PQ recall: ADC beats nothing-burger, exact re-rank beats ADC") {
    val brute = tops(Similarity.bruteForceTopK(spark, sf, k = 10))
    def meanRecall(m: Map[Long, Set[Long]]): Double = {
      val rs = brute.map { case (q, b) =>
        m.get(q).map(i => (b & i).size.toDouble / b.size).getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    val adc = meanRecall(tops(Quantize.pqTopK(spark, sf, k = 10)))
    val rr = meanRecall(tops(Quantize.pqTopKRerank(spark, sf, k = 10)))
    // 32-bit codes: deterministic 0.35 / 0.69 on this corpus — bounds
    // leave slack for parameter tweaks, not for regressions
    assert(adc >= 0.3, s"ADC recall@10 $adc")
    assert(rr >= 0.6, s"re-ranked recall@10 $rr")
    assert(rr > adc, "exact re-rank must improve on raw ADC")
  }

  test("SQ8: serves from the quantized memo, codes in [-127,127], " +
      "recall near-exact and above ADC, re-rank never loses") {
    val plan = Quantize.int8TopK(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("graft-memo-int8_index"),
      s"SQ8 does not read the quantized index:\n$plan")
    val mm = Quantize.int8IndexTable(spark, sf)
      .select(explode(col("codes")).as("c"))
      .agg(min(col("c")), max(col("c"))).collect().head
    assert(mm.getInt(0) >= -127 && mm.getInt(1) <= 127, mm.toString)
    val brute = tops(Similarity.bruteForceTopK(spark, sf, k = 10))
    def meanRecall(m: Map[Long, Set[Long]]): Double = {
      val rs = brute.map { case (q, b) =>
        m.get(q).map(i => (b & i).size.toDouble / b.size).getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    val i8 = meanRecall(tops(Quantize.int8TopK(spark, sf, k = 10)))
    val rr = meanRecall(tops(Quantize.int8TopKRerank(spark, sf, k = 10)))
    // 8 bits per DIMENSION (512-bit codes) vs PQ's 32-bit codes: SQ8
    // must sit far above the ADC's ~0.35 — near-exact on this corpus
    assert(i8 >= 0.9, s"SQ8 recall@10 $i8")
    assert(rr >= i8, "exact re-rank must not lose recall vs raw SQ8")
  }

  test("OPQ: Hadamard rotation orthonormal; rotated ADC recall in PQ's class") {
    val h = Quantize.hadamardMatrix()
    val d = h.length
    // H·Hᵀ = d·I for the ±1 matrix (rotateBy folds in the 1/√d), so
    // the rotation is exactly orthonormal and cosine-invariant
    for (i <- 0 until d; j <- i until d) {
      val dot = (0 until d).map(k => h(i)(k) * h(j)(k)).sum
      assert(dot === (if (i == j) d.toDouble else 0.0), s"H row ${i} x row ${j}")
    }
    val brute = tops(Similarity.bruteForceTopK(spark, sf, k = 10))
    def meanRecall(m: Map[Long, Set[Long]]): Double = {
      val rs = brute.map { case (q, b) =>
        m.get(q).map(i => (b & i).size.toDouble / b.size).getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    // the rotation changes WHICH 32-bit code approximation each vector
    // gets, not the ground truth it approximates (rotation-invariant
    // cosine); on this isotropic synthetic corpus OPQ's decorrelation
    // has nothing to win, so the pin is "same class as plain PQ", not
    // "strictly better" — the payoff case is energy-concentrated data
    val opq = meanRecall(tops(Quantize.opqTopK(spark, sf, k = 10)))
    val pq = meanRecall(tops(Quantize.pqTopK(spark, sf, k = 10)))
    assert(opq >= 0.25, s"OPQ ADC recall@10 $opq")
    assert(opq >= pq - 0.15, s"OPQ recall $opq fell out of PQ's class ($pq)")
    // the production recipe: exact re-rank (over the ORIGINAL vectors —
    // cosine is rotation-invariant) must not lose to the raw shortlist
    val rr = meanRecall(tops(Quantize.opqTopKRerank(spark, sf, k = 10)))
    assert(rr >= opq, "exact re-rank must not lose recall vs rotated ADC")
  }

  test("OPQ: learned Procrustes rotation stays orthonormal and serves " +
      "in the same recall class") {
    val r = Quantize.opqLearnedRotation(spark, sf, rounds = 1)
    val d = r.length
    // rotateBy-convention matrix (√d folded in): rows pairwise
    // orthogonal with squared norm d, to SVD reconstruction tolerance
    for (i <- 0 until d; j <- i until d) {
      val dot = (0 until d).map(k => r(i)(k) * r(j)(k)).sum
      assert(math.abs(dot - (if (i == j) d.toDouble else 0.0)) < 1e-6,
        s"R row ${i} x row ${j} = $dot")
    }
    // and it is NOT the Hadamard init (the Procrustes step moved it)
    val h = Quantize.hadamardMatrix()
    assert((0 until d).exists(i => (0 until d).exists(j =>
      math.abs(r(i)(j) - h(i)(j)) > 1e-3)), "learned rotation never left init")
    val brute = tops(Similarity.bruteForceTopK(spark, sf, k = 10))
    def meanRecall(m: Map[Long, Set[Long]]): Double = {
      val rs = brute.map { case (q, b) =>
        m.get(q).map(i => (b & i).size.toDouble / b.size).getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    val learned = meanRecall(tops(Quantize.opqTopKWith(spark, sf, r, k = 10)))
    val pq = meanRecall(tops(Quantize.pqTopK(spark, sf, k = 10)))
    assert(learned >= pq - 0.15,
      s"learned-rotation recall $learned fell out of PQ's class ($pq)")
  }

  test("Lloyd mean convention: string-mediated decimal quotient + " +
      "float32 round-trip, pinned on the vecdegen-s3 repro numbers") {
    import spark.implicits._
    // The cluster-(2,9) mean from the vecdegen seed-3 gate session —
    // 1e16-magnitude subvector entries whose decimal sum is an exact
    // integer, so the expected mean is computable on the driver with
    // no engine-cast ambiguity: sum = 2589014741745664, /8 =
    // 323626842718208 exactly; the float32 hop (the convention BOTH
    // engines share so trained codebooks are bit-identical at every
    // magnitude) moves it to 323626859495424. This pins
    // trainCodebooksOver's mean-update arithmetic — sum through
    // decimal(38,18), decimal→double through a STRING (correctly
    // rounded, vs BigDecimal.doubleValue's double-rounding), then
    // .cast("float").cast("double") — against drift: any hop changing
    // silently re-forks cross-engine codebooks on float-edge corpora.
    val xs = Seq(
      -5.11350130427822080e+16, -5.11350130427822080e+16,
      4.16680976685465600e+16, 9.34692190683136000e+14,
      9.34692190683136000e+14, 4.16680976685465600e+16,
      7.07884741516328960e+16, -5.11350130427822080e+16)
    val exactSum = xs.map(x =>
      BigDecimal(new java.math.BigDecimal(x))).sum
    assert(exactSum === BigDecimal(2589014741745664L), "fixture drifted")
    val wantMean = 323626842718208.0
    val wantF32 = wantMean.toFloat.toDouble
    assert(wantF32 === 3.23626859495424e14)
    val got = xs.toDF("x").repartition(3)
      .agg(((sum(col("x").cast("decimal(38,18)")).cast("string")
        .cast("double") / count(lit(1)))
        .cast("float").cast("double")).as("m"))
      .collect().head.getDouble(0)
    assert(java.lang.Double.doubleToLongBits(got) ==
      java.lang.Double.doubleToLongBits(wantF32),
      s"mean convention drifted: got $got want $wantF32")
  }

  test("OPQ payoff: learned rotation strictly beats plain PQ on an " +
      "energy-concentrated corpus") {
    import spark.implicits._
    import java.nio.file.Files
    // The Ge et al. 2013 claim the rotation seam exists for: on the
    // harness corpus (isotropic) rotation has nothing to win, so the
    // main spec pins only "same class". Here the per-dim scale decays
    // 2^(-i/4): nearly all energy lives in the first subspace, plain
    // PQ spends one 16-entry codebook on it and seven on noise, while
    // the rotation spreads the energy so all eight codebooks work.
    val dir = Files.createTempDirectory("opqaniso").toString
    val rnd = new scala.util.Random(42)
    val rows = (0L until 300L).map { i =>
      (i, Array.tabulate(64)(d =>
        (rnd.nextGaussian() * math.pow(2.0, -d / 4.0)).toFloat), 0)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val brute = tops(Similarity.bruteForceTopK(spark, dir, k = 10))
    def meanRecall(m: Map[Long, Set[Long]]): Double = {
      val rs = brute.map { case (q, b) =>
        m.get(q).map(i => (b & i).size.toDouble / b.size).getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    val pq = meanRecall(tops(Quantize.pqTopK(spark, dir, k = 10)))
    val r = Quantize.opqLearnedRotation(spark, dir, rounds = 1)
    val learned = meanRecall(tops(Quantize.opqTopKWith(spark, dir, r, k = 10)))
    info(s"recall@10 learned=$learned pq=$pq")
    // deterministic 0.525 vs 0.3625 on this fixture — the bound pins a
    // REAL gap (not a 1/(k·|Q|) tie-break hairline), with slack for
    // parameter tweaks
    assert(learned > pq + 0.05,
      s"learned rotation must strictly beat plain PQ on anisotropic " +
        s"data: learned=$learned pq=$pq")
  }

  test("maintained PQ index: frozen-codebook append equals the full encode") {
    val t = graft.sources.Bucketing.ensureMaintainedPqIndex(spark, sf)
    val got = spark.table(t).orderBy("vec_id", "sub")
      .collect().map(_.toString).toSeq
    val want = Quantize.pqCodes(spark, sf).count()
    assert(got.length.toLong === want,
      "maintained index row count diverged from the full encode")
    // the served ADC ranking is byte-identical to the memo-served one —
    // the append-correctness proof the oracle row also gates
    val served = Quantize.pqMaintainedTopK(spark, sf)
      .collect().map(_.toString).toSeq
    val full = Quantize.pqTopK(spark, sf).collect().map(_.toString).toSeq
    assert(served === full, "maintained-served ADC diverged")
  }

  test("packed ADC equals the long-format ADC") {
    val long = Quantize.pqTopK(spark, sf).collect().map(_.toString).toSeq
    val packed = Quantize.pqPackedTopK(spark, sf)
      .collect().map(_.toString).toSeq
    assert(packed === long, "packed layout diverged from the long format")
    // the packed scan is one row per vector
    val n = Similarity.embeddingsWithNorm(spark, sf).count()
    assert(Quantize.pqPackedIndexTable(spark, sf).count() === n)
  }

  test("churned PQ index: deleted vectors never reach the fold") {
    val got = Quantize.pqChurnTopK(spark, sf).collect()
    got.foreach(r => assert(r.getAs[Long]("vec_id") % 10 !== 0L,
      "a tombstoned vector surfaced in the churned top-k"))
    // equals ADC over an index that never contained the deleted batch
    val survivors = Quantize.pqIndexTable(spark, sf)
      .filter(col("vec_id") % 10 =!= 0)
    val want = Quantize.pqTopKOver(survivors, spark, sf)
      .collect().map(_.toString).toSeq
    assert(got.map(_.toString).toSeq === want,
      "churned serve diverged from the survivor-only encode")
  }

  test("ivf-sq8: bucket-pruned scan, recall tracks the exact in-list " +
      "serve (8-bit/dim loses almost nothing inside the probed lists)") {
    val df = Quantize.int8IvfTopK(spark, sf, k = 10)
    val plan = df.queryExecution.executedPlan.toString
    assert("SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(plan).isDefined,
      s"ivf-sq8 scan did not bucket-prune:\n$plan")
    val brute = tops(Similarity.bruteForceTopK(spark, sf, k = 10))
    def meanRecall(m: Map[Long, Set[Long]]): Double = {
      val rs = brute.map { case (q, b) =>
        m.get(q).map(i => (b & i).size.toDouble / b.size).getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    val sq8 = meanRecall(tops(df))
    val exact = meanRecall(tops(Similarity.ivfTopKTrained(spark, sf,
      k = 10, iters = 2)))
    // same probed lists, so the exact in-list serve is the ceiling;
    // 8-bit codes should sit within a whisker of it (PQ's 32-bit codes
    // sit at ~0.5 against the same ceiling)
    assert(sq8 <= exact + 1e-9, "SQ8 cannot beat its own probe ceiling")
    assert(sq8 >= exact - 0.1, s"ivf-sq8 recall $sq8 far below exact $exact")
  }

  test("ivf-sq8 probing every list (nprobe past C) returns exactly the " +
      "flat SQ8 serve's rows") {
    // nprobe = 64 slices past the trained codebook, so every inverted
    // list is probed: the shared probed scan must drop no list and no
    // vector, and score each pair exactly like the flat scan
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    val flat = rows(Quantize.int8TopK(spark, sf, k = 10))
    assert(flat.nonEmpty)
    assert(rows(Quantize.int8IvfTopK(spark, sf, k = 10, nprobe = 64)) === flat)
  }

  test("ivfpq: bucket-pruned probed-list scan, recall improves with rerank") {
    val df = Quantize.pqIvfTopK(spark, sf, k = 10)
    val plan = df.queryExecution.executedPlan.toString
    // the literal c_id IN (...) probe must prune the bucketed codes
    // table to the probed lists' buckets
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(plan)
    assert(sel.isDefined, s"ivfpq scan did not bucket-prune:\n$plan")
    // the full 8-query serve probes most lists at this tiny SF, so pin
    // STRICT pruning with a single-list probe (one coarse list = the
    // production shape where nprobe lists ≪ buckets)
    val t = graft.sources.Bucketing.ensureIvfPqIndex(spark, sf)
    val one = spark.table(t).filter(col("c_id") === 0L)
      .groupBy("c_id").agg(count(col("vec_id")).as("n"))
    val onePlan = one.queryExecution.executedPlan.toString
    val oneSel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(onePlan)
    assert(oneSel.isDefined && oneSel.get.group(1).toInt === 1,
      s"single-list probe opened more than its bucket:\n$onePlan")
    // results come only from probed lists: every hit's coarse list is
    // among its query's nprobe nearest centroids
    val assign = Similarity.assignmentTable(spark, sf)
      .select("vec_id", "c_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cents = Similarity.trainCentroids(spark, sf, iters = 2).collect()
      .map(r => (r.getAs[Long]("c_id"), r.getAs[Seq[Double]]("c_v").toArray,
        r.getAs[Double]("c_nrm")))
    val e = Similarity.embeddingsWithNorm(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getSeq[Double](1).toArray, r.getDouble(2)))).toMap
    def probed(q: Long): Set[Long] = {
      val (qv, qn) = e(q)
      cents.map { case (c, cv, cn) =>
        (c, qv.zip(cv).map { case (a, b) => a * b }.sum / (qn * cn))
      }.sortBy { case (c, cos) => (-cos, c) }.take(8).map(_._1).toSet
    }
    df.collect().foreach { r =>
      val q = r.getAs[Long]("q_id"); val v = r.getAs[Long]("vec_id")
      assert(probed(q).contains(assign(v)),
        s"hit $v for query $q came from an unprobed list")
    }
    // quality: pruning 56/64 lists costs recall vs the full ADC scan,
    // the exact re-rank wins most of it back (bounds pin regressions)
    val brute = tops(Similarity.bruteForceTopK(spark, sf, k = 10))
    def meanRecall(m: Map[Long, Set[Long]]): Double = {
      val rs = brute.map { case (q, b) =>
        m.get(q).map(i => (b & i).size.toDouble / b.size).getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    val ivfpq = meanRecall(tops(df))
    val rr = meanRecall(tops(Quantize.pqIvfTopKRerank(spark, sf, k = 10)))
    assert(ivfpq >= 0.25, s"ivfpq recall@10 $ivfpq")
    assert(rr >= ivfpq, "exact re-rank must not lose recall vs raw ADC")
    assert(rr >= 0.5, s"re-ranked ivfpq recall@10 $rr")
  }

  test("residual ivfpq: residual encoding beats raw-vector encoding") {
    val brute = tops(Similarity.bruteForceTopK(spark, sf, k = 10))
    def meanRecall(m: Map[Long, Set[Long]]): Double = {
      val rs = brute.map { case (q, b) =>
        m.get(q).map(i => (b & i).size.toDouble / b.size).getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    val raw = meanRecall(tops(Quantize.pqIvfTopK(spark, sf, k = 10)))
    val res = meanRecall(tops(Quantize.pqIvfResidualTopK(spark, sf, k = 10)))
    // the point of IVFADC: the code budget spends its resolution on
    // what the coarse quantizer didn't explain, so recall must not
    // regress vs encoding the raw vectors — and on this corpus it wins
    // outright (bound pins the ordering, slack only downward)
    assert(res >= raw, s"residual recall $res < raw-encoding recall $raw")
    assert(res >= 0.3, s"residual ivfpq recall@10 $res")
    // the quantization-error mechanism itself: residuals are strictly
    // smaller targets than the vectors they came from
    val e = Similarity.embeddingsWithNorm(spark, sf)
    val cents = Similarity.trainCentroids(spark, sf, iters = 2)
    val a = Similarity.assignmentTable(spark, sf)
      .select("vec_id", "c_id", "v")
      .join(broadcast(cents.select(col("c_id"), col("c_v"))), "c_id")
      .select(sqrt(aggregate(
        zip_with(col("v"), col("c_v"), (x, c) => (x - c) * (x - c)),
        lit(0.0), (acc, d) => acc + d)).as("rnrm"))
      .agg(avg("rnrm")).head().getDouble(0)
    val vnrm = e.agg(avg("nrm")).head().getDouble(0)
    assert(a < vnrm,
      s"mean residual norm $a is not below mean vector norm $vnrm")
  }

  test("re-rank top-k is the exact cosine order of the ADC shortlist") {
    val pool = Quantize.pqTopK(spark, sf, k = 50).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val e = Similarity.embeddingsWithNorm(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getSeq[Double](1).toArray, r.getDouble(2)))).toMap
    val want = pool.groupBy(_._1).flatMap { case (q, keys) =>
      val (qv, qn) = e(q)
      keys.toSeq.map { case (_, v) =>
        val (vv, vn) = e(v)
        (v, qv.zip(vv).map { case (a, b) => a * b }.sum / (qn * vn))
      }.sortBy { case (v, c) => (-c, v) }.take(10).zipWithIndex
        .map { case ((v, c), i) =>
          (q, (i + 1).toLong, v, math.rint(c * 1e6) / 1e6) }
    }.toSeq.sortBy(t => (t._1, t._2))
    val got = Quantize.pqTopKRerank(spark, sf, k = 10).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSeq
    assert(got === want, "re-rank diverged from the exact shortlist order")
  }
}
