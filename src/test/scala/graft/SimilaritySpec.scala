package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("brute-force topk: k results per query, cosine in range, descending") {
    val rows = Similarity.bruteForceTopK(spark, sf, k = 10).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size == 8)
    byQ.values.foreach { g =>
      assert(g.length == 10)
      val cs = g.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("cos"))
      assert(cs.forall(c => c >= -1.0000001 && c <= 1.0000001))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("trained k-means centroids: C rows, unit-dim arrays, recall holds") {
    val c = Similarity.trainCentroids(spark, sf, iters = 2)
    val rows = c.collect()
    assert(rows.length <= 64 && rows.nonEmpty)
    assert(rows.forall(_.getSeq[Double](1).length == 64))
    def tops(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getAs[Long]("q_id"))
        .map { case (q, g) => q -> g.map(_.getAs[Long]("vec_id")).toSet }
    val brute = tops(Similarity.bruteForceTopK(spark, sf, k = 10))
    val ivf = tops(Similarity.ivfTopKTrained(spark, sf, k = 10, nprobe = 8, iters = 2))
    val recalls = brute.map { case (q, b) =>
      ivf.get(q).map(i => (b & i).size.toDouble / b.size).getOrElse(0.0)
    }
    assert(recalls.sum / recalls.size >= 0.4,
      s"trained recall ${recalls.sum / recalls.size}")
  }

  test("incremental probe reads the persisted assignment, results sane") {
    val df = Similarity.incrementalTopK(spark, sf)
    // the corpus side must be the materialized assignment memo — a plan
    // that re-assigns the corpus per batch re-pays O(n·C) every
    // increment (embeddings appears only as the new-batch side)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft-memo-ivf_assign_2"),
      s"corpus side does not read the persisted assignment:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // new-batch vectors query, existing-corpus vectors answer
      assert(r.getAs[Long]("q_id") % 10 === 0L)
      assert(r.getAs[Long]("vec_id") % 10 !== 0L)
      val c = r.getAs[Double]("cos")
      assert(c >= -1.0000001 && c <= 1.0000001)
    }
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    byQ.values.foreach { g =>
      val cs = g.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("maintained assignment index: append adds files, equals full build") {
    import org.apache.spark.sql.functions.col
    val table = "ivf_assign_append_t"
    try {
      graft.sources.Bucketing.ensureBucketedTable(spark, table,
        Similarity.assignSlice(spark, sf, newBatch = false), Seq("c_id"))()
      def files(): Set[(String, Long)] = {
        val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $table")
          .filter(col("col_name") === "Location")
          .collect()(0).getString(1).stripPrefix("file:")
        new java.io.File(loc).listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length())).toSet
      }
      val preFiles = files()
      graft.sources.Bucketing.append(spark, table,
        Similarity.assignSlice(spark, sf, newBatch = true))
      val postFiles = files()
      assert(preFiles.subsetOf(postFiles),
        s"append rewrote existing index files: ${preFiles.diff(postFiles)}")
      assert(postFiles.size > preFiles.size, "append added no files")
      // maintained table == full-corpus assignment (frozen centroids)
      def asg(df: org.apache.spark.sql.DataFrame) =
        df.select("vec_id", "c_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(asg(spark.table(table)) ===
        asg(Similarity.assignmentTable(spark, sf)))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("retrain: staged rebuild under fresh centroids, old epoch serves on") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val oldTable =
      graft.sources.Bucketing.ensureMaintainedAssignmentIndex(spark, sf, 2)
    // the maintained index already holds the drifted append (the
    // vec_id % 10 == 0 batch assigned under frozen epoch-2 centroids)
    val before = rows(Similarity.maintainedTopK(spark, sf, iters = 2))
    val newTable = Similarity.retrainAssignmentIndex(spark, sf, 2, 3)
    try {
      // no serving gap: the old epoch's table is untouched and serves
      // bit-identical results after the retrain completed
      assert(spark.catalog.tableExists(oldTable))
      assert(rows(Similarity.maintainedTopK(spark, sf, iters = 2))
        .toSeq === before.toSeq)
      // the retrained index must equal a fresh full build against the
      // SAME new centroids — re-assignment forgot nothing and the
      // index round-trip (vectors read back out of the old table)
      // lost nothing
      val got = rows(Similarity.maintainedTopK(spark, sf, iters = 3))
      val want = rows(Similarity.ivfTopKTrained(spark, sf, iters = 3))
      assert(got.toSeq === want.toSeq)
      // and the rebuild landed crash-atomically: no leftover temp table
      assert(!spark.catalog.tableExists(s"${newTable}__building"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $newTable")
  }

  test("retrain after churn: tombstoned vectors are not resurrected") {
    import org.apache.spark.sql.functions.col
    // the churned index: full assignment minus the tombstoned
    // vec_id % 10 == 0 batch (compacted inside the build guard)
    val oldTable =
      graft.sources.Bucketing.ensureChurnedAssignmentIndex(spark, sf, 2)
    val newTable = "retrain_after_churn_t"
    try {
      Similarity.retrainFrom(spark, sf, oldTable, newTable, newIters = 3)
      // the new epoch contains exactly the LIVE vectors, no op/seq debt
      val t = spark.table(newTable)
      assert(!t.columns.contains("op"), "churn schema leaked into new epoch")
      assert(t.filter(col("vec_id") % 10 === 0).count() === 0,
        "retrain resurrected a deleted vector")
      val live = Similarity.embeddingsWithNorm(spark, sf)
        .filter(col("vec_id") % 10 =!= 0)
      assert(t.count() === live.count())
      // and it serves exactly like a fresh epoch-3 build over the
      // surviving vectors
      val got = Similarity.servedTopK(spark, sf, t, iters = 3)
        .collect().map(_.toString).toSeq
      val want = Similarity.servedTopK(spark, sf,
          Similarity.assignVectors(live,
            Similarity.trainCentroids(spark, sf, iters = 3)), iters = 3)
        .collect().map(_.toString).toSeq
      assert(got === want, "retrained-from-churn serve diverged")
    } finally spark.sql(s"DROP TABLE IF EXISTS $newTable")
  }

  test("semantic dedup: pairs in-cluster above threshold, keep-min survivors") {
    import org.apache.spark.sql.functions._
    val threshold = 0.40
    val pairs = Similarity.semanticNearDupPairs(spark, sf, threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty, "threshold chosen to yield a non-trivial pair set")
    // every pair is genuinely same-cluster and above threshold, and the
    // pair set is exactly the in-cluster pairwise sweep's — recomputed
    // independently of the operator's join shape
    val a = Similarity.assignmentTable(spark, sf)
      .select("vec_id", "c_id", "v", "nrm").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Double](2).toArray, r.getDouble(3)))
    val byCluster = a.groupBy(_._2)
    val want = byCluster.values.flatMap { vs0 =>
      val vs = vs0.toSeq
      for {
        x <- vs; y <- vs if x._1 < y._1
        if x._3.zip(y._3).map { case (p, q) => p * q }.sum /
          (x._4 * y._4) >= threshold
      } yield (x._1, y._1)
    }.toSet
    assert(pairs.toSet === want, "pair set diverges from the exact sweep")
    // survivors are exactly everyone that is never a pair's larger id;
    // each near-dup group's minimum is kept (it can never be a vec_b)
    val dropped = pairs.map(_._2).toSet
    val keep = Similarity.semanticDedupKeep(spark, sf, threshold)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val all = a.map(_._1).toSet
    assert(keep === all -- dropped)
    assert(pairs.map(_._1).toSet.intersect(dropped).isEmpty ||
      pairs.map(_._1).exists(v => !dropped.contains(v)),
      "keep-min sanity: some pair's smaller id survives")
  }

  test("knn graph: agrees with the per-query serve, probe stage is a " +
      "narrow map, index side joins without an exchange") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftshim.Shim
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val g = Similarity.knnGraph(spark, sf, k = 3, nprobe = 4, iters = 2)
      // the graph restricted to the serving path's query set IS the
      // serving result at the same (k, nprobe, iters): same probes,
      // same candidates, same tie-breaks
      val sub = g.filter(col("q_id") < 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val serve = Similarity.ivfTopKTrained(spark, sf, k = 3,
          nprobe = 4, iters = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(sub == serve, "graph rows diverge from the per-query serve")
      // every vector appears with at most k neighbors, ranks dense from 1
      val byQ = g.collect().groupBy(_.getLong(0))
      assert(byQ.nonEmpty && byQ.values.forall { rows =>
        val rks = rows.map(_.getLong(1)).sorted
        rks.length <= 3 && rks.sameElements(1L to rks.length)
      })
      // plan shape OF THE BUILD (the public entry memoizes — its plan is
      // a parquet read): the n-query probe side must not ride the
      // bounded-|Q| tricks — no broadcast anywhere (codebook ships as
      // literals, not a BroadcastExchange), the top-k is the bounded
      // TopK aggregate (no row_number window sorting the pair table),
      // and the only hash exchanges are the probe side aligning to the
      // index bucketing + the aggregate's final merge
      val plan = Shim.executedPlan(
        Similarity.knnGraphBuild(spark, sf, 3, 4, 2)).toString
      assert(!plan.contains("BroadcastExchange"),
        s"broadcast in a |Q|=n build:\n$plan")
      assert(plan.contains("ObjectHashAggregate") && !plan.contains("Window"),
        s"top-k not aggregate-based:\n$plan")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(hashEx <= 2, s"index side reshuffled:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("semantic clusters: min-id keepers, members linked by graph " +
      "edges; cluster quota caps every cluster deterministically") {
    import org.apache.spark.sql.functions.col
    val clusters = graft.operators.Components.semanticClusters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(clusters.nonEmpty)
    // keeper IS the min vec_id of its cluster, exactly one per cluster
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid)
      assert(members.count(_._3) == 1 && members.find(_._3).get._1 == cid)
      assert(members.length >= 2, s"singleton cluster $cid from an edge set")
    }
    // every clustered vector has at least one above-threshold graph edge
    val edged = Similarity.knnGraph(spark, sf)
      .filter(col("cos") >= 0.4)
      .select("q_id", "vec_id").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(clusters.map(_._1).toSet == edged)

    // mutual edges are exactly the symmetric subset of the graph
    val directed = Similarity.knnGraph(spark, sf)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mutual = Similarity.mutualKnn(spark, sf)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mutual.nonEmpty && mutual.size < directed.size / 2 + 1)
    assert(mutual == directed.filter { case (a, b) =>
      a < b && directed((b, a)) })

    // quota = 4 so the cap BINDS on the sf0.001 fixture's ~8-member
    // clusters (the sf0.01 oracle run binds at the default 12)
    val quota = graft.operators.Sampling.clusterQuota(spark, sf, quota = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    val byCluster = quota.groupBy(_._2)
    // the cap binds: every cluster keeps min(quota, size), nothing more
    byCluster.foreach { case (cid, rows) =>
      assert(rows.count(_._3) == math.min(4, rows.length),
        s"cluster $cid kept ${rows.count(_._3)} of ${rows.length}")
    }
    // and at least one cluster is actually capped at this fixture size
    assert(byCluster.values.exists(_.length > 4))
  }

  test("knn density replays the graph's per-vector mean cosine; density " +
      "prune drops exactly the densest ceil(frac·|cluster|) per cluster") {
    val g = Similarity.knnGraph(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Double]("cos")))
    // decimal-exact sum of the round-6 cos EXACT-expansion images
    // (the double's IEEE value rounded HALF_UP at scale 18 — the r15
    // decExact input hop that replaced the native toString-value
    // cast), correctly-rounded double image (the decSumStr hop), then
    // ONE raw IEEE division — the density is emitted UNROUNDED
    // (round-6 of a scale-6 grid sum over deg sits exactly on half
    // boundaries for deg=2 odd sums)
    val expected = g.groupBy(_._1).map { case (q, rows) =>
      val sumDec = rows.map(r => BigDecimal(new java.math.BigDecimal(r._2)
        .setScale(18, java.math.RoundingMode.HALF_UP))).sum
      val img = java.lang.Double.parseDouble(
        sumDec.underlying.toPlainString)
      q -> (img / rows.length, rows.length.toLong)
    }
    val dens = Similarity.knnDensity(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("c_id"),
        r.getAs[Double]("density"), r.getAs[Long]("deg")))
    assert(dens.nonEmpty && dens.map(_._1).toSet == expected.keySet)
    dens.foreach { case (v, _, d, deg) =>
      assert((d, deg) == expected(v), s"vec $v density/deg mismatch")
    }
    val pruned = Similarity.densityPrune(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("c_id"),
        r.getAs[Double]("density")))
    val prunedByCluster = pruned.groupBy(_._2)
    dens.groupBy(_._2).foreach { case (cid, all) =>
      val kept = prunedByCluster.getOrElse(cid,
        Array.empty[(Long, Long, Double)]).map(_._1).toSet
      val cut = math.ceil(all.length * 0.25).toInt
      // exactly the top-cut by (density DESC, vec_id) is gone
      val dropped = all.sortBy(t => (-t._3, t._1)).take(cut).map(_._1).toSet
      assert(kept == all.map(_._1).toSet -- dropped,
        s"cluster $cid pruned the wrong vectors")
    }
    // non-vacuity: the cut binds somewhere
    assert(pruned.length < dens.length)
  }

  test("knn classifier takes the majority neighbor label; centrality " +
      "conserves rank mass and floors at the damping term") {
    import org.apache.spark.sql.functions.col
    val g = Similarity.knnGraph(spark, sf)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("label").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val cls = Similarity.knnClassify(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("label"),
        r.getAs[Long]("pred_label"), r.getAs[Long]("votes"),
        r.getAs[Boolean]("correct")))
    assert(cls.nonEmpty && cls.map(_._1).toSet == g.map(_._1).toSet)
    val nbrs = g.groupBy(_._1)
    cls.foreach { case (v, lbl, pred, votes, correct) =>
      assert(lbl == labels(v) && correct == (lbl == pred))
      val counts = nbrs(v).map(e => labels(e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val best = counts.toSeq.sortBy { case (l, c) => (-c, l) }.head
      assert((pred, votes) == best, s"vec $v wrong majority")
    }
    val cent = Similarity.knnCentrality(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("centrality"),
        r.getAs[Double]("residual")))
    assert(cent.map(_._1).toSet == g.map(_._1).toSet)
    val n = cent.length.toDouble
    cent.foreach { case (_, c, res) =>
      assert(c >= 0.15 / n - 1e-9)
      assert(res >= 0.0, "residual is an absolute delta")
    }
    // conservation: total mass <= 1 (strict only if edges leak to
    // vertices outside the query set) and the ranks genuinely spread
    val total = cent.map(_._2).sum
    assert(total <= 1.0 + 1e-6 && total > 0.5, s"mass $total")
    assert(cent.map(_._2).max > cent.map(_._2).min)
    // the convergence knob converges: the damped iteration is a 0.85-
    // contraction, so the worst per-vertex residual after 3 rounds must
    // sit at or under the round-1 residual (strictly under on any graph
    // whose ranks actually move)
    val r1 = Similarity.knnCentrality(spark, sf, rounds = 1).collect()
      .map(_.getAs[Double]("residual")).max
    val r3 = cent.map(_._3).max
    assert(r3 <= r1 + 1e-12, s"residual grew: r1=$r1 r3=$r3")
  }

  test("IVF ANN recall@10 >= 0.5 vs brute force") {
    def tops(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getAs[Long]("q_id"))
        .map { case (q, g) => q -> g.map(_.getAs[Long]("vec_id")).toSet }
    val brute = tops(Similarity.bruteForceTopK(spark, sf, k = 10))
    val ivf = tops(Similarity.ivfTopK(spark, sf, k = 10, nprobe = 8))
    val recalls = brute.map { case (q, b) =>
      ivf.get(q).map(i => (b & i).size.toDouble / b.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall $mean")
  }

  test("at-ingest semantic screen agrees with the incremental probe") {
    val threshold = 0.40
    val screen = Similarity.semanticScreenBatch(spark, sf, threshold)
    // the corpus side must be the persisted assignment memo — a screen
    // that re-assigns the corpus per batch re-pays O(n·C) every ingest
    val plan = screen.queryExecution.executedPlan.toString
    assert(plan.contains("graft-memo-ivf_assign_2"),
      s"screen does not read the persisted assignment:\n$plan")
    val verdicts = screen.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("admitted")).toMap
    // the whole batch gets a verdict, nobody outside the batch does
    val batchIds = Similarity.embeddingsWithNorm(spark, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 10 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(verdicts.keySet === batchIds)
    // screen and incrementalTopK share the exact same probe set, so
    // rejected ⇔ the best incremental neighbor clears the threshold
    // (cross-checked against the independently-shaped top-k operator)
    val best = Similarity.incrementalTopK(spark, sf, k = 1).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cos")).toMap
    verdicts.foreach { case (id, admitted) =>
      val hit = best.get(id).exists(_ >= threshold)
      assert(admitted === !hit,
        s"vec $id admitted=$admitted but best probed cos=${best.get(id)}")
    }
  }

  test("maintained knn graph: bounded batch fold-in reproduces the full " +
      "rebuild; the batch genuinely perturbs old vectors' edges") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val full = rows(Similarity.knnGraph(spark, sf))
    val maint = rows(Similarity.knnGraphMaintained(spark, sf))
    assert(maint == full, "maintained graph diverges from the rebuild")
    // non-vacuity: some old vector's top-k contains a batch vector, so
    // the reverse bounded update did real work (otherwise this test
    // would pass with a fold-in that ignores the batch entirely)
    assert(full.exists { case (q, _, v, _) => q % 10 != 0 && v % 10 == 0 },
      "fixture has no old→new edge; the reverse-update path is untested")
    // and some old vector's edges must ALSO have survived untouched for
    // the kth-score prune to be exercised on both branches
    assert(full.exists { case (q, _, v, _) => q % 10 != 0 && v % 10 != 0 })
  }

  test("churned knn graph: tombstoned vectors vanish both directions, " +
      "unaffected vectors keep their edges byte-identical") {
    val full = Similarity.knnGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val churned = Similarity.knnGraphChurn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // both directions gone
    assert(churned.forall { case (q, _, v, _) => q % 10 != 0 && v % 10 != 0 })
    // the repair path ran: some survivor held an edge to a deleted vector
    val affected = full.collect {
      case (q, _, v, _) if q % 10 != 0 && v % 10 == 0 => q
    }.toSet
    assert(affected.nonEmpty, "fixture exercises no edge repair")
    // unaffected survivors keep their exact rows (rank, neighbor, cosine)
    val fullByQ = full.groupBy(_._1)
    val churnByQ = churned.groupBy(_._1)
    fullByQ.foreach { case (q, rows) =>
      if (q % 10 != 0 && !affected(q))
        assert(churnByQ.getOrElse(q, Array.empty[(Long, Long, Long, Double)])
          .toSet == rows.toSet, s"unaffected q=$q rows changed")
    }
    // affected survivors were repaired, not just truncated: every one
    // still ranks densely from 1 over the surviving candidate set
    churnByQ.foreach { case (_, rows) =>
      val rks = rows.map(_._2).sorted
      assert(rks.sameElements(1L to rks.length))
    }
  }

  test("memoized graph artifacts: different parameterizations coexist " +
      "without collision, re-reads serve the original") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val m3 = pairs(Similarity.mutualKnn(spark, sf))
    val m2 = pairs(Similarity.mutualKnn(spark, sf, k = 2))
    // mutual-top-2 is a strict refinement of mutual-top-3 here: a
    // colliding memo key would return m3 for the k=2 call and fail this
    assert(m2.subsetOf(m3) && m2 != m3,
      s"k=2 mutual set (${m2.size}) does not refine k=3 (${m3.size})")
    assert(pairs(Similarity.mutualKnn(spark, sf)) == m3,
      "re-read after a second parameterization lost the original")
    def clus(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val c4 = clus(graft.operators.Components.semanticClusters(spark, sf))
    val c7 = clus(graft.operators.Components.semanticClusters(spark, sf,
      minCos = 0.7))
    assert(c4 != c7, "threshold is not part of the cluster memo key")
    assert(clus(graft.operators.Components.semanticClusters(spark, sf)) == c4)
  }

  test("mmr rerank: first pick is the relevance argmax, picks are unique " +
      "pool members, and a near-dup-saturated pool diversifies") {
    import spark.implicits._
    val S = graft.operators.Similarity
    // harness corpus: structural invariants
    val out = S.mmrRerank(spark, TestSpark.sf).collect()
    val brute = S.bruteForceTopK(spark, TestSpark.sf).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.length == 8, s"q=$q selected ${rows.length}")
      val ids = rows.map(_.getLong(2))
      assert(ids.distinct.length == ids.length, s"q=$q duplicate picks")
      val first = rows.minBy(_.getLong(1))
      val bruteTop = brute.filter(r => r.getLong(0) == q && r.getLong(1) == 1L)
        .head.getLong(2)
      assert(first.getLong(2) == bruteTop,
        s"q=$q first MMR pick ${first.getLong(2)} != relevance top $bruteTop")
    }
    // synthetic: the probe spans four axes; each axis hosts a tight
    // 5-copy cluster, cluster relevance decreasing slightly by axis
    // (5+5 ≥ 8 in the top two clusters — enough that a plain top-8
    // drowns there, every member outranking every other cluster);
    // MMR's redundancy penalty (0.3·~1 within a cluster vs ~0 across)
    // must fan out across clusters immediately.
    val dir = java.nio.file.Files.createTempDirectory("mmr").toString
    try {
      val probe = {
        val v = Array.fill(64)(0f)
        v(0) = 1f; v(1) = 1f; v(2) = 1f; v(3) = 1f; v
      }
      def member(c: Int, m: Int): Array[Float] = {
        val v = Array.fill(64)(0f)
        v(c) = 1f
        // per-cluster relevance offset ≫ per-member tie-break jitter
        v(20 + c) = (Seq(0.01f, 0.05f, 0.09f, 0.13f)(c) + 0.002f * m)
        v
      }
      val rows = Seq((0L, probe, -1)) ++ (for {
        c <- 0 until 4; m <- 0 until 5
      } yield ((10 + 100 * c + m).toLong, member(c, m), c))
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val mmr = S.mmrRerank(spark, dir).collect()
        .filter(_.getLong(0) == 0L).sortBy(_.getLong(1))
      val bf = S.bruteForceTopK(spark, dir, k = 8).collect()
        .filter(_.getLong(0) == 0L)
      assert(bf.forall(_.getLong(2) < 200L),
        s"plain top-8 should exhaust clusters A/B before ever reaching " +
          s"C/D: ${bf.map(_.getLong(2)).toSeq}")
      // MMR's first four picks land in four DIFFERENT clusters
      val firstFour = mmr.take(4).map(r => (r.getLong(2) - 10) / 100).toSet
      assert(firstFour == Set(0L, 1L, 2L, 3L),
        s"first 4 MMR picks not cluster-diverse: ${mmr.map(_.getLong(2)).toSeq}")
      // and it still leads with the most relevant cluster's member
      assert(mmr.head.getLong(2) < 100L)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("mmr over the IVF shortlist: first pick is the index serve's " +
      "top-1, picks are unique and drawn from the probed pool") {
    val S = graft.operators.Similarity
    val out = S.mmrRerankIvf(spark, TestSpark.sf).collect()
    assert(out.nonEmpty)
    val serve = S.ivfTopKTrained(spark, TestSpark.sf, k = 20,
        nprobe = 8, iters = 2).collect()
    out.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val ids = rows.map(_.getLong(2))
      assert(ids.distinct.length == ids.length, s"q=$q duplicate picks")
      val serveQ = serve.filter(_.getLong(0) == q)
      val top1 = serveQ.filter(_.getLong(1) == 1L).head.getLong(2)
      assert(rows.minBy(_.getLong(1)).getLong(2) == top1,
        s"q=$q first pick != index serve top-1")
      // every pick came from the probed shortlist
      val pool = serveQ.map(_.getLong(2)).toSet
      assert(ids.forall(pool.contains), s"q=$q pick outside probed pool")
    }
  }
}
