package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.graftshim.Shim

/** Plan-shape regression guard: the scale properties (pushdown, pruning,
  * broadcast, no stray cartesians) must survive refactors — these specs
  * fail if a future change silently degrades the physical plan. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def planOf(name: String): String =
    Shim.executedPlan(SparkEntry.queries(name)(spark, sf)).toString

  test("backfill_scan pushes both predicates into the parquet scan") {
    val p = planOf("backfill_scan")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("EqualTo(o_custkey,42)"), p)
    // plan toString truncates long filter lists; match the prefix
    assert(p.contains("GreaterThanOrEqual(o_orderd"), p)
  }

  test("backfill_join broadcasts the key store") {
    val p = planOf("backfill_join")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("scans prune columns to what the query needs") {
    val p = planOf("count_per_merchant")
    // count by custkey within a date window: only 2 columns read
    assert(p.contains("ReadSchema: struct<o_custkey:bigint,o_orderdate"), p)
    assert(!p.contains("o_totalprice"), p)
  }

  test("only the intentionally-bounded queries use cartesian products") {
    val allowed = Set("ngram_jaccard", "sim_topk_brute", "sim_topk_ivf",
      "sim_topk_ivf_kmeans", "sim_topk_incremental", "sim_topk_maintained",
      "tfidf_top_terms")
    SparkEntry.queries.keys.filterNot(allowed).foreach { name =>
      val p = try planOf(name) catch { case _: Throwable => "" }
      assert(!p.contains("CartesianProduct"),
        s"unexpected cartesian in $name")
    }
  }

  test("PruneLevenshteinByLength injects a cheap length bound, idempotently") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, levenshtein}
    val rule = graft.plans.PruneLevenshteinByLength
    if (!spark.experimental.extraOptimizations.contains(rule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rule
    val df = Seq("abc", "abcdefg", "ab").toDF("a")
      .crossJoin(Seq("abcd").toDF("b"))
      .filter(levenshtein(col("a"), col("b")) <= 1)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("abs(") && opt.contains("length("), opt)
    // the semantic-equality guard keeps exactly ONE injected bound
    assert(opt.split("abs\\(").length == 2, opt)
    // the bound is implied, so results are unchanged
    assert(df.collect().map(_.getString(0)).toSeq === Seq("abc"))
  }

  test("fuzzy_match verifies inside hash-joined blocks, never a nested loop") {
    val p = planOf("fuzzy_match")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("levenshtein"), p)
  }

  test("incremental verify scans only candidate docs (doc_id pushdown)") {
    // the O(increment) guarantee: the exact-Jaccard verify stage must
    // read candidate documents only — the documents parquet scan
    // carries a doc_id IN filter (static pushdown; above the id-list
    // cap it becomes a broadcast semi-join, still candidate-only
    // tokenize). A verify stage that scans documents unfiltered
    // re-tokenizes the whole corpus per increment.
    val p = planOf("dedup_incremental")
    assert(p.contains("PushedFilters: [In(doc_id"),
      s"documents scan in the verify stage is not candidate-pruned:\n$p")
  }

  test("bm25_from_index serves from the postings memo, never documents") {
    val p = planOf("bm25_from_index")
    assert(p.contains("graft-memo-postings"), p)
    assert(!p.contains("documents"),
      s"per-query corpus scan leaked into the index-served path:\n$p")
  }

  test("hybrid_search fuses two index probes, never documents") {
    val p = planOf("hybrid_search")
    // lexical side: the postings memo; semantic side: the assignment
    // memo; the only raw-table scan is embeddings for the 3 query
    // vectors (the encoder stand-in) — the corpus is never tokenized
    // or re-assigned per query
    assert(p.contains("graft-memo-bm25impacts"), p)
    assert(p.contains("graft-memo-ivf_assign"), p)
    assert(!p.contains("documents"),
      s"per-query corpus scan leaked into the fused path:\n$p")
  }

  test("bm25_batch folds the impact memo alone: no postings, doc-length " +
      "or stats scan, no broadcast") {
    val p = planOf("bm25_batch")
    assert(p.contains("graft-memo-bm25impacts"), p)
    Seq("graft-memo-postings", "graft-memo-doclen", "graft-memo-bm25stats",
      "BroadcastExchange").foreach(x => assert(!p.contains(x), s"$x in:\n$p"))
  }

  test("bounded index serves end in TakeOrderedAndProject, never a " +
      "range-partitioned sort; the IVF serves rank without a Window") {
    // every sim_topk serve but sim_topk_incremental, whose arrival batch
    // grows with the corpus (no |Q|·k bound), ranks through serveTopK
    val simTopK = SparkEntry.queries.keys.toSeq.sorted
      .filter(q => q.startsWith("sim_topk_") && q != "sim_topk_incremental")
    assert(simTopK.size == 19, simTopK)
    // the churn serves read IndexChurn's latest-wins serve view, a
    // Window over the index key; no sim_topk serve ranks in a Window
    val churnView = Set("sim_topk_churn", "sim_topk_pq_churn")
    (Seq("bm25_batch", "hybrid_search", "mmr_rerank", "mmr_rerank_ivf") ++
        simTopK).foreach { q =>
      val p = planOf(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q:\n$p")
      assert(!p.contains("rangepartitioning"), s"$q:\n$p")
      if (q.startsWith("sim_topk_")) {
        assert(!p.contains("windowspecdefinition(q_id"), s"$q:\n$p")
        assert(churnView(q) || !p.contains("Window"), s"$q:\n$p")
      }
    }
    val ivf = Shim.executedPlan(graft.operators.Similarity.probedTopKForIds(
      spark, sf, Seq(1L, 2L, 3L))).toString
    assert(ivf.contains("TakeOrderedAndProject"), ivf)
    assert(!ivf.contains("rangepartitioning"), ivf)
    assert(!ivf.contains("Window"), ivf)
  }

  test("phrase_from_index serves from the positional memo, never documents") {
    val p = planOf("phrase_from_index")
    assert(p.contains("graft-memo-positional"), p)
    assert(!p.contains("documents"),
      s"per-query corpus scan leaked into the index-served path:\n$p")
  }

  test("knn_density and density_prune serve from memoized artifacts, " +
      "never re-score embeddings") {
    // the graph build is the heavy path; its consumers must read the
    // n·k edge artifact + the assignment memo, not re-probe the corpus
    val pd = planOf("knn_density")
    assert(pd.contains("graft-memo-knn_density"), pd)
    assert(!pd.contains("embeddings.parquet"),
      s"density re-scored the corpus:\n$pd")
    val pp = planOf("density_prune")
    assert(pp.contains("graft-memo-knn_density"), pp)
    assert(!pp.contains("embeddings.parquet"),
      s"prune re-scored the corpus:\n$pp")
  }

  test("density_prune tie-ranks in bounded (c_id, bucket) windows, never " +
      "a per-cluster window over raw density rows") {
    val p = planOf("density_prune")
    // a window partitioned by c_id alone that ORDERS BY (density,
    // vec_id) is the raw-row rank — corpus-sized when all vectors
    // collapse into one coarse cell (the skewdegen corpus). The
    // histogram cumsum also partitions by c_id but orders by density
    // alone over the (c_id, density) aggregate, so the vec_id
    // tie-breaker is the distinguishing mark
    val badRank = """windowspecdefinition\(c_id#\d+L?, density#\d+ DESC[^)]*, vec_id#\d+""".r
    assert(badRank.findFirstIn(p).isEmpty,
      s"raw-row rank window partitions by c_id alone:\n$p")
    val bucketed = """windowspecdefinition\(c_id#\d+L?, db#\d+L?, vec_id#\d+""".r
    assert(bucketed.findFirstIn(p).nonEmpty,
      s"bucketed tie-rank window missing:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("bloom pruning filters the fact side BELOW the join") {
    val p = planOf("bloom_join_prune")
    val filterIdx = p.indexOf("bloom_might_contain")
    assert(filterIdx >= 0, p)
    // the probe must sit in the fact scan's subtree, i.e. the plan
    // renders it AFTER (deeper than) the join operator line
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0 && joinIdx < filterIdx,
      s"bloom probe should be below the join: $p")
  }

  test("vocab_coverage bounds the global window with a top-k, not a full sort") {
    val p = planOf("vocab_coverage")
    // the vocabulary top-k must plan as TakeOrderedAndProject (per-
    // partition heaps) so the single-partition rank window only ever
    // sees topK rows — never the full distinct-token table
    assert(p.contains("TakeOrderedAndProject"), p)
    val windowIdx = p.indexOf("Window")
    val topkIdx = p.indexOf("TakeOrderedAndProject")
    assert(windowIdx >= 0 && windowIdx < topkIdx,
      s"top-k should sit below the window: $p")
  }

  test("pagination_window ranks a TakeOrderedAndProject prefix: no Window " +
      "reads the full orders scan") {
    // planned with Spark's InferWindowGroupLimit off: it only fires for
    // page ends up to windowGroupLimitThreshold, so the bound must come
    // from the query itself
    val key = "spark.sql.optimizer.windowGroupLimitThreshold"
    val before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    val p = try planOf("pagination_window") finally spark.conf.set(key, before)
    // one linear chain, so line order is ancestry: every Window above
    // the top-k, every scan below it
    val lines = p.linesIterator.toIndexedSeq
    def at(s: String) = lines.indices.filter(lines(_).contains(s))
    val take = at("TakeOrderedAndProject")
    assert(take.size == 1, p)
    assert(at("Window").nonEmpty && at("Window").forall(_ < take.head), p)
    assert(at("Scan parquet").nonEmpty &&
      at("Scan parquet").forall(_ > take.head), p)
  }

  test("stratified_split ranks in bounded (lang, bucket) windows, never " +
      "a per-language single-partition window over the corpus") {
    val p = planOf("stratified_split")
    // the corpus rank must partition by (lang, hash-bucket): a window
    // whose spec is (lang) alone ordering by the split hash is the
    // single-partition-per-language scan that dies on a dominant
    // language at 100 TB
    val badRank = """windowspecdefinition\(lang#\d+, h#\d+""".r
    assert(badRank.findFirstIn(p).isEmpty,
      s"corpus rank window partitions by lang alone:\n$p")
    val bucketed = """windowspecdefinition\(lang#\d+, hb#\d+L?, h#\d+""".r
    assert(bucketed.findFirstIn(p).nonEmpty,
      s"bucketed rank window missing:\n$p")
    // the offset table reaches the corpus side as a broadcast, not a
    // shuffle join
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("doc_pack prefix-sums in bounded (source, bucket) windows, never " +
      "a per-source corpus window") {
    val p = planOf("doc_pack")
    // the corpus running sum must partition by (source, doc-id bucket):
    // a window whose spec is (source) alone ordering by doc_id is the
    // single-partition-per-source scan that dies on a dominant source
    // at 100 TB
    val badSum = """windowspecdefinition\(source#\d+, doc_id#\d+""".r
    assert(badSum.findFirstIn(p).isEmpty,
      s"corpus prefix-sum window partitions by source alone:\n$p")
    val bucketed = """windowspecdefinition\(source#\d+, db#\d+L?, doc_id#\d+""".r
    assert(bucketed.findFirstIn(p).nonEmpty,
      s"bucketed prefix-sum window missing:\n$p")
    // the offset table reaches the corpus side as a broadcast
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("quality_quantile_filter tie-ranks in bounded (lang, bucket) windows, " +
      "never a per-language window over threshold-tied docs") {
    val p = planOf("quality_quantile_filter")
    // quality scores are 6dp-rounded ratios: a boilerplate corpus
    // collapses every doc onto ONE score, making the tie group a whole
    // language — a window whose spec is (lang) alone ordering by doc_id
    // is that corpus-sized single task
    val badRank = """windowspecdefinition\(lang#\d+, doc_id#\d+""".r
    assert(badRank.findFirstIn(p).isEmpty,
      s"tie rank window partitions by lang alone:\n$p")
    val bucketed = """windowspecdefinition\(lang#\d+, db#\d+L?, doc_id#\d+""".r
    assert(bucketed.findFirstIn(p).nonEmpty,
      s"bucketed tie-rank window missing:\n$p")
    // threshold and bucket-offset tables reach the corpus side as
    // broadcasts, not shuffle joins
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("html_extract is ONE narrow pass: no shuffle except the output " +
      "sort, no window, no join") {
    val p = planOf("html_extract")
    // synthesis + segmentation + classification are all array lambdas
    // in a projection — the only Exchange is the deterministic-output
    // range sort (which production drops)
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"html_extract shuffles mid-pipeline:\n$p")
    assert(!p.contains("windowspecdefinition") && !p.contains("Join"),
      s"html_extract grew a window or join:\n$p")
  }

  test("dsir_select_frac cuts the pool fraction without a global rank " +
      "window or a driver-side limit") {
    val p = planOf("dsir_select_frac")
    // production selects billions of keepers: a global sort-limit
    // (the literal-k dsirSelect's TakeOrdered) is a driver bottleneck
    assert(!p.contains("GlobalLimit") && !p.contains("TakeOrdered"),
      s"dsir_select_frac went through a driver limit:\n$p")
    // an unpartitioned RANK over sel_key is the oracle's replay shape —
    // a corpus-sized single task at 100 TB. (The constant RankCut
    // group column folds out of the specs, so sum-over-histogram
    // windows legitimately show bare sel_key ORDER — the forbidden
    // shape is specifically ranking rows by key.)
    val globalRank = """row_number\(\) windowspecdefinition\(sel_key#""".r
    assert(globalRank.findFirstIn(p).isEmpty,
      s"global sel_key rank window in the plan:\n$p")
    // the ONLY row ranking is the id-bucket-bounded boundary-bin tie
    // cut: row_number over (db, doc_id)
    val bucketed =
      """row_number\(\) windowspecdefinition\(db#\d+L?, doc_id#\d+""".r
    assert(bucketed.findFirstIn(p).nonEmpty,
      s"bucketed boundary-bin tie window missing:\n$p")
  }

  test("curation_pipeline serves from the memoized 4-column base: no " +
      "re-extraction, no corpus rank window, no driver limit") {
    val p = planOf("curation_pipeline")
    // stages 1–3 (extract → langid → score → fp) live in the ONCE-per-
    // dataset memo build; the assembled plan must consume the narrow
    // parquet — any regexp machinery here means a branch re-runs the
    // extractor/tokenizer per consumer (the repeated-corpus-tokenize
    // failure the memo exists to kill)
    assert(!p.contains("regexp_replace") && !p.contains("regexp_extract"),
      s"curation_pipeline re-runs the extractor in the serve plan:\n$p")
    assert(!p.contains("GlobalLimit") && !p.contains("TakeOrdered"),
      s"curation_pipeline went through a driver limit:\n$p")
    // the only ROW ranking allowed is RankCut's id-bucket-bounded tie
    // cut (row_number over (…, db, doc_id)) — never a per-language
    // corpus-wide score rank (the oracle's replay shape). r17: the cut
    // is memoized per dataset, so the SERVE plan normally carries no
    // rank at all (the tie cut runs once, in the memo build); any rank
    // that does appear must still be id-bucket-bounded
    val ranks = """row_number\(\) windowspecdefinition\([^\n]*"""
      .r.findAllIn(p).toList
    assert(ranks.forall(_.contains("db#")),
      s"non-bucketed row rank in curation plan:\n${ranks.mkString("\n")}")
  }

  test("curation_pipeline_neardup serves from the memoized base + " +
      "cluster map: no re-extraction, keeper via bounded argmax, " +
      "no per-cluster row window") {
    val p = planOf("curation_pipeline_neardup")
    // the extractor/shingle pipeline lives in the once-per-dataset
    // memo builds (base + cluster map); regexp machinery in the SERVE
    // plan means a branch re-runs it per consumer
    assert(!p.contains("regexp_replace") && !p.contains("regexp_extract"),
      s"curation_pipeline_neardup re-runs the extractor in serve:\n$p")
    assert(!p.contains("GlobalLimit") && !p.contains("TakeOrdered"), p)
    // keeper selection is the bounded-state argmax (dedup_keep_best
    // discipline) — a per-cluster row_number window is one giant task
    // on a boilerplate-saturated corpus; the only row ranks allowed
    // are RankCut's id-bucket-bounded tie cuts
    assert(p.contains("partial_max"),
      s"neardup keeper lost the map-side-combined argmax:\n$p")
    val ranks = """row_number\(\) windowspecdefinition\([^\n]*"""
      .r.findAllIn(p).toList
    assert(ranks.forall(_.contains("db#")),
      s"non-bucketed row rank in neardup curation plan:\n${ranks.mkString("\n")}")
  }

  test("dedup_keep_best picks keepers without ANY window: bounded argmax " +
      "aggregate + broadcast join") {
    val p = planOf("dedup_keep_best")
    // near-dup cluster sizes are unbounded — a per-cluster row_number
    // window is a giant single task on a boilerplate-saturated corpus
    assert(!p.contains("windowspecdefinition"),
      s"dedup_keep_best still ranks through a per-cluster window:\n$p")
    assert(p.contains("partial_max"),
      s"dedup_keep_best lost the map-side-combined argmax:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("source_quota / cluster_quota rank without ANY window: bounded " +
      "bottom_k threshold + broadcast join") {
    Seq("source_quota", "cluster_quota").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("windowspecdefinition"),
        s"$q still ranks through a per-group window:\n$p")
      assert(p.contains("bottomk"), s"$q lost the bounded aggregate:\n$p")
      assert(p.contains("BroadcastHashJoin"), p)
    }
  }

  test("ivf centroid assignment aggregates instead of windowing n×C rows") {
    // the BUILD kernel (what assignmentTable materializes): the
    // vector→centroid argmax must be a map-side-combined aggregate,
    // never a window over vec_id — that shuffles+sorts the n×C
    // exploded table
    val S = graft.operators.Similarity
    val p = Shim.executedPlan(S.assignVectors(
      S.embeddingsWithNorm(spark, sf),
      S.trainCentroids(spark, sf, iters = 2))).toString
    assert(!p.contains("windowspecdefinition(vec_id"), p)
    assert(p.contains("partial_"), p)
  }

  test("ivf serves read the persisted assignment, never re-assigning " +
      "the corpus per query") {
    Seq("sim_topk_ivf", "sim_topk_ivf_kmeans").foreach { q =>
      val p = planOf(q)
      // remaining windows partition by q_id (bounded query set); an
      // n×C argmax aggregate in a SERVE plan means the per-call corpus
      // assignment came back
      assert(!p.contains("windowspecdefinition(vec_id"), s"$q:\n$p")
      assert(!p.contains("partial_max"), s"$q re-assigns the corpus:\n$p")
    }
  }

  test("doc_chunks stays a single narrow stage (no shuffle before sort)") {
    val p = planOf("doc_chunks")
    // one Exchange only — the final global orderBy; chunking itself is
    // projection + generator
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"$exchanges exchanges in: $p")
  }

  test("whole-stage codegen covers the envelope projection") {
    // AQE wraps the plan lazily and hides codegen spans until runtime;
    // disable it for the shape assertion
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = Shim.executedPlan(
        SparkEntry.queries("event_envelope")(spark, sf)).toString
      // simple-string plans render WholeStageCodegen stages as "*(n)"
      assert(p.contains("*(1)"), p)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
