package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{Vectors => V}

/** Approximate-nearest-neighbor similarity search over the embedding
  * column (SURVEY.md §2.9 E3).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact baseline: broadcast the (small) query
  *    set against every vector; cost O(|Q|·n) codegen'd dot products
  *    ([[graft.functions.DotProduct]]), embarrassingly parallel, then a
  *    per-query top-k window. Correct at any n while |Q| is bounded.
  *  - [[ivfTopK]] — the scale path: IVF-style coarse quantization with a
  *    FIXED number of centroids (C=64 — independent of n, so assignment
  *    stays O(n·C)). Vectors go to their nearest centroid's inverted
  *    list (one shuffle); queries probe their `nprobe` nearest lists,
  *    cutting the scanned fraction to ~nprobe/C. Recall vs the brute
  *    baseline is asserted in SimilaritySpec.
  *
  * Norms are precomputed per side — each pair costs one dot product,
  * not three.
  */
object Similarity {

  private[operators] val NumQueries = 8
  private val NumCentroids = 64

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", V.norm(col("v")))

  // zero-norm (all-zero) vectors are excluded at the source: cosine
  // against them is 0/0 = NaN, and Spark's ordering ranks NaN ABOVE
  // every real value — one degenerate vector would otherwise occupy a
  // top-k slot for EVERY query across the whole serving family (and a
  // NaN in a rounded output column breaks cross-engine hash parity).
  // "Not representable in cosine space" is the principled exclusion;
  // the stream-batch twin vectorsOf applies the same rule.
  private def emb(spark: SparkSession, dir: String): DataFrame =
    withNorm(Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), V.asDouble(col("embedding")).as("v")))
      .filter(col("nrm") > 0)

  /** Argmax-cosine centroid assignment as ONE aggregation instead of a
    * `row_number` window over the n×C exploded table: `max` over a
    * lexicographic (c_cos, −c_id) struct replicates the
    * (cos DESC, c_id ASC) window tie-break exactly, but gets map-side
    * partial aggregation — the shuffle carries ~n combined rows instead
    * of n×C, and there is no full sort of the exploded table. This is
    * the difference between the plan surviving a 100× scale-up and not;
    * v/nrm ride along via first() (constant within a vec_id group). */
  private def assignNearest(e: DataFrame, centroids: DataFrame): DataFrame =
    e.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("v"), col("nrm"),
        struct(
          (V.dot(col("v"), col("c_v")) / (col("nrm") * col("c_nrm"))).as("c_cos"),
          (-col("c_id")).as("neg_id"),
          col("c_id").as("c_id")).as("cand"))
      .groupBy("vec_id")
      .agg(first(col("v")).as("v"), first(col("nrm")).as("nrm"),
        max(col("cand")).as("best"))
      .select(col("vec_id"), col("v"), col("nrm"), col("best.c_id").as("c_id"))

  /** Spherical k-means (Lloyd) over the embedding table, fully as
    * DataFrame ops: assignment = broadcast-centroid argmax (codegen'd
    * dots), update = element-wise mean via posexplode + (cluster, pos)
    * average + array re-assembly. Each iteration is two shuffles; the
    * centroid set (C×dim doubles) round-trips through the driver as the
    * next broadcast literal — the standard distributed k-means shape.
    * Seeded from the deterministic sample the untrained IVF uses.
    *
    * The trained centroid table is [[Memo]]-materialized per
    * (session, dir, params): training is a once-per-dataset index-build
    * step — a production system persists the trained index next to the
    * data, it does not re-run Lloyd per query. */
  def trainCentroids(spark: SparkSession, dir: String, c: Int = NumCentroids,
      iters: Int = 3): DataFrame = Memo.table(spark, dir, s"ivf_cent_${c}_$iters") {
    val e = emb(spark, dir)
    var centroids = seedCentroids(e, c)
    for (_ <- 0 until iters) {
      val assigned = assignNearest(e, centroids)
      // the decMean convention (DecimalConv): float sums are
      // partial-aggregation-order dependent, so the sum runs through
      // DECIMAL(38,18) — with the EXACT-expansion input hop
      // (ExactDecimalString: Spark's native cast is
      // Java-toString-VALUE-mediated, DuckDB's VARCHAR hop is Ryu,
      // and the two disagree on 1e16+ doubles — the vecdegen-s2
      // codebook fork) and the string-mediated decimal→double output
      // hop (BigDecimal.doubleValue double-rounds; Double.parseDouble
      // of the exact digits is correctly rounded — the vecdegen
      // seed-3 residual-fork finding). Both hops are value-canonical,
      // so neither engine's repr algorithm can fork a centroid.
      centroids = assigned
        .select(col("c_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("c_id", "pos")
        .agg(graft.functions.DecimalConv.decMean(col("x")).as("m"))
        .groupBy("c_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("c_v"))
        .withColumn("c_nrm", V.norm(col("c_v")))
    }
    centroids
  }

  /** Johnson–Lindenstrauss random projection 64 → `outDims` dims: an
    * md5-derived projection matrix shipped as literals (the same
    * cross-engine trick as the hyperplane bucketer, seed-offset so the
    * planes are distinct from the bucketer's), one codegen'd dot per
    * output dim, scaled by 1/√outDims — the dimensionality-reduction
    * step before ANN/clustering at scale, and a pure narrow map. */
  def randomProject(spark: SparkSession, dir: String,
      outDims: Int = 16, dim: Int = 64): DataFrame = {
    val planes = Array.tabulate(outDims, dim)((p, d) =>
      Dedup.planeComponent(ProjSeedOffset + p, d))
    val scale = math.sqrt(outDims.toDouble)
    val comps = (0 until outDims).map { p =>
      struct(lit(p.toLong).as("out_dim"),
        round(V.dot(col("v"), typedlit(planes(p).toSeq)) / scale, 6)
          .as("component"))
    }
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), V.asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), explode(array(comps: _*)).as("c"))
      .select(col("vec_id"), col("c.out_dim").as("out_dim"),
        col("c.component").as("component"))
      .orderBy("vec_id", "out_dim")
  }

  /** The `c` lowest-vec_id vectors as a seed codebook, keeping the
    * seed vectors' OWN ids as centroid ids — a `vec_id < c` filter
    * would silently yield an EMPTY (or undersized) seed set on a
    * corpus whose ids don't start at 0, and every downstream join then
    * returns empty results with no error. Identical to the old
    * id-filter rule whenever ids ARE 0-based (then c_id == vec_id), so
    * trained artifacts and their oracles are unchanged on such
    * corpora; the tiny sort-limit is once per memoized training run.
    * Shared with the PQ codebook seeding (which densifies ids itself
    * where a packed layout needs them). */
  private[operators] def seedCentroids(e: DataFrame, c: Int): DataFrame =
    // pure plan (TakeOrdered over the vector scan): no window, no
    // driver round-trip. Centroid ids stay the seed vectors' OWN ids
    // (opaque join keys downstream — density is only a PQ packed-
    // layout need, handled by the codebook trainer's own mapping);
    // identical to the old `vec_id < c` rule on 0-based corpora,
    // and the c lowest ids on any other.
    e.orderBy("vec_id").limit(c)
      .select(col("vec_id").as("c_id"), col("v").as("c_v"),
        col("nrm").as("c_nrm"))

  /** Seed offset separating projection planes from the LSH bucketer's
    * (`plane:<ProjSeedOffset+p>:<d>` vs `plane:<p>:<d>`). */
  val ProjSeedOffset = 1000

  /** Exact top-k cosine for query vectors (vec_id < NumQueries). */
  def bruteForceTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val e = emb(spark, dir)
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    e.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (V.dot(col("q_v"), col("v")) / (col("q_nrm") * col("nrm"))).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("vec_id"), round(col("cos"), 6).as("cos"))
      .orderBy("q_id", "rk")
  }

  /** Memoized SAMPLE-centroid assignment — the untrained IVF's
    * persisted index state. Like [[assignmentTable]] (the trained
    * twin): an IVF serve reads an index someone built once, it does
    * not re-run the O(n·C) corpus assignment per query — recomputing
    * it per serve was the one remaining per-call assignment pass in
    * the ANN family. */
  private def sampleAssignmentTable(spark: SparkSession,
      dir: String): DataFrame =
    Memo.table(spark, dir, s"ivf_assign_sample_$NumCentroids") {
      val e = emb(spark, dir)
      assignNearest(e, seedCentroids(e, NumCentroids))
    }

  /** IVF-style ANN with sample centroids (the `NumCentroids` lowest
    * vec_ids) — the untrained baseline, served from the memoized
    * sample assignment like every other serve path, its codebook the
    * same driver-side artifact the trained serves probe with. */
  def ivfTopK(spark: SparkSession, dir: String, k: Int = 10,
      nprobe: Int = 8): DataFrame = {
    val cents = Memo.artifact(spark, dir, s"cent_lit_sample_$NumCentroids") {
      centroidArtifact(seedCentroids(emb(spark, dir), NumCentroids))
    }
    probeTopK(sampleAssignmentTable(spark, dir), queriesOf(emb(spark, dir)),
      cents, k, nprobe, NumQueries)
  }

  /** IVF over Lloyd-trained spherical k-means centroids, served from
    * the memoized [[assignmentTable]] of the same centroid epoch (the
    * serve never re-assigns the corpus — `ivf_assign_<iters>` is the
    * persisted index state, shared with the incremental/maintained
    * family). */
  def ivfTopKTrained(spark: SparkSession, dir: String, k: Int = 10,
      nprobe: Int = 8, iters: Int = 3): DataFrame =
    probeTopK(assignmentTable(spark, dir, iters),
      queriesOf(emb(spark, dir)),
      centroidLiterals(spark, dir, iters), k, nprobe, NumQueries)

  /** The standard bounded serving query set of a (vec_id, v, nrm)
    * frame: at most `NumQueries` query ids, vec_id being non-negative by
    * the corpus contract (as doc_id is). */
  private def queriesOf(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"),
        col("nrm").as("q_nrm"))

  /** Each query's `nprobe` nearest centroids as exploded probe rows
    * from a centroid FRAME — probe selection for the paths that also
    * need the query·centroid inner product (Quantize's residual and LUT
    * serves) or whose query set is an arbitrary batch (the at-ingest
    * screen): a top-nprobe window over |Q|×C rows, tie-broken
    * (c_cos DESC, c_id) exactly like [[withProbes]]' literal-codebook
    * form, so the two can never select different probe sets. */
  private[operators] def probesOf(queries: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    val wProbe = Window.partitionBy("q_id")
      .orderBy(col("c_cos").desc, col("c_id"))
    queries.crossJoin(broadcast(centroids))
      .select(col("q_id"), col("q_v"), col("q_nrm"), col("c_id"),
        (V.dot(col("q_v"), col("c_v")) / (col("q_nrm") * col("c_nrm"))).as("c_cos"),
        // the raw query·centroid inner product, rounded like every LUT
        // entry: the residual-IVFADC serve consumes it (q·x = q·c + q·r)
        // — emitted here so Quantize's probe paths ride THIS definition
        // instead of hand-rolling the window (the "ONE definition of
        // probe selection" contract)
        round(V.dot(col("q_v"), col("c_v")), 10).as("qc_ip"))
      .withColumn("crk", row_number().over(wProbe))
      .filter(col("crk") <= nprobe)
      .select(col("q_id"), col("q_v"), col("q_nrm"), col("c_id"), col("qc_ip"))
  }

  /** The bounded-query IVF serve every `sim_topk_*` probe path shares:
    * each of at most `maxQueries` queries picks its `nprobe` nearest
    * centroids from the driver-side codebook ([[withProbes]] — a narrow
    * map, no centroid join, no window), the broadcast probe rows scan
    * only those inverted lists of `assigned`, and each query keeps its
    * exact cosine top-k through the bounded-state TopK aggregate
    * ([[scoreTopK]]; tie-for-tie the (cos DESC, vec_id) window). The
    * output sort is bounded by the exact row count maxQueries·k, so it
    * is a TakeOrderedAndProject inside the result job: three jobs per
    * serve — the probe broadcast, the scan's shuffle, the result. */
  private def probeTopK(assigned: DataFrame, queries: DataFrame,
      cents: Array[(Long, Seq[Double], Double)], k: Int, nprobe: Int,
      maxQueries: Long): DataFrame =
    ranked(
      scoreTopK(assigned, broadcast(withProbes(queries, cents, nprobe)), k)
        .select(col("q_id"), col("rk"), col("vec_id"),
          round(col("score"), 6).as("cos")),
      "q_id", maxQueries * k)

  /** A serve's (query, rk) output order, bounded by `rows`, the exact
    * upper bound of its row count (|queries|·k): a sort under a limit
    * plans as a TakeOrderedAndProject inside the result job, where a
    * bare global sort pays a range-partition sampling job plus an
    * exchange. */
  private[operators] def ranked(df: DataFrame, q: String,
      rows: Long): DataFrame = {
    val sorted = df.orderBy(col(q), col("rk"))
    if (rows <= Int.MaxValue) sorted.limit(rows.toInt) else sorted
  }

  /** k-NN GRAPH construction — every corpus vector's top-k cosine
    * neighbors among the vectors sharing its `nprobe` nearest inverted
    * lists: the all-vectors sibling of [[ivfTopKTrained]], and the
    * backbone artifact of embedding-space pipelines (SemDeDup cluster
    * sweeps, graph-based diversity sampling, kNN label propagation).
    *
    * |Q| = n makes the bounded-query serving tricks exactly wrong here:
    * a driver-collected `c_id IN (…)` probe list and a broadcast probe
    * set both cap |Q|. The graph build instead:
    *  - ships the trained codebook (C×dim doubles — the same bounded
    *    driver artifact as the PQ codebooks) back as LITERALS, so each
    *    vector scores its C centroid dots and keeps its `nprobe` best
    *    via array sort/slice — probe selection is a pure narrow map:
    *    zero shuffle, no n×C window;
    *  - joins the exploded (q_id, c_id) probes against the c_id-BUCKETED
    *    maintained assignment index — one shuffle of n·nprobe probe rows
    *    into the index's bucketing, no exchange on the index side;
    *  - takes each query's top-k via the bounded-state
    *    [[graft.functions.TopK]] aggregate, NOT a window: the scored
    *    candidate table (~n·nprobe·avg_list pairs) is the irreducible
    *    scoring work, but a row_number window would also SORT and
    *    SHUFFLE all of it — measured as a 2.5-billion-row sort at the
    *    100× probe. The aggregate's map-side partials cap the shuffle
    *    at one k-element buffer per (query, partition).
    * Tie-breaks mirror the serving path: centroids by (cos DESC, c_id),
    * neighbors by (cos DESC, vec_id) — the struct's negated id gives the
    * ascending id under a descending sort.
    *
    * Honest geometry note (NOTES.md): with C FIXED the candidate set
    * grows as n²·nprobe/C — production scales C ~ √n (so probed work is
    * n·nprobe·√n), exactly like the IVF serve; the harness C=64 is a
    * toy geometry, the plan shape is what transfers. */
  def knnGraph(spark: SparkSession, dir: String, k: Int = 3,
      nprobe: Int = 4, iters: Int = 2): DataFrame =
    // the graph is a once-per-corpus ARTIFACT (n·k edges — tiny next to
    // the scoring that produced it); consumers (semantic clusters,
    // diversity sampling) re-read it instead of re-scoring ~n²·nprobe/C
    // candidate pairs
    Memo.table(spark, dir, s"knn_graph_${k}_${nprobe}_$iters") {
      knnGraphBuild(spark, dir, k, nprobe, iters)
    }.orderBy("q_id", "rk")

  /** Mutual-kNN edges — (a, b) kept only when each is in the OTHER's
    * top-k: the standard precision filter before graph clustering
    * (one-directional kNN edges chain hubs into giant components;
    * mutuality prunes the hub spokes). Pure post-processing of the
    * memoized graph artifact: a self-join of n·k edges, nothing
    * re-scored. The cosine is taken from the a<b direction; the two
    * directions are bitwise equal anyway (element-wise multiply
    * commutes, the sum runs in the same element order). Memoized under
    * the FULL parameter vector (r8 finding: a threshold-only or absent
    * memo key invites silent collisions once a second parameterization
    * appears). */
  def mutualKnn(spark: SparkSession, dir: String, k: Int = 3,
      nprobe: Int = 4, iters: Int = 2): DataFrame =
    Memo.table(spark, dir, s"mutual_knn_${k}_${nprobe}_$iters") {
      val g = knnGraph(spark, dir, k, nprobe, iters)
        .select(col("q_id"), col("vec_id"), col("cos"))
      val rev = g.select(col("vec_id").as("q_id"), col("q_id").as("vec_id"))
      g.join(rev, Seq("q_id", "vec_id"))
        .filter(col("q_id") < col("vec_id"))
        .select(col("q_id").as("vec_a"), col("vec_id").as("vec_b"), col("cos"))
    }.orderBy("vec_a", "vec_b")

  /** Per-vector kNN DENSITY — the mean cosine to the vector's k graph
    * neighbors, joined with its coarse cluster id: the prototypicality
    * signal density-based pruning (D4, Tirumala et al. 2023; SSL
    * prototypes, Sorscher et al. 2022) keys on. High density = the
    * vector sits in a tight semantic neighborhood (redundant); low
    * density = an outlier/diverse example. Pure post-processing of the
    * memoized graph artifact (n·k edges aggregated to n rows — nothing
    * re-scored) joined once with the memoized assignment.
    * Cross-engine determinism: the k rounded cosines sum through
    * DECIMAL(38,18) (exact, order-free) and convert to double for ONE
    * IEEE division by the neighbor count — the same mixed fold every
    * Lloyd oracle uses — so `density` is bit-identical in DuckDB. */
  /** DOMAIN NOTE (also [[knnClassify]]/[[knnCentrality]]/
    * [[densityPrune]]): rows cover the GRAPH'S QUERY SET — vectors
    * with at least one scorable candidate in their probed cells. A
    * zero-degree vector (empty neighboring lists) has no density by
    * definition and is ABSENT here; a keep-set consumer must union
    * those back in (they are maximally diverse — exactly what
    * density pruning keeps). */
  def knnDensity(spark: SparkSession, dir: String, k: Int = 3,
      nprobe: Int = 4, iters: Int = 2): DataFrame =
    Memo.table(spark, dir, s"knn_density_${k}_${nprobe}_$iters") {
      val g = knnGraph(spark, dir, k, nprobe, iters)
      val dens = g.groupBy(col("q_id").as("vec_id"))
        .agg(
          (graft.functions.DecimalConv.decSumStr(col("cos")) /
            count(lit(1))).as("density"),
          count(lit(1)).cast("long").as("deg"))
      dens.join(assignmentTable(spark, dir, iters).select("vec_id", "c_id"),
          "vec_id")
        // RAW quotient — round-6 of (scale-6 cos-grid sum / deg) is an
        // EXACT 7-digit half-boundary value for every deg=2 vector
        // with an odd unscaled sum (coin-flip round fork); the raw
        // IEEE quotient of deterministic doubles never forks
        .select(col("vec_id"), col("c_id"),
          col("density").as("density"), col("deg"))
    }.orderBy("vec_id")

  /** DENSITY-BASED PRUNING (the D4 "diversify" step): within each
    * coarse cluster, drop the densest `frac` of vectors — the most
    * redundant examples, the ones semantic dedup's pairwise threshold
    * missed but that still crowd the cluster core — and keep the rest.
    * Rank is (density DESC, vec_id), cut at ceil(frac·|cluster|), both
    * deterministic on the bit-identical rounded density. The cut runs
    * over the n density rows — NOT the n·k edge table and NOT the
    * vectors: the heavy scoring stays in the memoized graph build.
    *
    * The rank is [[RankCut.topFlag]], never a per-c_id window: until
    * r13 this windowed by c_id under a documented bounded-skew
    * assumption (C ~ √n, balanced clusters), but a degenerate corpus
    * that collapses into one coarse cell — all-near-identical vectors,
    * exactly what `embedding_bucket_saturation` alarms on — makes that
    * one window partition corpus-sized (and the densities all TIE at
    * one 6dp value, so the tie group is the cell). The histogram form
    * needs no skew assumption at all; the skewdegen gate (50% exact-
    * duplicate vectors = one mega-cell) pins it. */
  def densityPrune(spark: SparkSession, dir: String, frac: Double = 0.25,
      k: Int = 3, nprobe: Int = 4, iters: Int = 2): DataFrame = {
    val d = knnDensity(spark, dir, k, nprobe, iters)
    RankCut.topFlag(d, "c_id", "density", "vec_id",
        n => ceil(n * lit(frac)), "pruned")
      .filter(!col("pruned"))
      .select(col("vec_id"), col("c_id"), col("density"))
      .orderBy("vec_id")
  }

  /** kNN CLASSIFIER over the graph artifact — the classic
    * embedding-quality / weak-labeling consumer: each vector's
    * predicted label is the MAJORITY label among its k graph
    * neighbors (tie → smallest label, the deterministic argmax), with
    * the agreement flag against its own label. Pure post-processing:
    * the n·k edge artifact joins the (vec_id, label) projection twice
    * — one aggregation, no re-scoring, no window (the argmax is a
    * `max` over a lexicographic (votes, −label) struct, so it gets
    * map-side partial aggregation like the centroid assignment). */
  def knnClassify(spark: SparkSession, dir: String, k: Int = 3,
      nprobe: Int = 4, iters: Int = 2): DataFrame = {
    val labels = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val g = knnGraph(spark, dir, k, nprobe, iters)
    g.join(labels.select(col("vec_id"), col("label").as("nb_label")),
        "vec_id")
      .groupBy(col("q_id"), col("nb_label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("q_id"))
      .agg(max(struct(col("votes"), (-col("nb_label")).as("neg_label")))
        .as("best"))
      .select(col("q_id").as("vec_id"),
        (-col("best.neg_label")).as("pred_label"),
        col("best.votes").as("votes"))
      .join(labels, "vec_id")
      .select(col("vec_id"), col("label"), col("pred_label"), col("votes"),
        (col("label") === col("pred_label")).as("correct"))
      .orderBy("vec_id")
  }

  /** PageRank CENTRALITY over the kNN graph — the representativeness
    * signal graph-based curation ranks on (a vector many neighbors
    * point AT anchors its semantic region): `iters` damped power
    * iterations p' = 0.15/n + 0.85·Σ_{q→v} p(q)/outdeg(q) over the
    * directed n·k edge artifact. Every iteration is ONE join of the
    * edge list with the rank table + one aggregation — no vertex ever
    * sees more than its in-edges, the classic scalable PageRank shape
    * (no dangling mass: every graph query has outdeg ≥ 1 by
    * construction). Cross-engine determinism: each edge's contribution
    * p/outdeg is one IEEE division, the per-vertex sum folds through
    * DECIMAL(38,18) (exact, order-free), and the damping update is the
    * same two-op IEEE expression on both engines; ranks round at the
    * edge. Vertices are the graph's query set; n is a broadcast
    * scalar, never a driver constant.
    *
    * `rounds` is the convergence knob, and the output carries the
    * per-vertex `residual` |p_rounds − p_{rounds−1}| alongside the
    * rank — the user-visible distance from the fixed point, so "are 3
    * damped iterations enough for this graph" is answered by the
    * result itself (sum or max the column) instead of by faith. */
  def knnCentrality(spark: SparkSession, dir: String, rounds: Int = 3,
      k: Int = 3, nprobe: Int = 4, iters: Int = 2): DataFrame = {
    val g = knnGraph(spark, dir, k, nprobe, iters)
      .select(col("q_id"), col("vec_id"))
    val outdeg = g.groupBy("q_id").agg(count(lit(1)).as("outdeg"))
    val verts = outdeg.select(col("q_id").as("vec_id"))
    val n = verts.agg(count(lit(1)).as("n"))
    var p = verts.crossJoin(broadcast(n))
      .select(col("vec_id"), (lit(1.0) / col("n")).as("p"))
    var prev = p
    for (_ <- 1 to rounds) {
      prev = p
      val contrib = g
        .join(p.select(col("vec_id").as("q_id"), col("p")), "q_id")
        .join(outdeg, "q_id")
        .groupBy(col("vec_id"))
        .agg(graft.functions.DecimalConv
          .decSum(col("p") / col("outdeg")).as("c"))
      p = verts.join(contrib, Seq("vec_id"), "left")
        .crossJoin(broadcast(n))
        .select(col("vec_id"),
          (lit(0.15) / col("n") +
            lit(0.85) * coalesce(col("c"), lit(0.0))).as("p"))
    }
    p.join(prev.select(col("vec_id"), col("p").as("p_prev")), "vec_id")
      .select(col("vec_id"), round(col("p"), 9).as("centrality"),
        round(abs(col("p") - col("p_prev")), 9).as("residual"))
      .orderBy("vec_id")
  }

  /** The trained codebook collected to the driver — a bounded C×dim
    * artifact (the same shape the PQ codebooks ship), sorted by c_id so
    * the literal array below is deterministic. */
  private def centroidLiterals(spark: SparkSession, dir: String,
      iters: Int): Array[(Long, Seq[Double], Double)] =
    // artifact-cached (r17): every literal-probe serve re-collected the
    // C-row centroid memo as its own job
    Memo.artifact(spark, dir, s"cent_lit_$iters") {
      centroidArtifact(trainCentroids(spark, dir, iters = iters))
    }

  /** Collect an arbitrary centroid frame to the driver-side literal
    * artifact (the streaming loop holds its frozen codebook this way). */
  private[graft] def centroidArtifact(
      centroids: DataFrame): Array[(Long, Seq[Double], Double)] =
    centroids.select(col("c_id"), col("c_v"), col("c_nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)

  /** (vec_id, v, nrm) of an arbitrary embeddings-schema frame — the
    * stream-batch twin of [[embeddingsWithNorm]]. */
  private[graft] def vectorsOf(df: DataFrame): DataFrame =
    withNorm(df.select(col("vec_id"), V.asDouble(col("embedding")).as("v")))
      .filter(col("nrm") > 0) // same zero-norm exclusion as emb

  /** Each query row's `nprobe` nearest centroids as exploded
    * (q_id, q_v, q_nrm, c_id) rows, with the codebook shipped as ONE
    * array literal that `transform` scores per query — probe selection
    * is a pure narrow map: zero shuffle, no n×C window, and one literal
    * to analyze however large C is (a struct literal per centroid cost
    * tens of ms of analysis per call). Ties break (c_cos DESC, c_id).
    * Input must carry (q_id, q_v, q_nrm). */
  private[graft] def withProbes(queries: DataFrame,
      cents: Array[(Long, Seq[Double], Double)], nprobe: Int): DataFrame = {
    val cand = transform(typedlit(cents.toSeq), c => struct(
      (V.dot(col("q_v"), c.getField("_2")) /
        (col("q_nrm") * c.getField("_3"))).as("c_cos"),
      (-c.getField("_1")).as("neg_id")))
    queries.select(col("q_id"), col("q_v"), col("q_nrm"),
      explode(slice(sort_array(cand, asc = false), 1, nprobe)).as("p"))
      .select(col("q_id"), col("q_v"), col("q_nrm"),
        (-col("p.neg_id")).as("c_id"))
  }

  /** Score probed inverted lists and keep each query's top-k via the
    * bounded-state [[graft.functions.TopK]] aggregate (window-free — see
    * [[knnGraph]]). Returns RAW (unrounded) scores so merge-law callers
    * ([[knnGraphMaintained]]) can compare against freshly scored
    * candidates without a rounding seam; presentation paths round at
    * the edge. */
  private[graft] def scoreTopK(index: DataFrame, probes: DataFrame,
      k: Int): DataFrame =
    index.join(probes, "c_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (V.dot(col("q_v"), col("v")) / (col("q_nrm") * col("nrm")))
          .as("score"))
      .groupBy("q_id")
      .agg(graft.functions.TopK.top_k_by_score(
        struct(col("score"), col("vec_id")), k).as("nn"))
      .select(col("q_id"), posexplode(col("nn")).as(Seq("pos", "s")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rk"),
        col("s.id").as("vec_id"), col("s.score").as("score"))

  private[graft] def knnGraphBuild(spark: SparkSession, dir: String, k: Int,
      nprobe: Int, iters: Int): DataFrame = {
    val table = graft.sources.Bucketing
      .ensureMaintainedAssignmentIndex(spark, dir, iters)
    val cents = centroidLiterals(spark, dir, iters)
    val probes = withProbes(
      emb(spark, dir).select(col("vec_id").as("q_id"), col("v").as("q_v"),
        col("nrm").as("q_nrm")),
      cents, nprobe)
    scoreTopK(spark.table(table), probes, k)
      .select(col("q_id"), col("rk"), col("vec_id"),
        round(col("score"), 6).as("cos"))
    // no orderBy here: the caller materializes this through the memo
    // parquet (row order not preserved) and sorts on the read side —
    // an inner sort would range-shuffle the n·k edges for nothing
  }

  /** MAINTAINED kNN graph — the append lifecycle the other index
    * families (bands, postings, assignment, PQ) already have, closing
    * the one artifact without one. A new-vector batch (the
    * `vec_id % mod == 0` slice plays the arrivals) folds into the
    * existing graph WITHOUT re-scoring the corpus's ~n²·nprobe/C
    * candidate pairs:
    *
    *  (i) FORWARD — each new vector probes its `nprobe` lists in the
    *      full maintained assignment index for its own top-k:
    *      O(batch·nprobe·avg_list), the existing incremental-serve
    *      cost shape.
    *  (ii) REVERSE, bounded — only edges (old q → new b) where b lands
    *      in one of q's probed cells can exist, and only those scoring
    *      at or above q's current k-th score can displace an edge. The
    *      probe map re-derives as the same literal-codebook narrow map
    *      the build uses (O(n_old·C) dots, zero shuffle), pre-filtered
    *      to the batch's DIRTY CELLS (≤ C distinct c_ids, a bounded
    *      driver-collected IN-list — at production geometry the batch
    *      touches few of the √n cells, so most probe rows never
    *      shuffle); the k-th-score prune comes from the base artifact
    *      itself (its rk=k edge IS the per-vector k-th-score column).
    *      Untouched vectors' edges pass through byte-identical; only
    *      touched vectors re-merge, via the same TopK order, using the
    *      top-k merge law top_k(top_k(old) ∪ new) = top_k(old ∪ new).
    *
    * The base graph memo stores RAW scores (`knn_base_*`): the merge
    * compares stored edges against freshly scored candidates, and a
    * round-then-compare seam could flip a 6-decimal tie against the
    * rebuild. Output rounds at the edge like every serve path.
    * Hash-equal by construction to [[knnGraph]] over the full corpus —
    * the same oracle, which IS the append-correctness proof. */
  def knnGraphMaintained(spark: SparkSession, dir: String, k: Int = 3,
      nprobe: Int = 4, iters: Int = 2, mod: Int = 10): DataFrame =
    Memo.table(spark, dir, s"knn_graph_maint_${k}_${nprobe}_${iters}_$mod") {
      val idx = spark.table(graft.sources.Bucketing
        .ensureMaintainedAssignmentIndex(spark, dir, iters))
      val newIdx = idx.filter(col("vec_id") % mod === 0)
      val e = emb(spark, dir)
      def q(df: DataFrame) = df.select(col("vec_id").as("q_id"),
        col("v").as("q_v"), col("nrm").as("q_nrm"))
      val oldQ = q(e.filter(col("vec_id") % mod =!= 0))
      val newQ = q(e.filter(col("vec_id") % mod === 0))
      val cents = centroidLiterals(spark, dir, iters)
      // the pre-batch graph, built once over the old slice only
      val base = knnGraphBase(spark, dir, k, nprobe, iters, mod)
      val (untouched, remerged) =
        graphReverseMerge(base, newIdx, oldQ, cents, k, nprobe)
      // (i) the batch's own edges, probed against the full index
      val newEdges = scoreTopK(idx, withProbes(newQ, cents, nprobe), k)
      untouched.unionByName(remerged).unionByName(newEdges)
        .select(col("q_id"), col("rk"), col("vec_id"),
          round(col("score"), 6).as("cos"))
    }.orderBy("q_id", "rk")

  /** The bounded REVERSE half of the graph fold-in, factored so the
    * batch-maintained graph ([[knnGraphMaintained]]) and the streaming
    * maintenance loop
    * ([[graft.streaming.StreamingBackfill.graphIngestLoop]]) share one
    * merge law. Inputs: the current RAW-score graph `base`
    * (q_id, rk, vec_id, score), the arriving batch's index rows
    * `batchIdx` (c_id, vec_id, v, nrm), and the established-vector
    * query set `oldQ` (q_id, q_v, q_nrm) — which must NOT contain the
    * batch's own ids (their forward top-k is the caller's other half).
    * Returns (untouched, remerged): base rows whose top-k no batch
    * vector can enter, and the re-merged rows of touched vectors —
    * top_k(top_k(old) ∪ new) = top_k(old ∪ new) under the k-th-score
    * prune. The pre-TopK dropDuplicates is a no-op on a first
    * delivery (base edges point at pre-batch vectors, surviving
    * candidates are batch vectors — disjoint) and exists for
    * at-least-once REDELIVERY, where base may already contain the
    * batch's edges and a duplicate (q, v) struct could otherwise crowd
    * a genuine neighbor out of the k-buffer. */
  private[graft] def graphReverseMerge(base: DataFrame, batchIdx: DataFrame,
      oldQ: DataFrame, cents: Array[(Long, Seq[Double], Double)],
      k: Int, nprobe: Int): (DataFrame, DataFrame) = {
    // (ii) candidate pairs old-q → new-b, dirty-cell-pruned
    val dirtyCells = batchIdx.select("c_id").distinct()
      .collect().map(_.getLong(0)).sorted // bounded by C
    val newPairs = batchIdx.join(
        withProbes(oldQ, cents, nprobe)
          .filter(col("c_id").isin(dirtyCells.toSeq: _*)), "c_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (V.dot(col("q_v"), col("v")) / (col("q_nrm") * col("nrm")))
          .as("score"))
    // per-vector k-th score from the artifact: a full top-k's weakest
    // edge; vectors with fewer than k edges can always absorb more
    val kth = base.groupBy("q_id")
      .agg(count(lit(1)).as("cnt"), min(col("score")).as("mn"))
      .select(col("q_id"),
        when(col("cnt") >= k, col("mn"))
          .otherwise(lit(Double.NegativeInfinity)).as("kth"))
    // >= keeps score ties: an equal-score smaller-id arrival displaces
    val surviving = newPairs.join(kth, Seq("q_id"), "left")
      .filter(col("kth").isNull || col("score") >= col("kth"))
      .select("q_id", "vec_id", "score")
    val touched = surviving.select("q_id").distinct()
    val untouched = base.join(touched, Seq("q_id"), "left_anti")
    val remerged = base.join(touched, "q_id")
      .select("q_id", "vec_id", "score")
      .unionByName(surviving)
      .dropDuplicates("q_id", "vec_id")
      .groupBy("q_id")
      .agg(graft.functions.TopK.top_k_by_score(
        struct(col("score"), col("vec_id")), k).as("nn"))
      .select(col("q_id"), posexplode(col("nn")).as(Seq("pos", "s")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rk"),
        col("s.id").as("vec_id"), col("s.score").as("score"))
    (untouched, remerged)
  }

  /** The pre-batch graph memo behind [[knnGraphMaintained]] — the old
    * slice's kNN edges with RAW scores. Package-visible so the scale
    * probe can time the base build APART from the bounded fold-in (the
    * fold-in is the claim; the base costs a rebuild by definition). */
  private[graft] def knnGraphBase(spark: SparkSession, dir: String,
      k: Int = 3, nprobe: Int = 4, iters: Int = 2,
      mod: Int = 10): DataFrame =
    Memo.table(spark, dir, s"knn_base_${k}_${nprobe}_${iters}_$mod") {
      val oldIdx = spark.table(graft.sources.Bucketing
        .ensureMaintainedAssignmentIndex(spark, dir, iters))
        .filter(col("vec_id") % mod =!= 0)
      val oldQ = emb(spark, dir).filter(col("vec_id") % mod =!= 0)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"),
          col("nrm").as("q_nrm"))
      scoreTopK(oldIdx,
        withProbes(oldQ, centroidLiterals(spark, dir, iters), nprobe), k)
    }

  /** CHURNED kNN graph — delete-through for the graph artifact: the
    * `vec_id % mod == 0` batch is deleted (the same tombstone set as
    * [[churnedTopK]]'s churned assignment index), and a deleted
    * vector's edges disappear in BOTH directions:
    *  - as queries, its rows drop (a filter on the artifact);
    *  - as neighbors, every surviving vector holding an edge TO a
    *    deleted one is repaired by re-probing its lists against the
    *    churned serve view — the affected set is bounded by the deleted
    *    vectors' reverse degree (≤ n_del·k vectors), never the corpus.
    * Unaffected vectors keep their edges byte-identical: deletion only
    * REMOVES candidates, and a top-k whose members all survive is the
    * top-k of the surviving candidate set. Hash-equal by construction
    * to a fresh graph build over only the surviving vectors — the
    * delete-through proof, same oracle shape as [[churnedTopK]]. */
  def knnGraphChurn(spark: SparkSession, dir: String, k: Int = 3,
      nprobe: Int = 4, iters: Int = 2, mod: Int = 10): DataFrame =
    Memo.table(spark, dir, s"knn_graph_churn_${k}_${nprobe}_${iters}_$mod") {
      val g = knnGraph(spark, dir, k, nprobe, iters)
      val survivors = g.filter(col("q_id") % mod =!= 0)
      val affected = survivors.filter(col("vec_id") % mod === 0)
        .select("q_id").distinct()
      val untouched = survivors.join(affected, Seq("q_id"), "left_anti")
        .select("q_id", "rk", "vec_id", "cos")
      val served = graft.sources.IndexChurn.served(spark,
          graft.sources.Bucketing.ensureChurnedAssignmentIndex(
            spark, dir, iters, mod = mod), Seq("c_id", "vec_id"))
        .select("c_id", "vec_id", "v", "nrm")
      val affQ = emb(spark, dir)
        .join(affected.withColumnRenamed("q_id", "vec_id"), "vec_id")
        .select(col("vec_id").as("q_id"), col("v").as("q_v"),
          col("nrm").as("q_nrm"))
      val repaired = scoreTopK(served,
          withProbes(affQ, centroidLiterals(spark, dir, iters), nprobe), k)
        .select(col("q_id"), col("rk"), col("vec_id"),
          round(col("score"), 6).as("cos"))
      untouched.unionByName(repaired)
    }.orderBy("q_id", "rk")

  /** PERSISTED per-vector centroid assignment — the index-side state an
    * incremental ANN pipeline maintains (the dedup band index's twin):
    * (vec_id, c_id, v, nrm) for every corpus vector, materialized once
    * behind [[Memo]]. A production deployment keeps this as a bucketed
    * catalog table and folds verified new batches in by append; queries
    * then probe lists without ever re-running the O(n·C) assignment. */
  def assignmentTable(spark: SparkSession, dir: String,
      iters: Int = 2): DataFrame =
    Memo.table(spark, dir, s"ivf_assign_$iters") {
      assignNearest(emb(spark, dir), trainCentroids(spark, dir, iters = iters))
    }

  /** Centroid assignment of ONE corpus slice against the frozen
    * memoized centroids — the build (`newBatch = false`) and increment
    * (`newBatch = true`) halves of the maintained bucketed assignment
    * index ([[graft.sources.Bucketing.ensureMaintainedAssignmentIndex]]).
    * Cost of an increment is O(batch·C), never O(n·C). */
  def assignSlice(spark: SparkSession, dir: String, newBatch: Boolean,
      iters: Int = 2, mod: Int = 10): DataFrame = {
    val e0 = emb(spark, dir)
    val slice =
      if (newBatch) e0.filter(col("vec_id") % mod === 0)
      else e0.filter(col("vec_id") % mod =!= 0)
    assignNearest(slice, trainCentroids(spark, dir, iters = iters))
      .select("vec_id", "c_id", "v", "nrm")
  }

  /** Harness query `sim_topk_maintained`: the standard query set served
    * from the MAINTAINED bucketed assignment index (corpus slice built
    * once + new-vector batch appended against frozen centroids). Equal
    * by construction to [[ivfTopKTrained]] over the full corpus — the
    * same oracle hash, which IS the append-correctness proof. */
  def maintainedTopK(spark: SparkSession, dir: String, k: Int = 10,
      nprobe: Int = 8, iters: Int = 2): DataFrame = {
    val table =
      graft.sources.Bucketing.ensureMaintainedAssignmentIndex(spark, dir, iters)
    probeTopK(spark.table(table), queriesOf(emb(spark, dir)),
      centroidLiterals(spark, dir, iters), k, nprobe, NumQueries)
  }

  /** RETRAIN lifecycle for the maintained assignment index — the
    * missing third phase after build and frozen-centroid append:
    * production IVF centroids go stale as appended batches drift away
    * from the distribution they were trained on, so the index is
    * periodically retrained and re-assigned. The rebuild is STAGED so
    * there is never a serving gap: fresh centroids are trained under a
    * new index version (`newIters` — a distinct memo key, the
    * "centroid epoch"), every current vector is read back OUT OF THE
    * OLD INDEX (the index is self-contained — no source-table re-read)
    * and assigned against the new centroids into a new bucketed table
    * built under a temp name and renamed only when complete
    * ([[graft.sources.Bucketing.ensureBucketedTable]]'s crash-atomic
    * path). The OLD index table is untouched and keeps serving its
    * centroid epoch until the caller flips the epoch — the same
    * pointer-swap cutover as the CDC store's rename-aside, at catalog
    * granularity. Cost: O(n·C) assignment, the irreducible price of a
    * retrain, in ONE staged job. SimilaritySpec pins: old epoch serves
    * unchanged after the retrain, and the retrained index hash-equals
    * a fresh full build with the new centroids. */
  def retrainAssignmentIndex(spark: SparkSession, dir: String,
      oldIters: Int = 2, newIters: Int = 3, buckets: Int = 8): String = {
    val oldTable = graft.sources.Bucketing
      .ensureMaintainedAssignmentIndex(spark, dir, oldIters)
    val newTable =
      graft.sources.Bucketing.maintainedAssignmentTableName(dir, newIters)
    retrainFrom(spark, dir, oldTable, newTable, newIters, buckets)
  }

  /** The retrain kernel, decoupled from the maintained-table naming so
    * a CHURN-schema index retrains too: vectors are read back out of
    * the old index THROUGH ITS SERVE VIEW when the schema carries
    * (op, seq) — a retrain that read raw rows would resurrect every
    * tombstoned vector into the new epoch (and re-assign superseded
    * versions), silently undoing deletes. The new epoch starts
    * churn-debt-free: winners only, plain schema; subsequent deletes
    * tombstone against the new table. SimilaritySpec pins the
    * no-resurrection property. */
  // TRAINING-SET CAVEAT: the new epoch's centroids train over the FULL
  // embeddings table (the harness fixture has no deletions in the
  // retrain scenario, and the DuckDB oracle replays the same full-table
  // Lloyd). A production retrain AFTER churn should train on the old
  // index's SERVE VIEW instead, or deleted regions keep attracting
  // centroids — the assignment side below already reads survivors only.
  def retrainFrom(spark: SparkSession, dir: String, oldTable: String,
      newTable: String, newIters: Int, buckets: Int = 8): String = {
    val newCentroids = trainCentroids(spark, dir, iters = newIters)
    val raw = spark.table(oldTable)
    val vectors = (if (raw.columns.contains("op"))
        graft.sources.IndexChurn.servedFrom(raw, Seq("c_id", "vec_id"))
      else raw).select("vec_id", "v", "nrm")
    graft.sources.Bucketing.ensureBucketedTable(spark, newTable,
      assignNearest(vectors, newCentroids)
        .select("vec_id", "c_id", "v", "nrm"),
      Seq("c_id"), buckets,
      Some(graft.sources.SourceState.fingerprint(spark, dir,
        Seq("embeddings"))))()
    newTable
  }

  /** Embeddings with precomputed norm — the (vec_id, v, nrm) frame all
    * index-build and serving paths consume; public so the streaming
    * ingest loop's spec can slice the vector space explicitly. */
  def embeddingsWithNorm(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir)

  /** Centroid assignment of an arbitrary (vec_id, v, nrm) batch against
    * frozen centroids — the per-microbatch ANN index increment of
    * [[graft.streaming.StreamingBackfill.fullIngestLoop]]. O(batch·C),
    * never O(n·C). */
  def assignVectors(vectors: DataFrame, centroids: DataFrame): DataFrame =
    assignNearest(vectors, centroids).select("vec_id", "c_id", "v", "nrm")

  /** The standard query set served over an EXPLICIT assignment frame —
    * the probe tail of [[maintainedTopK]] decoupled from the catalog
    * table name, so a churn-schema streaming index's serve view (or any
    * other assignment source) can answer the same queries. */
  def servedTopK(spark: SparkSession, dir: String, assigned: DataFrame,
      k: Int = 10, nprobe: Int = 8, iters: Int = 2): DataFrame = {
    probeTopK(assigned, queriesOf(emb(spark, dir)),
      centroidLiterals(spark, dir, iters), k, nprobe, NumQueries)
  }

  /** Harness query `sim_topk_retrained`: the standard query set served
    * from the RETRAINED assignment index — [[retrainAssignmentIndex]]
    * rebuilds the epoch-2 maintained index under fresh epoch-3
    * centroids (staged, no serving gap), and this serves from the new
    * table. Equal by construction to a fresh full build with the new
    * centroids — the same oracle as [[ivfTopKTrained]] at iters=3,
    * which makes the retrain lifecycle a driver-gate-proven row, not
    * just a spec. */
  def retrainedTopK(spark: SparkSession, dir: String, k: Int = 10,
      nprobe: Int = 8): DataFrame = {
    val table = retrainAssignmentIndex(spark, dir, oldIters = 2, newIters = 3)
    servedTopK(spark, dir, spark.table(table), k, nprobe, iters = 3)
  }

  /** Harness query `sim_topk_churn`: the standard query set served from
    * the CHURN-capable assignment index
    * ([[graft.sources.Bucketing.ensureChurnedAssignmentIndex]] — full
    * assignment built, the `vec_id % 10 == 0` batch deleted via
    * tombstones under the same frozen centroids, bucket-local
    * compaction). The serve view keys on (c_id, vec_id) so the probe's
    * c_id filter stays below the latest-wins window; deleted vectors
    * can never surface in a top-k between retrains. Hash-equal to IVF
    * over only the surviving vectors — the delete-through proof. */
  def churnedTopK(spark: SparkSession, dir: String, k: Int = 10,
      nprobe: Int = 8, iters: Int = 2): DataFrame = {
    val table =
      graft.sources.Bucketing.ensureChurnedAssignmentIndex(spark, dir, iters)
    val assigned = graft.sources.IndexChurn.served(spark, table,
      Seq("c_id", "vec_id"))
    servedTopK(spark, dir, assigned, k, nprobe, iters)
  }

  /** Harness query `semantic_neardup`: SemDeDup-style semantic
    * near-duplicate pairs (Abbas et al. 2023, "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication") riding the
    * SERVING index — the memoized IVF assignment IS the clustering, so
    * semantic dedup is one per-cluster pairwise pass over centroid
    * lists (Σ|cluster|², ~(n/C)² per cluster) instead of a separate
    * LSH structure or an n² sweep. The self-join keys on c_id, so both
    * sides shuffle once on the cluster id (or ride the c_id-bucketed
    * maintained index exchange-free); at 100 TB the per-cluster bound
    * is held by the SAME retrain cadence that keeps the ANN index
    * balanced — a mega-cluster is an index-quality problem first, and
    * its fix (retrain, [[retrainAssignmentIndex]]) fixes dedup too. */
  def semanticNearDupPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.40, iters: Int = 2): DataFrame =
    semanticNearDupPairsFrom(
      assignmentTable(spark, dir, iters), threshold)

  /** The sweep of [[semanticNearDupPairs]] over an EXPLICIT assignment
    * frame (the testable kernel — any (c_id, vec_id, v, nrm) source:
    * the memo, the maintained bucketed index, a churn serve view). */
  def semanticNearDupPairsFrom(assignment: DataFrame,
      threshold: Double = 0.40): DataFrame = {
    val a = assignment.select(col("c_id"), col("vec_id"), col("v"), col("nrm"))
    val b = a.select(col("c_id"), col("vec_id").as("vec_b"),
      col("v").as("v_b"), col("nrm").as("nrm_b"))
    a.join(b, "c_id")
      .filter(col("vec_id") < col("vec_b"))
      .withColumn("cos", V.dot(col("v"), col("v_b")) / (col("nrm") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select(col("vec_id").as("vec_a"), col("vec_b"),
        round(col("cos"), 6).as("cos"))
      .orderBy("vec_a", "vec_b")
  }

  /** Harness query `semantic_neardup_maintained`: the same pair set
    * served from the c_id-BUCKETED maintained assignment index — the
    * self-join keys on exactly the bucket column, so BOTH sides read
    * colocated with zero hash exchange (BucketingSpec pins the plan;
    * only per-bucket sorts and the presentation range-sort remain).
    * This is the 100 TB shape: the sweep streams bucket-by-bucket over
    * the serving index with no corpus-wide shuffle at all. Same oracle
    * as [[semanticNearDupPairs]] — the maintained index is hash-equal
    * to the full build by the append-correctness proof. */
  def semanticNearDupMaintained(spark: SparkSession, dir: String,
      threshold: Double = 0.40, iters: Int = 2): DataFrame = {
    val t = graft.sources.Bucketing
      .ensureMaintainedAssignmentIndex(spark, dir, iters)
    semanticNearDupPairsFrom(spark.table(t), threshold)
  }

  /** Harness query `semantic_dedup_keep`: the greedy keep-min-id
    * survivor set of [[semanticNearDupPairs]] — a vector is dropped iff
    * some smaller-id vector in its centroid list sits above the
    * threshold (every pair retires its larger id, so each near-dup
    * group keeps exactly its minimum — deterministic without a
    * union-find pass; transitive groups need no closure for this
    * keep-min rule because the minimum of a group is never anyone's
    * vec_b). Output joins the label back on, the shape a curation
    * pipeline consumes. */
  def semanticDedupKeep(spark: SparkSession, dir: String,
      threshold: Double = 0.40, iters: Int = 2): DataFrame = {
    val dropped = semanticNearDupPairs(spark, dir, threshold, iters)
      .select(col("vec_b").as("vec_id")).distinct()
    Tables.load(spark, dir, "embeddings").select("vec_id", "label")
      .join(dropped, Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** Harness query `sim_topk_incremental`: a NEW vector batch (the
    * `vec_id % mod == 0` slice plays the new arrivals) finds its top-k
    * neighbors among the EXISTING corpus by probing its `nprobe`
    * centroid lists against the PERSISTED [[assignmentTable]] — no
    * full-corpus re-assignment per batch. Per-batch cost is
    * O(batch·C + probed lists); the corpus side is a narrow filtered
    * scan of the assignment memo (SimilaritySpec pins the plan). */
  def incrementalTopK(spark: SparkSession, dir: String, k: Int = 10,
      nprobe: Int = 8, iters: Int = 2, mod: Int = 10): DataFrame = {
    // the arrival batch GROWS WITH THE CORPUS (a fixed corpus slice,
    // not a fixed query set), so this is the one serve that must not
    // ride probeTopK's broadcast(probes) — a batch-sized forced
    // broadcast is the r5 OOM shape. The graph build's literal-codebook
    // probe map (narrow, zero shuffle) + bounded-state TopK serve the
    // unbounded-|Q| case; values are tie-for-tie identical to the
    // window form, so the oracle is unchanged.
    val cents = centroidLiterals(spark, dir, iters)
    val corpus = assignmentTable(spark, dir, iters)
      .filter(col("vec_id") % mod =!= 0)
      .select("c_id", "vec_id", "v", "nrm")
    // NOT spread (r18): tried hash-spreading the batch side (the
    // join's streamed side — its single-split scan serializes the
    // scoring) and measured 0.78 -> 0.87 s: every task's duration was
    // dominated by the corpus broadcast-relation materialization
    // queue (BlockManager KeyLock) plus 32x shuffle-writer setup, so
    // the added parallelism never paid. The serve is floor-bound by
    // the one-time broadcast build at this data size.
    val batch = emb(spark, dir).filter(col("vec_id") % mod === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"),
        col("nrm").as("q_nrm"))
    scoreTopK(corpus, withProbes(batch, cents, nprobe), k)
      .select(col("q_id"), col("rk"), col("vec_id"),
        round(col("score"), 6).as("cos"))
      .orderBy("q_id", "rk")
  }

  /** Harness query `semantic_dedup_incremental`: AT-INGEST semantic
    * screening — the incremental form of SemDeDup, completing the same
    * scan/maintained/incremental family BM25 and top-k ANN already
    * have. A NEW vector batch (the `vec_id % mod == 0` slice plays the
    * arrivals) is screened against the EXISTING corpus by probing each
    * new vector's `nprobe` nearest centroid lists in the PERSISTED
    * [[assignmentTable]]: a vector is rejected iff some existing corpus
    * vector in a probed list sits at cosine >= threshold — it adds no
    * semantic information the corpus lacks. Per-batch cost is
    * O(batch·C) for the probe ranking (C fixed at 64, so linear in the
    * batch — the same constant the batch's own index append already
    * pays) plus the probed inverted lists; nothing rescans or
    * re-assigns the corpus, and the probes→corpus join is AQE-decided
    * because the batch, unlike the bounded 8-query serving set, is
    * arbitrarily large — a forced broadcast here is the r5 BM25 OOM
    * shape. Intra-batch duplicates are deliberately NOT screened:
    * admission must not depend on arrival order within a batch;
    * admitted vectors join the index via the maintained append and the
    * NEXT batch probes them. Output is the full batch with its
    * admission verdict — the shape an ingest gate consumes. */
  def semanticScreenBatch(spark: SparkSession, dir: String,
      threshold: Double = 0.40, nprobe: Int = 8, iters: Int = 2,
      mod: Int = 10): DataFrame = {
    val verdicts = semanticScreenFrom(
      emb(spark, dir).filter(col("vec_id") % mod === 0),
      assignmentTable(spark, dir, iters).filter(col("vec_id") % mod =!= 0),
      trainCentroids(spark, dir, iters = iters), threshold, nprobe)
    Tables.load(spark, dir, "embeddings").select("vec_id", "label")
      .join(verdicts, "vec_id")
      .select("vec_id", "label", "admitted")
      .orderBy("vec_id")
  }

  /** Top-k IVF probe for an EXPLICIT query-id set against the
    * persisted assignment memo — the semantic half of
    * [[graft.operators.Retrieval.hybridSearch]]: the fusion operator
    * picks which ids query, everything else is the standard
    * [[probeTopK]] serve (frozen centroids, nprobe inverted lists,
    * bounded TopK, |qIds|·k output bound). */
  def probedTopKForIds(spark: SparkSession, dir: String, qIds: Seq[Long],
      k: Int = 10, nprobe: Int = 8, iters: Int = 2): DataFrame = {
    val queries = emb(spark, dir).filter(col("vec_id").isin(qIds: _*))
      .select(col("vec_id").as("q_id"), col("v").as("q_v"),
        col("nrm").as("q_nrm"))
    probeTopK(assignmentTable(spark, dir, iters), queries,
      centroidLiterals(spark, dir, iters), k, nprobe, qIds.distinct.size)
  }

  /** The screening kernel over EXPLICIT frames — `batch` is any
    * (vec_id, v, nrm) arrival set, `assignment` any corpus assignment
    * source under the SAME centroids (the memo, the maintained bucketed
    * index, a streaming churn serve view). Returns every batch vector
    * with its verdict: `admitted = false` iff some corpus vector in the
    * batch vector's `nprobe` probed lists sits at cosine >= threshold.
    * Public so the streaming ingest loop screens each microbatch
    * against the live index through the same definition the harness
    * row gates. */
  def semanticScreenFrom(batch: DataFrame, assignment: DataFrame,
      centroids: DataFrame, threshold: Double = 0.40,
      nprobe: Int = 8): DataFrame = {
    val q = batch.select(col("vec_id").as("q_id"), col("v").as("q_v"),
      col("nrm").as("q_nrm"))
    val probes = probesOf(q, centroids, nprobe)
    // vec_id != q_id mirrors probeTopK: under at-least-once replay the
    // index already holds the batch's own first-run append, and a
    // vector must not be rejected for matching ITSELF
    val rejected = assignment
      .select(col("c_id"), col("vec_id"), col("v"), col("nrm"))
      .join(probes, "c_id")
      .filter(col("vec_id") =!= col("q_id"))
      .filter(V.dot(col("q_v"), col("v")) / (col("q_nrm") * col("nrm"))
        >= threshold)
      .select(col("q_id").as("vec_id")).distinct()
      .withColumn("rejected", lit(true))
    batch.select("vec_id")
      .join(rejected, Seq("vec_id"), "left")
      .select(col("vec_id"),
        (!coalesce(col("rejected"), lit(false))).as("admitted"))
  }

  // =============== MMR diversified re-rank (serving-side) ===============

  /** MMR trade-off weights as exact decimal-string literals so BOTH
    * engines parse the same two doubles (never compute 1−λ at runtime:
    * 1.0−0.7 is 0.30000000000000004 in IEEE — a different multiplier
    * than the SQL literal 0.3). */
  val MmrLambda = "0.7"
  val MmrMu = "0.3"

  /** Harness query `mmr_rerank`: Maximal Marginal Relevance
    * (Carbonell & Goldstein 1998) diversified re-ranking of a per-query
    * ANN shortlist — greedily pick argmax over remaining candidates of
    * λ·sim(q,c) − (1−λ)·max_{s∈selected} sim(c,s), the standard
    * redundancy-penalized serving step between retrieval and a RAG/
    * labeling consumer (a near-dup-heavy corpus otherwise fills all k
    * slots with copies of one result).
    *
    * Shape: the pool is a bounded per-query shortlist (here the brute
    * top-`poolK`; in production any of the index serves — MMR is
    * input-agnostic), so everything after shortlisting is
    * corpus-size-INDEPENDENT: poolK² pairwise cosines per query, then
    * the whole k-step greedy runs as ONE Catalyst `aggregate` fold
    * over each query's candidate array (a narrow map over |Q| rows —
    * no per-step job, no driver loop, no iteration shuffles). Selection
    * compares raw IEEE doubles built from round-6 inputs with identical
    * op trees on both engines; ties break on vec_id.
    *
    * Cross-engine: relevance and pairwise cosines round to 6 (the
    * serve-family convention); the greedy argmax is replayed by the
    * oracle as k unrolled ranked rounds. */
  def mmrRerank(spark: SparkSession, dir: String, poolK: Int = 20,
      k: Int = 8): DataFrame = {
    val e = emb(spark, dir)
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    val pool = e.crossJoin(broadcast(queriesOf(e)))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("v"), col("nrm"),
        (V.dot(col("q_v"), col("v")) / (col("q_nrm") * col("nrm"))).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= poolK)
      .select(col("q_id"), col("rk"), col("vec_id"), col("v"), col("nrm"),
        round(col("cos"), 6).as("rel"))
      // the shortlist (|Q|·poolK rows) has three consumers below —
      // without the eager cut each re-runs the O(|Q|·n) corpus scan
      .localCheckpoint()
    mmrGreedy(pool, k)
  }

  /** Harness query `mmr_rerank_ivf`: the SAME greedy over the
    * index-served shortlist — the production composition (probe the
    * IVF inverted lists for top-`poolK`, then diversify), proving the
    * re-ranker is pool-source-agnostic. The pool read is bucket-pruned
    * index scanning (the `sim_topk_ivf_kmeans` serve shape with the
    * vectors carried); everything after is identical to
    * [[mmrRerank]]. */
  def mmrRerankIvf(spark: SparkSession, dir: String, poolK: Int = 20,
      k: Int = 8, nprobe: Int = 8, iters: Int = 2): DataFrame = {
    val e = emb(spark, dir)
    val probes = probesOf(queriesOf(e),
      trainCentroids(spark, dir, iters = iters), nprobe)
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    val pool = assignmentTable(spark, dir, iters)
      .join(broadcast(probes), "c_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("v"), col("nrm"),
        (V.dot(col("q_v"), col("v")) / (col("q_nrm") * col("nrm"))).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= poolK)
      .select(col("q_id"), col("rk"), col("vec_id"), col("v"), col("nrm"),
        round(col("cos"), 6).as("rel"))
      .localCheckpoint()
    mmrGreedy(pool, k)
  }

  /** The MMR greedy over a shortlist frame
    * (q_id, rk, vec_id, v, nrm, rel) — see [[mmrRerank]] for the
    * contract. ONE definition for every pool source. */
  private def mmrGreedy(pool: DataFrame, k: Int): DataFrame = {
    // poolK² pairwise cosines per query — bounded by design
    val a = pool.select(col("q_id"), col("rk").as("a_rk"),
      col("v").as("a_v"), col("nrm").as("a_nrm"))
    val b = pool.select(col("q_id"), col("rk").as("b_rk"),
      col("v").as("b_v"), col("nrm").as("b_nrm"))
    val psim = a.join(b, "q_id")
      .select(col("q_id"), col("a_rk"), col("b_rk"),
        round(V.dot(col("a_v"), col("b_v")) /
          (col("a_nrm") * col("b_nrm")), 6).as("sim"))
    // per candidate: sims to every pool member, aligned by pool rank
    val withSims = pool
      .join(psim.withColumnRenamed("a_rk", "rk"), Seq("q_id", "rk"))
      .groupBy(col("q_id"), col("rk"), col("vec_id"), col("rel"))
      .agg(transform(array_sort(collect_list(struct(col("b_rk"),
        col("sim")))), p => p.getField("sim")).as("sims"))
    val cands = withSims
      .groupBy("q_id")
      .agg(array_sort(collect_list(struct(col("rk"), col("vec_id"),
        col("rel"), col("sims")))).as("cands"))
    val lam = lit(MmrLambda.toDouble)
    val mu = lit(MmrMu.toDouble)
    val outType =
      "array<struct<rk:bigint,vec_id:bigint,rel:double,mmr:double>>"
    val zero = struct(
      array().cast("array<bigint>").as("sel"),
      array().cast(outType).as("out"))
    val folded = aggregate(
      sequence(lit(1), lit(k)),
      zero,
      (acc, _) => {
        val scored = filter(
          transform(col("cands"), c => struct(
            (lam * c.getField("rel") - mu * coalesce(
              array_max(transform(acc.getField("sel"),
                i => element_at(c.getField("sims"), i.cast("int")))),
              lit(0.0d))).as("mmr"),
            (-c.getField("vec_id")).as("negid"),
            c.getField("rk").as("rk"),
            c.getField("vec_id").as("vec_id"),
            c.getField("rel").as("rel"))),
          s => !array_contains(acc.getField("sel"), s.getField("rk")))
        val best = array_max(scored)
        when(size(scored) === 0, acc).otherwise(struct(
          concat(acc.getField("sel"),
            array(best.getField("rk"))).as("sel"),
          concat(acc.getField("out"), array(struct(
            (size(acc.getField("out")) + 1).cast("bigint").as("rk"),
            best.getField("vec_id").as("vec_id"),
            best.getField("rel").as("rel"),
            // raw IEEE value, NOT rounded: λ·(round-6 rel) lands
            // exactly on the 7th-digit half boundary whenever rel's
            // 6th digit is odd, and the engines' round() algorithms
            // fork there (toString-value vs binary) — both engines
            // compute the identical double, so emit it as-is
            best.getField("mmr").as("mmr")))).as("out")))
      },
      acc => acc.getField("out"))
    cands.select(col("q_id"), explode(folded).as("o"))
      .select(col("q_id"), col("o.rk").as("rk"),
        col("o.vec_id").as("vec_id"), col("o.rel").as("rel"),
        col("o.mmr").as("mmr"))
      .orderBy("q_id", "rk")
  }
}
