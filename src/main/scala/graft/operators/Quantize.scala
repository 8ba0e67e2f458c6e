package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Vectors => V}

/** Embedding storage compression: symmetric int8 quantization — the
  * standard 4× shrink for ANN corpora (scale = 127/max|x| per vector,
  * q = round(x·scale)). A narrow map (per-element HOFs are fine here:
  * every lambda references only its own element and row-level scalars).
  * Emits the per-vector scale, a quantized sample, and the max absolute
  * reconstruction error — oracle-checked against DuckDB list math.
  *
  * Plus PRODUCT QUANTIZATION (Jégou, Douze & Schmid 2011, "Product
  * quantization for nearest neighbor search") — the memory half of the
  * 100 TB ANN story the IVF family leaves open: a 64-dim float vector
  * (512 B as doubles, 256 B as floats) compresses to M=8 one-byte
  * codes + one norm, so the ADC scan in [[pqTopK]] reads ~20 B per
  * vector — the difference between an embedding index that fits in
  * cluster memory and one that doesn't. Per-subspace codebooks are
  * Lloyd-trained with the same decimal-exact means as the IVF
  * centroids (bit-deterministic, so the DuckDB oracle replays training,
  * encoding AND the ADC scan exactly).
  */
object Quantize {
  import Similarity.{asQueries, queriesOf, serveTopK}

  /** PQ geometry: M subspaces of SubDim dims, Ksub centroids each —
    * 8 bytes of code per vector, 16-entry lookup tables per subspace. */
  val M = 8
  val Ksub = 16
  val SubDim = 8

  // THE (vec_id, v, nrm) vector frame — Similarity's, not a private
  // re-implementation: PQ codes and IVF assignments join on vec_id
  // under hash-equality contracts, so the two modules must read the
  // identical frame (including its zero-norm exclusion)
  private def emb(spark: SparkSession, dir: String): DataFrame =
    Similarity.embeddingsWithNorm(spark, dir)

  /** Fail LOUD when the corpus dimensionality is not the PQ geometry's
    * M·SubDim: `slice` past the end returns short/empty arrays, so a
    * 32-dim corpus would silently drop half the subspaces from the
    * codebook and every ADC sum would run over fewer addends — wrong
    * top-k with no error — while a 128-dim corpus would silently
    * quantize only its first 64 dims. One 1-row driver peek, called
    * once per memoized codebook build. */
  private def requireDim(e: DataFrame): DataFrame = {
    e.select(size(col("v")).as("d")).limit(1).collect()
      .headOption.foreach { r =>
        val d = r.getInt(0)
        require(d == M * SubDim,
          s"PQ geometry expects ${M * SubDim}-dim embeddings " +
            s"(M=$M x SubDim=$SubDim); corpus has $d dims")
      }
    e
  }

  /** (vec_id, sub, sv): the M subvector slices of each vector — a pure
    * narrow generate, M rows per vector. */
  private def subvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        explode(sequence(lit(0), lit(M - 1))).as("sub"), col("v"))
      .select(col("vec_id"), col("sub"),
        slice(col("v"), col("sub") * lit(SubDim) + lit(1), lit(SubDim))
          .as("sv"))

  /** Nearest-codebook-entry assignment as ONE aggregation (the
    * [[Similarity]] argmax-struct trick): argmin L2 distance =
    * argmax (2·sv·cv − cv·cv) (sv·sv is constant within the group), tie
    * broken to the smallest c_id via the negated-id struct field. The
    * shuffle carries ~n·M combined rows, never n·M·Ksub. */
  private def assignCodes(subs: DataFrame, cb: DataFrame): DataFrame =
    subs.join(broadcast(cb), "sub")
      .select(col("vec_id"), col("sub"), col("sv"),
        struct(
          (lit(2.0) * V.dot(col("sv"), col("cv")) -
            V.dot(col("cv"), col("cv"))).as("score"),
          (-col("c_id")).as("neg_id"),
          col("c_id").as("c_id")).as("cand"))
      .groupBy("vec_id", "sub")
      .agg(first(col("sv")).as("sv"), max(col("cand")).as("best"))
      .select(col("vec_id"), col("sub"), col("sv"),
        col("best.c_id").as("code"))

  /** Lloyd-trained per-subspace codebooks, all M subspaces in ONE
    * DataFrame job per iteration (the `sub` column rides the grouping
    * keys). Seeded from the first Ksub vectors' subvectors; means are
    * decimal-exact like [[Similarity.trainCentroids]] so the codebook
    * is bit-deterministic across engines and partitionings. Memoized:
    * codebook training is a once-per-dataset index build. */
  def trainCodebooks(spark: SparkSession, dir: String,
      iters: Int = 2): DataFrame =
    trainCodebooksOver(spark, dir, s"pq_cb_${M}_${Ksub}_$iters", iters,
      subvectors(requireDim(emb(spark, dir))))

  /** The Lloyd loop over an EXPLICIT (vec_id, sub, sv) subvector frame
    * — plain PQ trains on raw subvectors, residual PQ (IVFADC) on
    * coarse-quantizer residuals; the training arithmetic is one
    * kernel. */
  private def trainCodebooksOver(spark: SparkSession, dir: String,
      memoKey: String, iters: Int, subs: => DataFrame): DataFrame =
    Memo.table(spark, dir, memoKey) {
      // seed from the Ksub LOWEST ids with DENSE c_ids 0..Ksub−1 (the
      // packed layout indexes code arrays by c_id) — a `vec_id < Ksub`
      // filter would silently yield an empty seed codebook, and with
      // it empty indexes and rankings, on any corpus whose ids don't
      // start at 0; identical to that rule when they do
      // dense ids via a bounded Ksub-row driver round-trip — see
      // Similarity.seedCentroids for why not a global-order window
      val sparkS = spark
      import sparkS.implicits._
      val ids = subs.select("vec_id").distinct()
        .orderBy("vec_id").limit(Ksub)
        .collect().map(_.getLong(0))
      val seedIds = ids.zipWithIndex
        .map { case (v, i) => (v, i.toLong) }.toSeq.toDF("vec_id", "c_id")
      var cb = subs.join(broadcast(seedIds), "vec_id")
        .select(col("sub"), col("c_id"), col("sv").as("cv"))
      for (_ <- 0 until iters) {
        cb = assignCodes(subs, cb)
          .select(col("sub"), col("code").as("c_id"),
            posexplode(col("sv")).as(Seq("pos", "x")))
          .groupBy("sub", "c_id", "pos")
          // the f32Mean convention (DecimalConv): EXACT-expansion
          // double→decimal input hop (both engines' native/VARCHAR
          // casts are repr-algorithm-mediated and disagree on 1e16+
          // doubles — the vecdegen-s2 codebook fork), decimal-exact
          // sum, string-mediated decimal→double quotient (correctly
          // rounded, vs BigDecimal.doubleValue's double-rounding),
          // then a FLOAT32 round-trip: on RESIDUAL subvectors
          // (clustered near the origin, margins razor-thin) any
          // residual cross-engine 1-ulp noise forks the whole
          // codebook through the next argmax (vecdegen seed-3
          // finding); float32 is scale-uniform and the standard ANN
          // codebook precision (the source data is float32).
          .agg(graft.functions.DecimalConv.f32Mean(col("x")).as("m"))
          .groupBy("sub", "c_id")
          .agg(transform(
            array_sort(collect_list(struct(col("pos"), col("m")))),
            s => s.getField("m")).as("cv"))
      }
      cb
    }

  /** The PQ-compressed index: (vec_id, nrm, sub, code) — M one-byte
    * codes plus the true norm per vector, the ~25× smaller scan target
    * ADC serves from. Memoized once; at 100 TB this is the bucketed
    * catalog table, grown by the same frozen-codebook append as the
    * IVF assignment (encoding a batch is O(batch·M·Ksub), corpus-free). */
  def pqIndexTable(spark: SparkSession, dir: String,
      iters: Int = 2): DataFrame =
    Memo.table(spark, dir, s"pq_index_$iters") {
      encode(emb(spark, dir), trainCodebooks(spark, dir, iters))
    }

  /** THE PQ encode: each (vec_id, v, nrm) vector's M nearest-entry codes
    * against codebook `cb`, with its true norm, as
    * (vec_id, nrm, sub, code) — the long-format index every PQ and OPQ
    * build writes. */
  private def encode(e: DataFrame, cb: DataFrame): DataFrame =
    assignCodes(subvectors(e), cb)
      .join(e.select(col("vec_id"), col("nrm")), "vec_id")
      .select("vec_id", "nrm", "sub", "code")

  /** Harness query `pq_codes`: the PQ encoding itself — proves the
    * trained codebooks and nearest-entry assignment are
    * engine-identical before any ranking sits on top. */
  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    pqIndexTable(spark, dir)
      .select(col("vec_id"), col("sub").cast("long").as("sub"), col("code"))
      .orderBy("vec_id", "sub")

  /** THE per-query ADC lookup table: each query's M subvectors dotted
    * against all Ksub codebook entries, rounded at 10 — factored so
    * the long, packed, IVFPQ and residual serves (which are
    * contractually hash-equal) can never fork the LUT arithmetic. */
  private def lutOf(queries: DataFrame, cb: DataFrame): DataFrame =
    subvectors(queries)
      .join(queries.select(col("vec_id"), col("nrm").as("q_nrm")), "vec_id")
      .join(broadcast(cb), "sub")
      .select(col("vec_id").as("q_id"), col("q_nrm"), col("sub"),
        col("c_id").as("code"),
        round(V.dot(col("sv"), col("cv")), 10).as("ip"))

  /** Harness query `sim_topk_pq`: asymmetric-distance (ADC) top-k — the
    * standard query set ranked by approximate cosine over the
    * COMPRESSED index. Each query dots its M subvectors against all
    * Ksub codebook entries once (M·Ksub = 128 rounded lookup-table
    * entries per query, broadcast), the scan joins codes to table
    * entries and sums M addends per (query, vector) — through
    * DECIMAL(38,18), so the sum is exact and order-independent (an
    * 8-addend double sum would hash differently per partitioning) —
    * then divides by the true norms. The scan side reads codes + norm
    * only: ~20 B/vector vs 512 — the point of PQ. Approximation quality
    * vs the exact ranking is pinned in QuantizeSpec (recall@10). */
  def pqTopK(spark: SparkSession, dir: String, k: Int = 10,
      iters: Int = 2): DataFrame =
    pqTopKOver(pqIndexTable(spark, dir, iters), spark, dir, k, iters)

  /** The ADC probe tail over an EXPLICIT compressed-index frame — the
    * memo, the maintained bucketed table, or any future churn serve
    * view ranks through this one kernel. */
  def pqTopKOver(index: DataFrame, spark: SparkSession, dir: String,
      k: Int = 10, iters: Int = 2): DataFrame =
    adcServe(index,
      lutOf(queriesOf(emb(spark, dir)), trainCodebooks(spark, dir, iters)), k)

  /** THE ADC serve over a long-format index: broadcast LUT join, the
    * [[adcFold]], the [[Similarity.serveTopK]] tail — shared by the
    * plain-PQ and OPQ serves (one arithmetic definition, as with
    * [[lutOf]]). */
  private def adcServe(index: DataFrame, lut: DataFrame, k: Int): DataFrame =
    serveTopK(adcFold(index.join(broadcast(lut), Seq("sub", "code")),
      Seq("q_id", "vec_id")), k)

  /** THE ADC fold over (query, code) rows joined to their LUT entries
    * `ip`: self-pairs dropped, each pair's M addends summed through
    * DECIMAL(38,18) (exact, so order-free), the norms carried by
    * `first`, then ONE IEEE division by the true norms — (q_id, vec_id,
    * score). `keys` ⊇ (q_id, vec_id): the IVF serves add the bucket
    * column c_id so the fold rides the bucketing exchange-free ((q_id,
    * vec_id) is unique across c_id, so the extra key changes nothing).
    * `residual` adds the per-(query, list) q·c scalar `qc_ip` to the
    * decimal sum's double image before dividing — one IEEE add,
    * deterministic on both engines. */
  private def adcFold(pairs: DataFrame, keys: Seq[String],
      residual: Boolean = false): DataFrame = {
    val carried = (if (residual) Seq("qc_ip") else Nil) ++ Seq("nrm", "q_nrm")
    val ips = if (residual) col("ips") + col("qc_ip") else col("ips")
    pairs.filter(col("vec_id") =!= col("q_id"))
      .groupBy(keys.map(col): _*)
      .agg(exactUnorderedSum(col("ip")).as("ips"),
        carried.map(c => first(col(c)).as(c)): _*)
      .select(col("q_id"), col("vec_id"),
        (ips / (col("q_nrm") * col("nrm"))).as("score"))
  }

  /** The PACKED compressed index: ONE row per vector —
    * (vec_id, nrm, codes array ordered by subspace) — the layout PQ
    * exists for. The long format ([[pqIndexTable]]) is the right JOIN
    * shape for oracle replay, but it stores vec_id and nrm M times and
    * makes the ADC scan a join + aggregation over n·M rows; packed, the
    * scan is n rows of ~(id + norm + M codes) and scoring is a narrow
    * per-row fold. At 200k vectors the long-format ADC LOST to the
    * brute-force comparator, and the packed layout is what restores the
    * win (NOTES.md "Round 7: PQ at 100x": 5.4 s long vs 1.6 s brute). */
  def pqPackedIndexTable(spark: SparkSession, dir: String,
      iters: Int = 2): DataFrame =
    Memo.table(spark, dir, s"pq_packed_$iters") {
      pqIndexTable(spark, dir, iters)
        .groupBy("vec_id", "nrm")
        .agg(transform(
          array_sort(collect_list(struct(col("sub"), col("code")))),
          s => s.getField("code").cast("int")).as("codes"))
    }

  /** Harness query `sim_topk_pq_packed`: ADC over the PACKED index —
    * the production scan shape. The per-query lookup tables (M·Ksub
    * rounded doubles each) are COLLECTED to the driver and shipped back
    * as one broadcast literal row per query (bounded by design:
    * |Q|·M·Ksub values — the same driver round-trip as Lloyd's
    * centroid literals), so scoring is a single narrow pass: per
    * (vector, query) row, fold the M code lookups in fixed subspace
    * order THROUGH DECIMAL(38,18) — decimal addition is exact, so the
    * ordered fold equals the long format's unordered decimal sum and
    * the row shares `sim_topk_pq`'s oracle: the hash-equality proves
    * the packed layout serves identically. No join on (sub, code), no
    * n·M-row aggregation — the only shuffle left is the rank kernel's
    * bounded per-query TopK buffers, the same one the brute-force scan
    * pays. */
  def pqPackedTopK(spark: SparkSession, dir: String, k: Int = 10,
      iters: Int = 2): DataFrame = {
    // collected per serve (r18, reverting the r17 artifact cache): the
    // |Q|·M·Ksub ADC lookup table is QUERY-side state — a real serve
    // computes its LUT per query batch, so caching it per dataset
    // measured a warm path no production serve has. The collect is one
    // bounded job over codebook-sized data.
    val luts: Seq[(Long, Double, Seq[Seq[Double]])] =
      lutOf(queriesOf(emb(spark, dir)),
          trainCodebooks(spark, dir, iters)).collect()
        .groupBy(r => (r.getAs[Long]("q_id"), r.getAs[Double]("q_nrm")))
        .toSeq.map { case ((q, qn), rows) =>
          val tbl = Array.fill(M, Ksub)(0.0)
          rows.foreach { r =>
            tbl(r.getAs[Int]("sub"))(r.getAs[Long]("code").toInt) =
              r.getAs[Double]("ip")
          }
          (q, qn, tbl.map(_.toSeq).toSeq)
        }.sortBy(_._1)
    import spark.implicits._
    val lutDf = luts.toDF("q_id", "q_nrm", "tbl")
    serveTopK(pqPackedIndexTable(spark, dir, iters)
      .crossJoin(broadcast(lutDf))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (exactOrderedFold(s => element_at(element_at(col("tbl"), s + 1),
          element_at(col("codes"), s + 1) + 1)) /
          (col("q_nrm") * col("nrm"))).as("score")), k)
  }

  /** THE packed exact-fold kernel: the ordered M-addend fold every
    * packed serve scores through when it must hash-equal the long
    * format's [[adcServe]] sum. The addend cast MUST be
    * decimal(38,18) — byte-identical to [[adcServe]]'s sum type — NOT
    * a scale that merely holds the round-10 digits: casting a double
    * to scale 18 captures 18 digits of its BINARY expansion
    * (0.1234567891 → 0.123456789100000006), so a scale-10 cast
    * produces a DIFFERENT number and the fold forks from the long
    * format's sum whenever a cos lands within ~1e-16 of a round-6
    * boundary (the r13 `sim_topk_pq_packed` regression — one row).
    * Decimal addition is exact, so the ordered fold of (38,18)
    * addends IS the long format's unordered sum — PropertySpec pins
    * the equivalence BIT-exactly on boundary-adjacent and
    * 1e16–1e18-magnitude addends. The cast-back pins the accumulator
    * type Spark's decimal promotion would otherwise widen from under
    * the lambda. Headroom: 38−18 = 20 integer digits absorb the
    * vecdegen 1e18-scaled corpus (M=8 addends at |ip|~1e18 → |sum| ≤
    * 8e18 < 1e20), same margin as the long format's sum. */
  private[graft] def exactOrderedFold(addend: Column => Column): Column = {
    val t = graft.functions.DecimalConv.SumType
    aggregate(sequence(lit(0), lit(M - 1)),
      lit(BigDecimal(0)).cast(t),
      // the addend hop MUST stay cast-identical to decSum's — which
      // as of r15 is the EXACT expansion (decExact), not the native
      // toString-value cast (the r13 scale-10 fork, same contract).
      // The addition is the custom EXACT add: Spark's decimal Add
      // would promote to (38,17) and round the 18th digit per step —
      // harmless on ≤10-digit native images, a fold≡sum bit fork on
      // 18-digit exact images (r15 PropertySpec finding)
      (acc, s) => graft.functions.ExactDecimal.exactAdd(acc,
        graft.functions.DecimalConv.decExact(addend(s)))).cast("double")
  }

  /** [[adcServe]]'s sum arithmetic over an explicit addend column —
    * the other half of the fold≡sum contract, factored so PropertySpec
    * compares the two PRODUCTION kernels, not a replica of either. */
  private[graft] def exactUnorderedSum(ip: Column): Column =
    graft.functions.DecimalConv.decSum(ip)

  /** Encoding of ONE corpus slice against the FROZEN memoized
    * codebooks — the build (`newBatch = false`) and increment
    * (`newBatch = true`) halves of the maintained PQ index
    * ([[graft.sources.Bucketing.ensureMaintainedPqIndex]]). Encoding a
    * batch is O(batch·M·Ksub), corpus-free — the same frozen-model
    * append contract as the IVF assignment's
    * [[Similarity.assignSlice]]. */
  def encodeSlice(spark: SparkSession, dir: String, newBatch: Boolean,
      iters: Int = 2, mod: Int = 10): DataFrame = {
    val e = emb(spark, dir)
    val slice =
      if (newBatch) e.filter(col("vec_id") % mod === 0)
      else e.filter(col("vec_id") % mod =!= 0)
    encode(slice, trainCodebooks(spark, dir, iters))
  }

  /** Harness query `sim_topk_pq_maintained`: ADC served from the
    * MAINTAINED PQ catalog table (corpus slice encoded once, the new
    * batch encoded against frozen codebooks and folded in by append).
    * Equal by construction to [[pqTopK]] over the memoized full encode
    * — the same oracle hash, which IS the append-correctness proof;
    * stale codebooks are the same retrain story as IVF centroids
    * ([[Similarity.retrainAssignmentIndex]] — the staged-swap machinery
    * applies unchanged). */
  def pqMaintainedTopK(spark: SparkSession, dir: String, k: Int = 10,
      iters: Int = 2): DataFrame = {
    val table = graft.sources.Bucketing.ensureMaintainedPqIndex(spark, dir, iters)
    pqTopKOver(spark.table(table), spark, dir, k, iters)
  }

  /** Harness query `sim_topk_pq_churn`: ADC served from the
    * CHURN-capable PQ index after a vector-batch DELETE
    * ([[graft.sources.Bucketing.ensureChurnedPqIndex]]: full encode at
    * seq 0, the `vec_id % 10 == 0` batch tombstoned at seq 1,
    * bucket-local compaction). The serve view keys on (vec_id, sub),
    * so deleted vectors' codes can never reach the fold — the result
    * must hash-equal an ADC over an index that never contained them,
    * which is exactly the oracle's corpus filter. Closes the PQ
    * lifecycle: train → encode → pack → append → CHURN (→ retrain via
    * the shared IVF machinery). */
  def pqChurnTopK(spark: SparkSession, dir: String, k: Int = 10,
      iters: Int = 2): DataFrame = {
    val table = graft.sources.Bucketing.ensureChurnedPqIndex(spark, dir, iters)
    val served = graft.sources.IndexChurn.served(spark, table,
      Seq("vec_id", "sub"))
    pqTopKOver(served, spark, dir, k, iters)
  }

  /** Harness query `sim_topk_pq_rerank`: the production PQ recipe —
    * the ADC shortlist (poolK per query, from the compressed scan)
    * re-ranked by EXACT cosine. Full vectors are fetched for only
    * |Q|·poolK candidate ids (the candidate set broadcasts against the
    * embedding scan), so the expensive exact math touches a bounded
    * set however big the corpus: compressed scan bounds the
    * candidates, exact re-rank restores the ordering. QuantizeSpec
    * pins the recall gain over raw ADC. */
  def pqTopKRerank(spark: SparkSession, dir: String, k: Int = 10,
      poolK: Int = 50, iters: Int = 2): DataFrame =
    rerankOver(spark, dir,
      pqTopK(spark, dir, poolK, iters).select("q_id", "vec_id"), k)

  /** The exact-cosine re-rank tail shared by every compressed-scan
    * recipe: fetch the true vectors for the bounded (q_id, vec_id)
    * candidate set and restore the exact ordering. */
  private def rerankOver(spark: SparkSession, dir: String,
      cand: DataFrame, k: Int): DataFrame = {
    val e = emb(spark, dir)
    serveTopK(e.join(broadcast(cand), "vec_id")
      .join(broadcast(asQueries(queriesOf(e))), "q_id")
      .select(col("q_id"), col("vec_id"),
        V.cosine(col("q_v"), col("q_nrm"), col("v"), col("nrm"))
          .as("score")), k)
  }

  /** Harness query `sim_topk_ivfpq`: IVF+PQ — Jégou et al.'s IVFADC,
    * the canonical shape of a 100 TB ANN serve, fusing the two
    * orthogonal reductions this module and [[Similarity]] prove
    * separately: the coarse quantizer bounds WHICH vectors are scored
    * (nprobe inverted lists, not the corpus) and PQ bounds the BYTES
    * per scored vector (~20 B of codes, not the full vector). Serving
    * reads the c_id-bucketed codes table
    * ([[graft.sources.Bucketing.ensureIvfPqIndex]]): the probe becomes
    * a literal `c_id IN (…)` filter (collected from the bounded
    * |Q|·nprobe probe set — the same driver round-trip as the ADC
    * lookup tables) that BUCKET-PRUNES the scan to the probed lists'
    * files, and the ADC aggregation groups on keys ⊇ c_id so it rides
    * the bucketing exchange-free; the only shuffle is the rank
    * kernel's bounded per-query TopK buffers over the probed candidates
    * ([[Similarity.serveTopK]]). Oracle-gated bit-exactly:
    * the DuckDB chain replays coarse training, PQ training, encoding,
    * probing AND the decimal-exact ADC fold. */
  def pqIvfTopK(spark: SparkSession, dir: String, k: Int = 10,
      nprobe: Int = 8, iters: Int = 2): DataFrame = {
    val table = graft.sources.Bucketing.ensureIvfPqIndex(spark, dir, iters)
    val queries = queriesOf(emb(spark, dir))
    val lut = lutOf(queries, trainCodebooks(spark, dir, iters))
    serveTopK(adcFold(probedScan(spark, dir, table, queries, nprobe, iters)
      .join(broadcast(lut), Seq("q_id", "sub", "code")),
      Seq("c_id", "q_id", "vec_id")), k)
  }

  /** THE coarse-probed scan of a c_id-bucketed IVF catalog `table`,
    * shared by the IVFPQ, residual-IVFPQ and IVF-SQ8 serves: each query
    * of `queries` (vec_id, v, nrm) picks its `nprobe` lists through
    * [[Similarity.withProbes]] over the memoized trained codebook — the
    * ONE definition of probe selection, so these serves can never probe
    * different lists than IVF for the same query. The bounded
    * |Q|·nprobe probe pairs are collected in ONE job, per serve (r18,
    * reverting the r17 artifact cache: probe assignments are QUERY-side
    * state — real serves get new queries); the distinct lists become a
    * literal `c_id IN (…)` filter that bucket-prunes the scan, and the
    * pairs join back as a broadcast (q_id, c_id, qc_ip) relation.
    * `qc_ip` is round(q·c, 10) over the RAW codebook doubles, looked up
    * by c_id in the same literal artifact (no join, no extra job) — the
    * residual serve's q·x = q·c + q·r term. `prep` runs on the pruned
    * scan, below the probe join. */
  private def probedScan(spark: SparkSession, dir: String, table: String,
      queries: DataFrame, nprobe: Int, iters: Int,
      prep: DataFrame => DataFrame = identity): DataFrame = {
    val cents = Similarity.centroidLiterals(spark, dir, iters)
    val centV = typedlit(cents.map(c => c._1 -> c._2).toMap)
    val probes = Similarity.withProbes(asQueries(queries), cents, nprobe)
      .select(col("q_id"), col("c_id"),
        round(V.dot(col("q_v"), element_at(centV, col("c_id"))), 10))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    import spark.implicits._
    prep(spark.table(table)
        .filter(col("c_id").isin(probes.map(_._2).distinct: _*)))
      .join(broadcast(probes.toDF("q_id", "c_id", "qc_ip")), "c_id")
  }

  /** Harness query `sim_topk_ivfpq_rerank`: the end-to-end production
    * ANN recipe — coarse probe bounds the lists, ADC over codes bounds
    * the shortlist, exact cosine over the fetched true vectors restores
    * the ordering. Every stage's cost is independent of corpus size
    * except the pruned code scan itself. */
  def pqIvfTopKRerank(spark: SparkSession, dir: String, k: Int = 10,
      poolK: Int = 50, nprobe: Int = 8, iters: Int = 2): DataFrame =
    rerankOver(spark, dir,
      pqIvfTopK(spark, dir, poolK, nprobe, iters).select("q_id", "vec_id"), k)

  /** Coarse-quantizer residuals r = v − centroid(v): what the true
    * IVFADC quantizes. Residual magnitudes are a fraction of vector
    * magnitudes, so the same code budget spends its resolution on the
    * part the coarse quantizer didn't already explain. */
  private def residualFrame(spark: SparkSession, dir: String,
      iters: Int): DataFrame = {
    val cents = Similarity.trainCentroids(spark, dir, iters = iters)
      .select(col("c_id"), col("c_v"))
    Similarity.assignmentTable(spark, dir, iters)
      .select("vec_id", "c_id", "v")
      .join(broadcast(cents), "c_id")
      // the residual subtracts the FLOAT32 round-trip of the centroid
      // (the oracle's rres does the same). Historically the centroid
      // doubles differed cross-engine at relative ~1e-16, and the
      // near-cancelling subtraction turned that into 100%-relative
      // noise on near-zero residuals — the residual Lloyd's razor-thin
      // argmax margins then forked the whole codebook (vecdegen seed-3
      // gate finding: 86/107 entries diverged, every serve score with
      // them). Since the r14 exact-expansion input hop (DecimalConv
      // .decMean) the centroids are bit-identical cross-engine, but
      // the float hop stays: it keeps the residual at the source
      // data's precision and the serve contract unchanged. float(c) is
      // bit-identical on both engines at EVERY magnitude,
      // so v − float(c) is an exact-identical double; the outer float
      // round-trip keeps the residual at the source data's own
      // precision (the vectors are float32 — FAISS's codebooks are
      // all-float32 for the same reason). The serve's q·c scalar keeps
      // the RAW centroid (probedScan reads it from the codebook literal
      // withProbes selects with), so
      // the decomposition is q·c_raw + q·(x − float(c)) — off the true
      // q·x by q·(c_raw − float(c)), a relative-6e-8 perturbation of an
      // already-approximate score, and the oracle replays the exact
      // same split, so the two engines can never disagree about it.
      .select(col("vec_id"),
        zip_with(col("v"), col("c_v"),
          (a, b) => graft.functions.DecimalConv.f32(
            a - graft.functions.DecimalConv.f32(b))).as("v"))
  }

  /** Per-subspace codebooks Lloyd-trained on RESIDUAL subvectors —
    * same kernel as [[trainCodebooks]], different training set. */
  def residualCodebooks(spark: SparkSession, dir: String,
      iters: Int = 2): DataFrame =
    trainCodebooksOver(spark, dir, s"pqr_cb_${M}_${Ksub}_$iters", iters,
      subvectors(requireDim(residualFrame(spark, dir, iters))))

  /** The residual-encoded IVFPQ index: (c_id, vec_id, nrm, sub, code)
    * where codes quantize r = v − centroid and nrm stays the TRUE
    * vector norm (the cosine denominator). */
  def pqResidualIndexTable(spark: SparkSession, dir: String,
      iters: Int = 2): DataFrame =
    Memo.table(spark, dir, s"pqr_index_$iters") {
      val a = Similarity.assignmentTable(spark, dir, iters)
        .select("vec_id", "c_id", "nrm")
      assignCodes(subvectors(residualFrame(spark, dir, iters)),
        residualCodebooks(spark, dir, iters))
        .join(a, "vec_id")
        .select("c_id", "vec_id", "nrm", "sub", "code")
    }

  /** Harness query `sim_topk_ivfpq_res`: IVFADC proper — PQ codes
    * quantize the coarse-quantizer RESIDUAL, not the raw vector. For
    * inner products the decomposition is exact in expectation and
    * cheap in structure: q·x = q·c + q·r, so the serve adds ONE
    * per-(query, probed list) scalar (q·c — computed with the probe
    * pairs, rounded like every LUT entry) to the standard
    * M-lookup sum over the residual codebooks; no per-list lookup
    * tables are needed, which is what keeps the oracle replay and the
    * broadcast shapes identical to the non-residual serve. Same
    * bucketed-scan/exchange-free-aggregation plan as [[pqIvfTopK]];
    * QuantizeSpec pins the recall ordering between the two encodings.
    */
  def pqIvfResidualTopK(spark: SparkSession, dir: String, k: Int = 10,
      nprobe: Int = 8, iters: Int = 2): DataFrame = {
    val table =
      graft.sources.Bucketing.ensureIvfPqResidualIndex(spark, dir, iters)
    val queries = queriesOf(emb(spark, dir))
    val lut = lutOf(queries, residualCodebooks(spark, dir, iters))
    serveTopK(adcFold(probedScan(spark, dir, table, queries, nprobe, iters)
      .join(broadcast(lut), Seq("q_id", "sub", "code")),
      Seq("c_id", "q_id", "vec_id"), residual = true), k)
  }

  /** The int8 scalar-quantized (SQ8) index: (vec_id, nrm, scale,
    * codes) — symmetric per-vector quantization (scale = 127/max|x|,
    * code = round(x·scale)), the OTHER standard compressed ANN layout
    * next to PQ: 1 byte/dim instead of 8 (4× vs float storage), no
    * training step, and the scan arithmetic is an INTEGER dot product
    * — which is why it oracle-checks bit-exactly with no decimal
    * machinery: products are ≤ 127² and a 64-dim sum stays ≤ 2²⁰, so
    * every partial sum is an exact integer in ANY arithmetic width and
    * ANY order, on BOTH engines. Memoized like [[pqIndexTable]]: the
    * quantization is a once-per-dataset index build (a narrow map, no
    * shuffle), grown per-batch by the same frozen-rule append as every
    * other index here (the rule is per-vector, so appends need no
    * model state at all). Rides [[emb]]'s zero-norm source exclusion,
    * which also guarantees max|x| > 0 — no 127/0 guard needed. */
  def int8IndexTable(spark: SparkSession, dir: String): DataFrame =
    Memo.table(spark, dir, "int8_index") {
      val e = emb(spark, dir)
      e.withColumn("scale",
          lit(127.0) / array_max(transform(col("v"), x => abs(x))))
        .select(col("vec_id"), col("nrm"), col("scale"),
          transform(col("v"),
            x => round(x * col("scale")).cast("int")).as("codes"))
    }

  /** THE SQ8 score of (query, vector) pairs carrying (q_id, q_cd,
    * q_scale, q_nrm) and (vec_id, cd, scale, nrm), self-pairs dropped,
    * as (q_id, vec_id, score): integer dot of the code
    * arrays, rescaled by the two quantization scales and divided by
    * the TRUE norms (stored per vector, like PQ's). The codes ride as
    * integer-VALUED doubles through the codegen'd [[V.dot]] expression
    * — products ≤ 127² and 64-dim sums ≤ 2²⁰ are exact in doubles, so
    * this equals a long-typed fold bit-for-bit — because the "honest"
    * zip_with+aggregate integer fold allocates an intermediate array
    * per SCORED PAIR and measured 5× SLOWER than the brute double scan
    * at 200k vectors (NOTES.md "Round 12 FINAL close": SQ8 full scan
    * 15 s before the codegen'd dot, 3.6 s after, brute 2.5 s),
    * inverting the point of the compressed layout; the one
    * array<int>→array<double> cast is per ROW, before the query cross
    * join, amortized over |Q| scores ([[withCd]]). The
    * two divisions are pinned left-to-right so the oracle replays the
    * IEEE order. */
  private def int8Score(pairs: DataFrame): DataFrame =
    pairs.filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (V.dot(col("q_cd"), col("cd"))
          / (col("q_scale") * col("scale"))
          / (col("q_nrm") * col("nrm"))).as("score"))

  /** SQ8 index rows with their codes cast once to integer-valued
    * doubles (`cd`), per ROW and before any pair join (see
    * [[int8Score]]). */
  private def withCd(idx: DataFrame): DataFrame =
    idx.withColumn("cd", col("codes").cast("array<double>"))

  /** The standard query set's SQ8 rows as the query side of
    * [[int8Score]]: (q_id, q_cd, q_scale, q_nrm). */
  private def int8Queries(spark: SparkSession, dir: String): DataFrame =
    queriesOf(withCd(int8IndexTable(spark, dir)))
      .select(col("vec_id").as("q_id"), col("cd").as("q_cd"),
        col("scale").as("q_scale"), col("nrm").as("q_nrm"))

  /** Harness query `sim_topk_int8`: brute top-k over the SQ8 index —
    * the compressed comparator to `sim_topk_brute`: same scan shape
    * (broadcast query set, one pass over the corpus, the
    * [[Similarity.serveTopK]] tail),
    * a quarter of the bytes and integer multiplies in the hot loop.
    * Where PQ's ADC approximates directions through a trained codebook
    * (16 centroids/subspace), SQ8 keeps every dimension at 8-bit
    * precision — higher fidelity, larger scan; QuantizeSpec pins its
    * recall@10 against the exact serve above PQ's. */
  def int8TopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    serveTopK(int8Score(withCd(int8IndexTable(spark, dir))
      .crossJoin(broadcast(int8Queries(spark, dir)))), k)

  /** Harness query `sim_topk_int8_rerank`: the production SQ8 recipe —
    * quantized shortlist (poolK), exact-cosine re-rank through the
    * same [[rerankOver]] tail as the PQ recipes. */
  def int8TopKRerank(spark: SparkSession, dir: String, k: Int = 10,
      poolK: Int = 50): DataFrame =
    rerankOver(spark, dir,
      int8TopK(spark, dir, poolK).select("q_id", "vec_id"), k)

  /** Harness query `sim_topk_int8_ivf`: IVF + SQ8 — FAISS's `IVF,SQ8`
    * config, the third point on the compression axis [[pqIvfTopK]] and
    * the raw-vector IVF bracket: the coarse quantizer bounds WHICH
    * vectors are scored (nprobe inverted lists, bucket-pruned from the
    * c_id-bucketed catalog table exactly like IVFPQ), and SQ8 bounds
    * the bytes per scored vector at 1 byte/dim — 6× less scan than raw
    * doubles, full per-dimension resolution unlike PQ's 16-centroid
    * subspaces, NO training beyond the coarse centroids. The scored
    * dot rides the same integer-valued-doubles kernel as
    * [[int8Score]] (exact ≤ 2²⁰, no decimal machinery), so the oracle
    * replays coarse training + probing + quantization + the fold
    * bit-exactly. Only shuffle: the rank kernel's bounded per-query
    * TopK buffers ([[Similarity.serveTopK]]). */
  def int8IvfTopK(spark: SparkSession, dir: String, k: Int = 10,
      nprobe: Int = 8, iters: Int = 2): DataFrame = {
    val table = graft.sources.Bucketing.ensureIvfSq8Index(spark, dir, iters)
    // per-ROW cast, below the probe join — a vector probed by several
    // queries is duplicated by the join, so casting after it would
    // re-run the 64-element conversion per scored pair
    serveTopK(int8Score(probedScan(spark, dir, table,
        queriesOf(emb(spark, dir)), nprobe, iters, withCd)
      .join(broadcast(int8Queries(spark, dir)), "q_id")), k)
  }

  // ------------------------------------------------------------- OPQ

  /** The corpus dimensionality the PQ geometry fixes. */
  val Dim: Int = M * SubDim

  /** The OPQ rotation seam (Ge, He, Ke & Sun 2013, "Optimized Product
    * Quantization", CVPR): PQ quantizes each SubDim-dim slice with an
    * independent codebook, so energy concentrated in a few dims (or
    * correlation straddling a slice boundary) wastes code budget;
    * rotating the space before encoding balances the slices. Because
    * the rotation is ORTHONORMAL, cos(R·q, R·x) = cos(q, x) — the
    * serve semantics are unchanged and the existing codebook/ADC
    * machinery runs verbatim over the rotated frame; the rotation is
    * exactly "a literal matrix multiply before encode".
    *
    * [[hadamardMatrix]] is the structured instance: the Walsh–Hadamard
    * rotation H/√d (±1 signs, d a power of two — checked). Zero
    * training, and it spreads EVERY input dimension uniformly across
    * all M subspaces — the variance-balancing objective OPQ's
    * parametric solution targets, achieved by construction for
    * energy-concentrated data (FAISS ships this very matrix as the
    * no-training OPQ pre-transform). It is also the only rotation an
    * SQL oracle can replay bit-exactly: ±1·x products are exact, the
    * d-addend fold runs in index order through the same sequential
    * kernel on both engines ([[graft.functions.VectorExpressions
    * .DotProduct]] vs `list_dot_product`), and the final /√d = /8 is
    * an exact power-of-two scale — so the FULL chain (rotate → train →
    * encode → ADC) is oracle-gated. The learned rotation
    * ([[opqLearnedRotation]]) is the drop-in upgrade where an SVD is
    * available; it is spec-verified, not oracle-gated (no SQL engine
    * replays an SVD). */
  def hadamardMatrix(d: Int = Dim): Array[Array[Double]] = {
    require(d > 0 && (d & (d - 1)) == 0,
      s"Walsh–Hadamard rotation needs a power-of-two dim, got $d")
    Array.tabulate(d, d)((j, k) =>
      if (java.lang.Integer.bitCount(j & k) % 2 == 0) 1.0 else -1.0)
  }

  /** `R·v / √d` for a ±1 rotation matrix literal — one codegen'd dot
    * per output dimension, the literal matrix riding the plan. */
  private def rotateBy(h: Array[Array[Double]])(v: Column): Column = {
    val d = h.length
    val hLit = typedLit(h.map(_.toSeq).toSeq)
    transform(sequence(lit(0), lit(d - 1)),
      j => V.dot(element_at(hLit, j + lit(1)), v) /
        lit(math.sqrt(d.toDouble)))
  }

  /** The Hadamard-rotated (vec_id, v, nrm) frame, memoized once per
    * dataset like every index artifact here: norms are recomputed in
    * the rotated space (mathematically equal to the originals,
    * recomputed anyway so serve arithmetic is self-consistent and the
    * oracle replays one definition). Rides [[emb]]'s zero-norm source
    * exclusion — an orthonormal image of a nonzero vector is
    * nonzero. */
  private def rotatedEmb(spark: SparkSession, dir: String): DataFrame =
    Memo.table(spark, dir, "opq_emb_h") {
      requireDim(emb(spark, dir))
        .select(col("vec_id"), rotateBy(hadamardMatrix())(col("v")).as("v"))
        .withColumn("nrm", sqrt(V.dot(col("v"), col("v"))))
    }

  /** Per-subspace codebooks Lloyd-trained in the ROTATED space — the
    * same kernel as [[trainCodebooks]] over the rotated subvectors. */
  def opqCodebooks(spark: SparkSession, dir: String,
      iters: Int = 2): DataFrame =
    trainCodebooksOver(spark, dir, s"opq_cb_${M}_${Ksub}_$iters", iters,
      subvectors(rotatedEmb(spark, dir)))

  /** The OPQ-compressed index: [[pqIndexTable]]'s layout over rotated
    * codes — same bytes per vector, better-balanced subspaces. */
  def opqIndexTable(spark: SparkSession, dir: String,
      iters: Int = 2): DataFrame =
    Memo.table(spark, dir, s"opq_index_$iters") {
      encode(rotatedEmb(spark, dir), opqCodebooks(spark, dir, iters))
    }

  /** Harness query `sim_topk_opq`: ADC top-k over the OPQ index —
    * [[pqTopK]]'s serve with queries and corpus both living in the
    * rotated space (rotation-invariant cosine, so the ground truth it
    * approximates is unchanged; QuantizeSpec pins its recall@10
    * against plain PQ's). */
  def opqTopK(spark: SparkSession, dir: String, k: Int = 10,
      iters: Int = 2): DataFrame =
    adcServe(opqIndexTable(spark, dir, iters),
      lutOf(queriesOf(rotatedEmb(spark, dir)),
        opqCodebooks(spark, dir, iters)), k)

  /** Harness query `sim_topk_opq_rerank`: the OPQ production recipe —
    * rotated-ADC shortlist (poolK), exact-cosine re-rank through the
    * SAME [[rerankOver]] tail as every other compressed recipe, over
    * the ORIGINAL vectors: cosine is rotation-invariant, so the exact
    * re-rank needs no rotation at all (the rotation buys a better
    * shortlist, the re-rank restores the exact order either way). */
  def opqTopKRerank(spark: SparkSession, dir: String, k: Int = 10,
      poolK: Int = 50, iters: Int = 2): DataFrame =
    rerankOver(spark, dir,
      opqTopK(spark, dir, poolK, iters).select("q_id", "vec_id"), k)

  /** The non-parametric OPQ iteration proper (Ge et al. 2013 §4):
    * alternate codebook training in the current rotation with the
    * orthogonal-Procrustes rotation update R = V·Uᵀ from the SVD of
    * the cross-moment A = Σ x·y(x)ᵀ (x the original vector, y(x) its
    * codebook reconstruction in the rotated space — A minimizes
    * Σ‖R·x − y‖² over orthogonal R). The d×d cross-moment is computed
    * DISTRIBUTED (one map-side-combined aggregation over (i, j, x_i·y_j)
    * triples, decimal-exact like every centroid mean here) and only
    * the d² = 4096 doubles come to the driver for the SVD
    * (commons-math3, ships with Spark) — bounded driver work, the
    * same class as collecting a codebook. Deterministic given the
    * data; init is the structured [[hadamardMatrix]] so round 0 starts
    * from the oracle-gated rotation. Spec-pinned (orthonormality,
    * rotation-invariant cosines, recall); not oracle-gated. */
  def opqLearnedRotation(spark: SparkSession, dir: String,
      rounds: Int = 2, iters: Int = 1): Array[Array[Double]] = {
    val d = Dim
    val scale = math.sqrt(d.toDouble)
    var h = hadamardMatrix(d)
    for (round <- 0 until rounds) {
      val e = requireDim(emb(spark, dir))
      val rot = e.select(col("vec_id"), rotateBy(h)(col("v")).as("rv"),
        col("v"))
      val subs = rot.select(col("vec_id"),
          explode(sequence(lit(0), lit(M - 1))).as("sub"), col("rv"))
        .select(col("vec_id"), col("sub"),
          slice(col("rv"), col("sub") * lit(SubDim) + lit(1), lit(SubDim))
            .as("sv"))
      val cb = trainCodebooksOver(spark, dir,
        s"opql_cb_${M}_${Ksub}_${iters}_r$round", iters, subs)
      // y(x): concatenate the M assigned codebook entries back into a
      // d-dim reconstruction, ordered by (sub, position)
      val y = assignCodes(subs, cb)
        .join(broadcast(cb.select(col("sub"), col("c_id").as("code"),
          col("cv"))), Seq("sub", "code"))
        .select(col("vec_id"), col("sub"),
          posexplode(col("cv")).as(Seq("pos", "yv")))
        .select(col("vec_id"),
          (col("sub") * SubDim + col("pos")).as("j"), col("yv"))
      val a = rot.select(col("vec_id"),
          posexplode(col("v")).as(Seq("i", "xv")))
        .join(y, "vec_id")
        .groupBy("i", "j")
        .agg(graft.functions.DecimalConv
          .decSum(col("xv") * col("yv")).as("a"))
        .collect()
      val mat = Array.ofDim[Double](d, d)
      a.foreach(r => mat(r.getAs[Int]("i"))(r.getAs[Int]("j")) =
        r.getAs[Double]("a"))
      val svd = new org.apache.commons.math3.linear.SingularValueDecomposition(
        new org.apache.commons.math3.linear.Array2DRowRealMatrix(mat, false))
      val r = svd.getV.multiply(svd.getUT).getData
      // fold √d back in: rotateBy divides by √d, so hand it R·√d
      h = r.map(_.map(_ * scale))
    }
    h
  }

  /** ADC recall probe for an ARBITRARY rotation matrix — the spec's
    * instrument for [[opqLearnedRotation]]: rotate corpus + queries,
    * train, encode, serve, all through the same kernels as
    * [[opqTopK]]. The memo key folds in a FINGERPRINT of the rotation
    * (matrix bytes hashed): two probes with different rotations (e.g.
    * rounds=1 vs rounds=2) must never share a trained codebook — a
    * tag-only key would silently serve the first rotation's codebook
    * to the second and report wrong recall. */
  def opqTopKWith(spark: SparkSession, dir: String,
      h: Array[Array[Double]], k: Int = 10, iters: Int = 2,
      memoTag: String = "opql"): DataFrame = {
    val hFp = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val bb = java.nio.ByteBuffer.allocate(8)
      h.foreach(_.foreach { x =>
        bb.clear(); bb.putDouble(x); md.update(bb.array()) })
      md.digest().take(6).map("%02x".format(_)).mkString
    }
    val e = requireDim(emb(spark, dir))
      .select(col("vec_id"), rotateBy(h)(col("v")).as("v"))
      .withColumn("nrm", sqrt(V.dot(col("v"), col("v"))))
    val cb = trainCodebooksOver(spark, dir,
      s"${memoTag}_serve_cb_${M}_${Ksub}_${iters}_$hFp", iters,
      subvectors(e))
    adcServe(encode(e, cb), lutOf(queriesOf(e), cb), k)
  }

  def int8Quantize(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), V.asDouble(col("embedding")).as("v"))
    val maxAbs = array_max(transform(col("v"), x => abs(x)))
    // zero-vector guard: 127/0 is Infinity and 0·Inf is NaN — the
    // degenerate row would emit NaN codes and a NaN error instead of
    // the honest answer (a zero vector quantizes to zeros, exactly);
    // scale 0 marks the degenerate row
    val scale = when(maxAbs > 0, lit(127.0) / maxAbs).otherwise(lit(0.0))
    emb
      .withColumn("scale", scale)
      .withColumn("maxerr",
        when(col("scale") > 0, array_max(transform(col("v"),
          x => abs(x - round(x * col("scale")) / col("scale")))))
          .otherwise(lit(0.0)))
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
        round(element_at(col("v"), 1) * col("scale")).cast("int").as("q0"),
        round(element_at(col("v"), 2) * col("scale")).cast("int").as("q1"),
        round(element_at(col("v"), 3) * col("scale")).cast("int").as("q2"),
        round(col("maxerr"), 6).as("max_abs_err"))
      .orderBy("vec_id")
  }
}
