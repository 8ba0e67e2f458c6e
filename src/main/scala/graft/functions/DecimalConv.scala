package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** THE decimal↔double conventions — one owner for every
  * cross-engine-deterministic numeric hop in the engine, so an
  * arithmetic change edits one definition here, never N call sites
  * and N oracle CTEs drifting independently (the r13
  * `sim_topk_pq_packed` regression was exactly such a fork: one fold
  * cast at scale 10 while its contract partner summed at scale 18).
  *
  * Why three conventions exist at all (each pinned by a degenerate-
  * corpus gate finding; the NOTES "decimal conventions" table maps
  * oracle families to them):
  *
  *  - [[decSum]] — order-proof sums. Double addition is not
  *    associative, so a float sum depends on partition/merge order;
  *    summing through decimal(38,18) is exact (order-free) and the
  *    double image of the one true sum is deterministic on both
  *    engines. 18 fractional digits hold every round(·,≤10) addend
  *    exactly; 20 integer digits absorb the vecdegen 1e18 corpus.
  *
  *  - [[decMean]] — Lloyd centroid means, STRING-mediated.
  *    Java's BigDecimal.doubleValue() double-rounds (unscaled→double,
  *    then /10^scale — two IEEE roundings) while Double.parseDouble
  *    of the decimal's exact digits is correctly rounded; DuckDB
  *    converts via VARCHAR for the same reason (its native casts
  *    double-round through multiplies). One convention — exact
  *    digits, one correctly-rounded parse — on both engines (the
  *    vecdegen seed-3 residual-fork finding).
  *
  *  - [[f32Mean]] / [[f32]] — float32 round-trips where cross-engine
  *    doubles CANNOT be canonicalized by any fixed-decimal round:
  *    engine decimal→double hops differ at relative ~1e-16, which is
  *    ~1e2 ABSOLUTE on vecdegen's 1e18-scaled clusters. float32 is
  *    scale-uniform (collapses both engines' values to one bit
  *    pattern at every magnitude), matches the source data's own
  *    precision (embeddings are float32; FAISS codebooks are all-
  *    float32 for the same reason), and near-cancelling residual
  *    subtractions stay exact-identical.
  */
object DecimalConv {

  /** The one sum type: exact for round-10 addends, 20 integer digits
    * of 1e18-corpus headroom. Any serve that must hash-equal another
    * serve (or a DuckDB replay) sums through THIS type — see
    * [[graft.operators.Quantize.exactOrderedFold]] for the ordered-
    * fold twin that must stay cast-identical. */
  val SumType = "decimal(38,18)"

  /** Order-proof sum: exact decimal accumulation, one deterministic
    * double image. The input hop is the EXACT expansion ([[decExact]])
    * as of r15 — the NATIVE casts this rode before are two DIFFERENT
    * value functions (Spark: Java-toString VALUE; DuckDB: a multiply
    * cast that leaves the int64 fast path at |x|·10¹⁸ > 2⁶³, measured
    * forking on e.g. 123456.789012 → …11999991267328), so grid
    * addends above ~9.2 in magnitude already disagreed in the last
    * decimal digits. The exact hop has NO value-repr algorithm on
    * either side — the addend image is the double's IEEE value, by
    * construction identical. Output hop stays the native
    * decimal→double cast (both engines cast the now-identical
    * decimal; the known 1-ulp BigDecimal.doubleValue double-round is
    * absorbed by every consumer's round-k output grid — raw emitters
    * use [[decSumStr]]). */
  def decSum(c: Column): Column =
    sum(decExact(c)).cast("double")

  /** The EXACT double→decimal input hop — [[ExactDecimal18]]: the
    * double's exact expansion quantized into the sum type, so the decimal
    * image of each addend is the double's true IEEE value on BOTH
    * engines (Spark's native cast is Java-toString-VALUE-mediated,
    * DuckDB's VARCHAR hop is Ryu — two algorithms that disagree on
    * big-magnitude doubles; the vecdegen-s2 codebook fork). */
  def decExact(c: Column): Column =
    ExactDecimal.exactDecimal18(c)

  /** Decimal-exact mean: EXACT-expansion input hop ([[decExact]]),
    * then the correctly-rounded (string-mediated) decimal→double
    * output hop — the Lloyd centroid update
    * ([[graft.operators.Similarity.trainCentroids]]). Both hops are
    * value-canonical (defined by the double's IEEE value and the
    * decimal's exact digits), so neither engine's repr algorithm can
    * fork the mean. */
  def decMean(c: Column): Column =
    sum(decExact(c)).cast("string").cast("double") / count(lit(1))

  /** [[decMean]] collapsed to the float32 grid — the PQ codebook
    * update ([[graft.operators.Quantize.trainCodebooksOver]]), where
    * residual Lloyd's razor-thin argmax margins amplify any cross-
    * engine 1-ulp divergence into a forked codebook. */
  def f32Mean(c: Column): Column =
    (decMean(c)).cast("float").cast("double")

  /** Scalar float32 round-trip — residual subtraction operands
    * ([[graft.operators.Quantize]] residualFrame). */
  def f32(c: Column): Column =
    c.cast("float").cast("double")

  /** Order-proof sum of EXACT-expansion addends with the correctly-
    * rounded (string-mediated) double image — [[decSum]] for addends
    * that are NOT on a fixed round-k grid. A `round(x, k)` pre-sum hop
    * forks cross-engine at ~ulp(x)/10^-k per value (Spark rounds the
    * shortest-repr decimal, the oracle engine rounds the exact binary
    * expansion), which amplified through any iterative trainer is the
    * Lloyd-fork class; the exact hop has no repr algorithm in the loop
    * at all. Oracle twin:
    * `CAST(CAST(sum(CASE WHEN abs(x) < 5e-19 THEN CAST(0 AS
    * DECIMAL(38,18)) ELSE CAST(format('{:.70e}', x) AS
    * DECIMAL(38,18)) END) AS VARCHAR) AS DOUBLE)`. */
  def decSumExact(c: Column): Column =
    sum(decExact(c)).cast("string").cast("double")

  /** [[decSum]] with the correctly-rounded (string-mediated) double
    * image — REQUIRED whenever the sum (or a quotient of it) is
    * emitted RAW: the engines' native decimal→double casts can differ
    * by 1 ulp (Java's BigDecimal.doubleValue double-rounds), which a
    * round-6 output grid absorbs but a 10-sig-digit raw comparison
    * sees whenever the value sits near a print boundary. As of r15
    * the input hop is exact too ([[decSum]]'s rationale), which makes
    * this IDENTICAL to [[decSumExact]] — both names stay because call
    * sites carry different contracts (grid addends vs free addends).
    * Oracle twin: `CAST(CAST(sum(<exact>) AS VARCHAR) AS DOUBLE)`. */
  def decSumStr(c: Column): Column =
    sum(decExact(c)).cast("string").cast("double")
}
