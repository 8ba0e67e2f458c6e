package graftbench

import java.time.LocalDate

/** Deterministic inputs: every table row and every op is a pure function
  * of (seed, stream, index), so a seed replays the same data and the same
  * op list in any process, on any thread, and without a Spark session.
  * The tables are fixed, as dbgen's sf0.1 is: they are drawn from
  * [[DataSeed]], and a run's `--seed` draws its op list over them.
  */
object Gen {

  /** The seed of every table (orders, lineitem, documents, embeddings). */
  val DataSeed = 0L

  /** SplitMix64 finalizer over (seed, stream, i): a stateless generator,
    * so executors can derive any row independently. */
  def h(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L +
      i * 0x94D049BB133111EBL + 0x632BE59BD9B4E5BL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def below(seed: Long, stream: Long, i: Long, n: Long): Long =
    java.lang.Long.remainderUnsigned(h(seed, stream, i), n)
  def unit(seed: Long, stream: Long, i: Long): Double =
    (h(seed, stream, i) >>> 11) * (1.0 / (1L << 53))

  // ------------------------------------------------------------ relational

  val Orders = 150000
  val Lineitems = 600000
  /** Customers at sf0.1 (TESTDATA.md: 15,000). As in TPC-H's dbgen, only
    * customer keys not divisible by 3 place orders, uniformly: two-thirds
    * of the customers are merchants with orders, 15 orders each on
    * average. */
  val Customers = 15000
  val Merchants: Int = Customers - Customers / 3
  /** The key of the k-th customer with orders (k in 0 until Merchants):
    * 1, 2, 4, 5, 7, ... */
  def merchantKey(k: Long): Long = 1 + k + k / 2
  val OrdersFirst: LocalDate = LocalDate.of(1995, 1, 1)
  val OrdersLast: LocalDate = LocalDate.of(2001, 8, 1)
  /** Orders span in days, both ends inclusive. */
  val SpanDays: Int = (OrdersLast.toEpochDay - OrdersFirst.toEpochDay).toInt + 1
  /** Ship dates trail their order by 1..95 days (last ship 2001-11-04). */
  val ShipLagDays = 95
  val ShipLast: LocalDate = OrdersLast.plusDays(ShipLagDays)

  private val Statuses = Array("O", "F", "P")
  private val ReturnFlags = Array("N", "A", "R")
  private val LineStatuses = Array("O", "F")
  private val Priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  final case class Order(key: Long, cust: Long, status: String,
      priceCents: Long, date: LocalDate, priority: String)
  final case class Line(orderKey: Long, partKey: Long, suppKey: Long,
      lineNumber: Int, quantity: Int, priceCents: Long, discount: Int,
      tax: Int, returnFlag: String, lineStatus: String, ship: LocalDate)

  def orderCust(seed: Long, k: Long): Long = merchantKey(below(seed, 1, k, Merchants))
  def orderDate(seed: Long, k: Long): LocalDate =
    OrdersFirst.plusDays(below(seed, 2, k, SpanDays))

  def order(seed: Long, k: Long): Order = Order(k, orderCust(seed, k),
    Statuses(below(seed, 3, k, 3).toInt), 100000L + below(seed, 4, k, 50000000L),
    orderDate(seed, k), Priorities(below(seed, 5, k, 5).toInt))

  def line(seed: Long, j: Long): Line = {
    val ok = below(seed, 11, j, Orders)
    Line(ok, below(seed, 12, j, 20000), below(seed, 13, j, 1000),
      1 + below(seed, 14, j, 7).toInt, 1 + below(seed, 15, j, 50).toInt,
      100000L + below(seed, 16, j, 10000000L), below(seed, 17, j, 11).toInt,
      below(seed, 18, j, 9).toInt, ReturnFlags(below(seed, 19, j, 3).toInt),
      LineStatuses(below(seed, 20, j, 2).toInt),
      orderDate(seed, ok).plusDays(1 + below(seed, 21, j, ShipLagDays)))
  }

  /** Exact two-decimal rendering of a cent amount (what the replica
    * stores and what `cents / 100.0` rounds to). */
  def money(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"

  // ---------------------------------------------------------------- corpus

  val Docs = 5000
  val Vectors = 2000
  val Dim = 64
  val Labels = 10
  val Vocab: IndexedSeq[String] = IndexedSeq("spark", "window", "merge",
    "table", "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch", "dup")
  private val Langs = Array("en", "zh", "es", "fr", "de")

  /** Text of doc `d` in `variant` 0 (as loaded) or 1 (after an update):
    * 10..100 tokens over the 30 common words, with a rare `dup`. */
  def docText(seed: Long, d: Long, variant: Int): String = {
    val s = 31L + variant
    val n = 10 + below(seed, s, d * 1000, 91).toInt
    (0 until n).map { t =>
      val r = below(seed, s, d * 1000 + 1 + t, 600)
      if (r == 0) "dup" else Vocab((r % 30).toInt)
    }.mkString(" ")
  }
  def docLang(seed: Long, d: Long): String = Langs(below(seed, 35, d, 5).toInt)

  /** Label-clustered float vectors, so the IVF lists carry structure. */
  def embedding(seed: Long, v: Long): (Array[Float], Int) = {
    val label = below(seed, 41, v, Labels).toInt
    val x = Array.tabulate(Dim) { i =>
      val c = 2.0 * unit(seed, 42, label * Dim + i) - 1.0
      val noise = 2.0 * unit(seed, 43, v * Dim + i) - 1.0
      (c + 0.7 * noise).toFloat
    }
    (x, label)
  }

  // ---------------------------------------------------------------- op lists

  /** A seeded permutation of 0 until n (Fisher-Yates over `h`). */
  def perm(seed: Long, stream: Long, n: Int): IndexedSeq[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = below(seed, stream, i, i + 1).toInt
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq
  }

  /** The midpoint of stratum k of n equal slices of log-space over
    * [1, max]: a stratified log-uniform design whose sizes are the same for
    * every seed (jittered sizes moved the replica's plan choices and the
    * rows read enough to shift a seed's median by half). */
  def logUniformStratum(k: Int, n: Int, max: Int): Int =
    math.min(max, math.max(1, math.round(math.exp((k + 0.5) / n * math.log(max))).toInt))

  final case class BackfillOp(merchants: Option[IndexedSeq[Long]],
      first: LocalDate, last: LocalDate) {
    def start: String = s"$first 00:00:00"
    def end: String = s"$last 00:00:00"
  }

  /** Backfill requests: merchant-subset size and window length are
    * stratified log-uniform (1..all merchants with orders, 1 day..whole
    * span). Request i takes size stratum k = perm(i) and window stratum
    * (k + n/2) mod n, a fixed pairing, so the spread of rows per request
    * is the same for every seed; the seed draws the order, the merchants
    * and the dates. Each request is anchored on a real order — its
    * merchant is in the subset and its date in the window — so no request
    * is an empty feed, and every window lies inside the orders' date
    * range. */
  def backfillOps(seed: Long, n: Int): IndexedSeq[BackfillOp] = {
    val strata = perm(seed, 101, n)
    val sizes = (0 until n).map(i => logUniformStratum(strata(i), n, Merchants))
    val spans = (0 until n).map(i => logUniformStratum((strata(i) + n / 2) % n, n, SpanDays))
    (0 until n).map { i =>
      val anchor = below(seed, 105, i, Orders)
      val m = orderCust(DataSeed, anchor)
      val d = orderDate(DataSeed, anchor)
      val len = spans(i)
      val back = below(seed, 106, i, len)
      val lo = math.max(0L, math.min(d.toEpochDay - OrdersFirst.toEpochDay - back,
        SpanDays - len.toLong))
      val first = OrdersFirst.plusDays(lo)
      val merchants =
        if (sizes(i) >= Merchants) None
        else {
          val others = perm(seed, 1000 + i, Merchants).iterator
            .map(k => merchantKey(k.toLong)).filter(_ != m).take(sizes(i) - 1)
          Some((m +: others.toIndexedSeq).sorted)
        }
      BackfillOp(merchants, first, first.plusDays(len - 1L))
    }
  }

  /** `n` distinct query terms, Zipf(1) over a seed-ranked vocabulary. */
  def queryTerms(seed: Long, stream: Long, q: Long, n: Int): Seq[String] = {
    val ranked = perm(seed, stream, Vocab.size).map(Vocab)
    val weights = ranked.indices.map(r => 1.0 / (r + 1))
    val total = weights.sum
    def zipf(i: Long): String = {
      var u = unit(seed, stream + 1, i) * total
      var r = 0
      while (r < ranked.size - 1 && u >= weights(r)) { u -= weights(r); r += 1 }
      ranked(r)
    }
    Iterator.from(0).map(t => zipf(q * 64 + t)).distinct.take(n).toSeq
  }

  final case class ServeOp(queries: Seq[(Long, Seq[String])], vecIds: Seq[Long])

  /** Serving ops: 4 fresh BM25 queries of 1, 2, 3 and 4 terms (in a
    * seeded order, so every op probes 10 terms) and 4 distinct query
    * vectors (uniform over the embeddings) per op. */
  val ServeBatch = 4
  def serveOps(seed: Long, n: Int): IndexedSeq[ServeOp] =
    (0 until n).map { i =>
      val sizes = perm(seed, 250 + i, ServeBatch).map(_ + 1)
      val qs = (0 until ServeBatch).map { q =>
        val id = i.toLong * ServeBatch + q
        id -> queryTerms(seed, 201, id, sizes(q))
      }
      val ids = perm(seed, 300 + i, Vectors).take(ServeBatch).map(_.toLong)
      ServeOp(qs, ids)
    }

  /** One churn op: docs to delete, to update (text flips between its two
    * variants), to re-insert, whether its maintenance tick compacts, and
    * one BM25 query to serve afterwards. */
  final case class ChurnOp(deletes: Seq[Long], updates: Seq[Long],
      reinserts: Seq[Long], compact: Boolean, query: Seq[String])

  /** A churn cycle of `2 * half` ops that returns the corpus to its
    * starting state, so replaying it replays identical ops: the first
    * half deletes group H_j and re-inserts absent group G_j, the second
    * half deletes G_j and re-inserts H_j; each op also flips the text of
    * its own update group U_j (first half to variant 1, second half back
    * to variant 0). The cycle's last op compacts. Returns the
    * initially-absent docs and the cycle. */
  def churnCycle(seed: Long, half: Int, perOp: Int): (Set[Long], IndexedSeq[ChurnOp]) = {
    val ids = perm(seed, 401, Docs).map(_.toLong)
    def group(k: Int): Seq[Long] = ids.slice(k * perOp, (k + 1) * perOp)
    val g = (0 until half).map(group)
    val hh = (0 until half).map(j => group(half + j))
    val u = (0 until half).map(j => group(2 * half + j))
    val ops = (0 until 2 * half).map { i =>
      val j = i % half
      val q = queryTerms(seed, 501, i, 1 + below(seed, 503, i, 4).toInt)
      val compact = i == 2 * half - 1
      if (i < half) ChurnOp(hh(j), u(j), g(j), compact, q)
      else ChurnOp(g(j), u(j), hh(j), compact, q)
    }
    (g.flatten.toSet, ops)
  }
}
