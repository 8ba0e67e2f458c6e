package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

final case class OrderRow(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: java.time.LocalDateTime, o_orderpriority: String)
final case class LineRow(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
    l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
    l_discount: Double, l_tax: Double, l_returnflag: String, l_linestatus: String,
    l_shipdate: java.time.LocalDateTime)
final case class DocRow(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)
final case class EmbRow(vec_id: Long, embedding: Array[Float], label: Int)

/** The benchmark's tables materialized from [[Gen.DataSeed]]: parquet
  * tables in graft's harness layout (`<dir>/<table>.parquet`, read by
  * `graft.Tables.load`) and, for the backfill, the same orders and
  * lineitem rows copied into an embedded Derby replica. [[Fixture]]
  * writes them once per build; every run reads the parquet tables in
  * place and restores the replica into memory. */
object Source {

  private def ids(spark: SparkSession, n: Int) = {
    import spark.implicits._
    spark.range(0L, n.toLong, 1L, spark.sparkContext.defaultParallelism).as[Long]
  }
  private def day(d: java.time.LocalDate) = d.atStartOfDay()

  def orders(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val seed = Gen.DataSeed
    ids(spark, Gen.Orders).map { k =>
      val o = Gen.order(seed, k)
      OrderRow(o.key, o.cust, o.status, o.priceCents / 100.0, day(o.date), o.priority)
    }.toDF()
  }

  def lineitem(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val seed = Gen.DataSeed
    ids(spark, Gen.Lineitems).map { j =>
      val l = Gen.line(seed, j)
      LineRow(l.orderKey, l.partKey, l.suppKey, l.lineNumber, l.quantity.toDouble,
        l.priceCents / 100.0, l.discount / 100.0, l.tax / 100.0, l.returnFlag,
        l.lineStatus, day(l.ship))
    }.toDF()
  }

  def documents(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val seed = Gen.DataSeed
    ids(spark, Gen.Docs).map { d =>
      val t = Gen.docText(seed, d, 0)
      DocRow(d, t, Gen.docLang(seed, d), s"src${d % 20}", t.length.toLong)
    }.toDF()
  }

  def embeddings(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val seed = Gen.DataSeed
    ids(spark, Gen.Vectors).map { v =>
      val (x, label) = Gen.embedding(seed, v)
      EmbRow(v, x, label)
    }.toDF()
  }

  def writeParquet(df: DataFrame, dir: Path, table: String): Unit =
    df.write.mode("overwrite").parquet(dir.resolve(s"$table.parquet").toString)

  // ------------------------------------------------------------------ Derby

  val OrdersDdl: String = """CREATE TABLE ORDERS (O_ORDERKEY BIGINT,
    O_CUSTKEY BIGINT, O_ORDERSTATUS VARCHAR(1), O_TOTALPRICE DOUBLE,
    O_ORDERDATE TIMESTAMP, O_ORDERPRIORITY VARCHAR(15))"""
  val LineitemDdl: String = """CREATE TABLE LINEITEM (L_ORDERKEY BIGINT,
    L_PARTKEY BIGINT, L_SUPPKEY BIGINT, L_LINENUMBER INT, L_QUANTITY DOUBLE,
    L_EXTENDEDPRICE DOUBLE, L_DISCOUNT DOUBLE, L_TAX DOUBLE,
    L_RETURNFLAG VARCHAR(1), L_LINESTATUS VARCHAR(1), L_SHIPDATE TIMESTAMP)"""

  private def csv(path: Path, n: Int)(line: Long => String): Unit = {
    val w = Files.newBufferedWriter(path)
    try {
      var i = 0L
      while (i < n) { w.write(line(i)); w.write('\n'); i += 1 }
    } finally w.close()
  }

  /** Copy one table into Derby the way a replica is seeded: bulk import
    * of a CSV extract, then the (merchant, time) index. */
  private def copyTable(url: String, csvDir: Path, table: String, ddl: String,
      n: Int, index: String)(line: Long => String): Unit = {
    val file = csvDir.resolve(s"$table.csv")
    csv(file, n)(line)
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.executeUpdate(ddl)
      st.execute(s"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, '$table', " +
        s"'${file.toAbsolutePath}', ',', null, null, 0)")
      st.executeUpdate(s"CREATE INDEX ${table}_MT ON $table ($index)")
    } finally c.close()
    Files.delete(file)
  }

  /** Seed the Derby replica with orders and lineitem (the two tables load
    * concurrently) as an on-disk database at `db`, shut down cleanly so
    * runs can restore it. */
  def derby(db: Path): Unit = {
    val url = s"jdbc:derby:directory:$db"
    val csvDir = db.resolveSibling("csv")
    Files.createDirectories(csvDir)
    java.sql.DriverManager.getConnection(s"$url;create=true").close()
    val seed = Gen.DataSeed
    val o = new Thread(() => copyTable(url, csvDir, "ORDERS", OrdersDdl, Gen.Orders,
      "O_CUSTKEY, O_ORDERDATE") { k =>
      val x = Gen.order(seed, k)
      s"${x.key},${x.cust},${x.status},${Gen.money(x.priceCents)},${x.date} 00:00:00,${x.priority}"
    })
    var failure: Throwable = null
    o.setUncaughtExceptionHandler((_, e) => failure = e)
    o.start()
    copyTable(url, csvDir, "LINEITEM", LineitemDdl, Gen.Lineitems,
      "L_ORDERKEY, L_SHIPDATE") { j =>
      val l = Gen.line(seed, j)
      s"${l.orderKey},${l.partKey},${l.suppKey},${l.lineNumber},${l.quantity}.0," +
        s"${Gen.money(l.priceCents)},0.${"%02d".format(l.discount)},0.0${l.tax}," +
        s"${l.returnFlag},${l.lineStatus},${l.ship} 00:00:00"
    }
    o.join()
    if (failure != null) throw failure
    Files.delete(csvDir)
    // a clean shutdown reports itself as an SQLException (state 08006)
    try java.sql.DriverManager.getConnection(s"$url;shutdown=true").close()
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }
  }

  /** Restore the replica from its on-disk copy into an in-memory database
    * called `name`; returns its JDBC URL. */
  def restore(db: Path, name: String): String = {
    val url = s"jdbc:derby:memory:$name"
    java.sql.DriverManager.getConnection(s"$url;createFrom=$db").close()
    url
  }

  /** Row count of a Derby table. */
  def derbyCount(url: String, table: String): Long = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }
}
