package perfbench

import java.nio.file.Path
import java.sql.Date
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{DF, Sel, Summary}
import graft.operators.{Dedup, LinkGraph, Multimodal, Profiling, Relational, Search}
import graft.sources.Sources

/** `frames`: an analyst session, a fixed sequence of small calls into the
  * frame, summary, relational, profiling and link-graph layers over a
  * generated TPC-H-like star schema plus a host edge table, then a
  * full-text index and probe over order reviews, a saved bucketed table,
  * and a near-duplicate check of product photos. Every pass draws its
  * constants from (seed, pass index), so no two passes send the same
  * queries. The calls are bound by driver planning and job count. */
final class Frames extends Workload {
  val name = "frames"
  val Orders = 6000
  val Customers = 600
  val Parts = 400
  val Hosts = 300
  val Edges = 2400
  val Reviews = 600
  val Photos = 40
  val PhotoCopies = 10
  val Buckets = 4

  private var spark: SparkSession = _
  private var in: Path = _
  private var lineitem: DataFrame = _
  private var orders: DataFrame = _
  private var customer: DataFrame = _
  private var edges: DataFrame = _
  private var reviews: DataFrame = _
  private var photos: DataFrame = _
  /** per review: (doc_id, its head, mid and tag terms) */
  private var reviewTerms: Vector[(Long, Seq[String])] = Vector.empty
  private var liRows = 0L
  private var seed = 0L
  private var traced = false
  private val filesPerBucket = ArrayBuffer.empty[Double]
  private var tracedHits = 0L
  private var tracedStoreBytes = 0L

  /** (pass, call, result rows, ordered?, reference) */
  private final case class Rec(pass: Int, call: String, rows: Seq[Seq[Any]],
                               ordered: Boolean, ref: () => Seq[Seq[Any]])
  private val recs = ArrayBuffer.empty[Rec]

  private val Day0 = Date.valueOf("1993-01-01").toLocalDate
  private def day(i: Int): Date = Date.valueOf(Day0.plusDays(i.toLong))
  private val Modes = Vector("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR")
  private val Segments = Vector("AUTO", "BUILD", "FURN", "HOUSE", "MACH")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT", "5-LOW")

  def generate(sp: SparkSession, out: Path, sd: Long): Map[String, Any] = {
    import sp.implicits._
    val r = Gen.rng(sd, 2)
    val w = (t: String, d: DataFrame) =>
      d.write.parquet(out.resolve(s"$t.parquet").toString)
    w("customer", (1 to Customers).map(c => (c.toLong, r.nextInt(25),
      Segments(r.nextInt(5)), r.nextLong(-99999L, 999999L)))
      .toDF("c_custkey", "c_nationkey", "c_segment", "c_acctbal_cents").coalesce(1))
    val partPrice = Array.fill(Parts + 1)(100L + r.nextInt(20000))
    val li = ArrayBuffer.empty[(Long, Int, Long, Int, Long, Int, String, String, Date, String)]
    val ord = (1 to Orders).map { o =>
      val okey = o.toLong * 4
      val od = r.nextInt(2400)
      var total = 0L
      (1 to 1 + r.nextInt(7)).foreach { ln =>
        val p = 1 + r.nextInt(Parts); val q = 1 + r.nextInt(50)
        val price = q * partPrice(p); total += price
        val ship = od + 1 + r.nextInt(120)
        li += ((okey, ln, p.toLong, q, price, r.nextInt(11),
          if (ship < 1900) Seq("A", "R")(r.nextInt(2)) else "N",
          if (ship < 2000) "F" else "O", day(ship), Modes(r.nextInt(Modes.length))))
      }
      (okey, 1L + r.nextInt(Customers), day(od), Priorities(r.nextInt(5)), total)
    }
    w("orders", ord.toDF("o_orderkey", "o_custkey", "o_orderdate", "o_priority",
      "o_totalcents"))
    w("lineitem", li.toSeq.toDF("l_orderkey", "l_linenumber", "l_partkey",
      "l_quantity", "l_price_cents", "l_discount_pct", "l_returnflag",
      "l_linestatus", "l_shipdate", "l_shipmode"))
    // hosts with skewed out-degree; parallel links summed per (src, dst)
    val e = (0 until Edges).map { _ =>
      val s = math.min(Hosts - 1, (Hosts * math.pow(r.nextDouble(), 2)).toInt)
      (s"h$s.example", s"h${r.nextInt(Hosts)}.example", 1L + r.nextInt(5))
    }.groupBy(x => (x._1, x._2)).map { case ((s, d), xs) => (s, d, xs.map(_._3).sum) }
      .toSeq.sortBy(x => (x._1, x._2))
    w("edges", e.toDF("src_host", "dst_host", "n_links").coalesce(1))
    // order reviews for full-text search; each carries a unique tag token,
    // so a probe on (head, mid, tag) terms has one planted target
    val rv = (1 to Reviews).map(i => (i.toLong, 4L * (1 + r.nextInt(Orders)),
      Gen.englishDoc(r, 30, 60)))
    w("reviews", rv.map { case (i, o, body) => (i, o, s"$body Tag zq${i}x.") }
      .toDF("doc_id", "o_orderkey", "text").coalesce(1))
    // the harness's probe terms per review: its most and its median
    // frequent vocabulary word, and its tag
    java.nio.file.Files.write(out.resolve("review_terms.tsv"), rv.map { case (i, _, body) =>
      val ranked = body.toLowerCase.replace(".", "").split(" ").distinct
        .filter(Gen.Vocab.contains).sortBy(Gen.Vocab.indexOf(_))
      s"$i\t${ranked.head}\t${ranked(ranked.length / 2)}\tzq${i}x"
    }.mkString("\n").getBytes("UTF-8"))
    // product photos: originals, then byte-identical copies under higher ids
    val png = (1 to Photos).map(_ => Gen.png(r))
    val photoRows = png.zipWithIndex.map { case (b, i) => (i + 1L, b) } ++
      (1 to PhotoCopies).map(i => (Photos.toLong + i, png(r.nextInt(Photos))))
    w("photos", photoRows.map { case (id, b) => (id, "image", b, b.length.toLong, "image/png") }
      .toDF("media_id", "kind", "bytes", "n_bytes", "mime").coalesce(1))
    Map("lineitem_rows" -> li.length, "orders_rows" -> Orders,
      "customer_rows" -> Customers, "parts" -> Parts,
      "edge_rows" -> e.length, "hosts" -> Hosts, "reviews" -> Reviews,
      "photos" -> (Photos + PhotoCopies),
      "planted_rate.photo_copies" -> PhotoCopies.toDouble / (Photos + PhotoCopies),
      "input_bytes" -> Gen.bytesUnder(out))
  }

  def open(sp: SparkSession, dir: Path): Unit = {
    spark = sp; in = dir
    def rd(t: String) = {
      val d = sp.read.parquet(dir.resolve(s"$t.parquet").toString)
      d.createOrReplaceTempView(t); d
    }
    lineitem = rd("lineitem"); orders = rd("orders"); customer = rd("customer")
    edges = rd("edges")
    reviews = rd("reviews"); photos = rd("photos")
    reviewTerms = java.nio.file.Files.readAllLines(dir.resolve("review_terms.tsv"))
      .toArray(Array.empty[String]).toVector.map { line =>
        val f = line.split("\t"); (f(0).toLong, f.toSeq.tail)
      }
    val m = Manifest.read(dir)
    liRows = m("lineitem_rows").toString.toLong
    seed = m("seed").toString.toLong
  }

  private def rows(d: DataFrame): Seq[Seq[Any]] = d.collect().toSeq.map(Rows.norm)
  private def sql(q: String): () => Seq[Seq[Any]] = () => rows(spark.sql(q))
  private def mat(m: Array[Array[Any]]): Seq[Seq[Any]] =
    m.toSeq.map(_.toSeq.map(Rows.normValue))

  def pass(ctx: Ctx, record: Boolean): Unit = {
    val r = Gen.rng(seed, 1000L + ctx.pass)
    val q = 1 + r.nextInt(49)
    val a = r.nextInt((liRows - 400).toInt)
    val d = 200 + r.nextInt(2000)
    val mode = Modes(r.nextInt(Modes.length))
    val k = 5 + r.nextInt(20)
    val c0 = 1 + r.nextInt(Customers - 40)
    val minLinks = 1 + r.nextInt(3)
    def rec(call: String, ordered: Boolean, ref: () => Seq[Seq[Any]])(
        body: => Seq[Seq[Any]]): Unit =
      ctx.call(call)(body).foreach(res =>
        if (record) recs += Rec(ctx.pass, call, res, ordered, ref))
    val liPath = in.resolve("lineitem.parquet").toString
    val order = Seq("l_orderkey", "l_linenumber")
    val sliceSql =
      s"(SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 200 OFFSET $a)"
    val liCols = lineitem.columns.toSeq

    // ---- DF: positional frames -------------------------------------------
    var li: DF = null
    var s: DF = null
    rec("DF.readParquet", true, sql(s"SELECT count(*), ${liCols.length} FROM lineitem")) {
      li = DF.readParquet(spark, liPath, order); Seq(Seq(li.nrow, li.ncol))
    }
    rec("DF.sliceFrame", true, sql(s"SELECT * FROM $sliceSql ORDER BY l_orderkey, l_linenumber")) {
      s = li.sliceFrame(Sel.Range(a, a + 200)); mat(s.toMatrix)
    }
    rec("DF.maskRows", true, sql(s"SELECT l_quantity > $q AND l_discount_pct < 5 " +
        s"FROM $sliceSql ORDER BY l_orderkey, l_linenumber")) {
      s.maskRows(Seq("l_quantity", "l_discount_pct"))(v =>
        v(0).asInstanceOf[Int] > q && v(1).asInstanceOf[Int] < 5).map(Seq(_))
    }
    rec("DF.mapDF", true, sql(s"SELECT l_orderkey, l_price_cents * (100 - l_discount_pct) " +
        s"FROM $sliceSql ORDER BY l_orderkey, l_linenumber")) {
      mat(s.mapDF("k" -> col("l_orderkey"),
        "net" -> col("l_price_cents") * (lit(100) - col("l_discount_pct"))).toMatrix)
    }

    // ---- Summary ------------------------------------------------------------
    rec("Summary.frequencyTable", true, sql("SELECT l_shipmode, count(1) AS cnt FROM lineitem " +
        s"WHERE l_shipdate >= '${day(d)}' GROUP BY l_shipmode ORDER BY cnt DESC, l_shipmode")) {
      rows(Summary.frequencyTable(lineitem.filter(col("l_shipdate") >= day(d)), "l_shipmode"))
    }
    rec("Summary.quantileSummary", true, sql("SELECT round(min(CAST(l_quantity AS DOUBLE)), 6), " +
        Seq(0.25, 0.5, 0.75).map(p => s"round(percentile(CAST(l_quantity AS DOUBLE), $p), 6)")
          .mkString(", ") + s", round(max(CAST(l_quantity AS DOUBLE)), 6) FROM lineitem " +
        s"WHERE l_shipmode = '$mode'")) {
      rows(Summary.quantileSummary(lineitem.filter(col("l_shipmode") === mode), "l_quantity"))
    }

    // ---- Relational -------------------------------------------------------
    val custAsOrders = customer.withColumnRenamed("c_custkey", "o_custkey")
    rec("Relational.groupAgg", false, sql("SELECT l_returnflag, l_linestatus, sum(l_quantity), " +
        "sum(l_price_cents), count(1), max(l_discount_pct) FROM lineitem " +
        s"WHERE l_shipdate <= '${day(d)}' GROUP BY l_returnflag, l_linestatus")) {
      rows(Relational.groupAgg(lineitem.filter(col("l_shipdate") <= day(d)),
        Seq("l_returnflag", "l_linestatus"), Seq(sum("l_quantity"), sum("l_price_cents"),
          count(lit(1)), max("l_discount_pct"))))
    }
    rec("Relational.innerJoin", false, sql("SELECT c_segment, sum(o_totalcents), count(1) " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        s"WHERE o_orderdate >= '${day(d)}' GROUP BY c_segment")) {
      rows(Relational.innerJoin(orders.filter(col("o_orderdate") >= day(d)), custAsOrders,
        Seq("o_custkey")).groupBy("c_segment").agg(sum("o_totalcents"), count(lit(1))))
    }
    rec("Relational.topK", true, sql("SELECT * FROM orders WHERE o_priority <> '5-LOW' " +
        s"ORDER BY o_totalcents DESC, o_orderkey LIMIT $k")) {
      rows(Relational.topK(orders.filter(col("o_priority") =!= "5-LOW"), k,
        Seq(desc("o_totalcents"), asc("o_orderkey"))))
    }
    val band = orders.filter(col("o_custkey").between(c0, c0 + 30))
    val bandSql = s"FROM orders WHERE o_custkey BETWEEN $c0 AND ${c0 + 30}"
    val win = "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"
    val byDate = Seq(col("o_orderdate"), col("o_orderkey"))
    rec("Relational.runningAgg", false, sql(s"SELECT o_orderkey, sum(o_totalcents) OVER ($win " +
        s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) $bandSql")) {
      rows(Relational.runningAgg(band, Seq("o_custkey"), byDate, sum("o_totalcents"), "run")
        .select("o_orderkey", "run"))
    }

    // ---- Profiling and LinkGraph -----------------------------------------
    def profileRef(table: String, where: String, cols: Seq[String]): () => Seq[Seq[Any]] =
      sql(cols.sorted.map(c => s"SELECT '$c', count(1), " +
        s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END), approx_count_distinct($c) " +
        s"FROM $table WHERE $where").mkString(" UNION ALL "))
    rec("Profiling.profileTable", false, profileRef("orders", s"o_orderdate >= '${day(d)}'",
        orders.columns.toSeq)) {
      rows(Profiling.profileTable(orders.filter(col("o_orderdate") >= day(d))))
    }
    rec("LinkGraph.pageRankHosts", true, () => pageRankRef(minLinks)) {
      rows(LinkGraph.pageRankHosts(edges.filter(col("n_links") >= minLinks), 3)
        .orderBy(desc("rank_nanos"), asc("host")).limit(20))
    }

    // ---- Search, Sources, Multimodal: index, save, dedup photos ----------
    traced = ctx.tracer.isDefined
    def ids(d: DataFrame): Seq[Seq[Any]] = d.collect().toSeq.map(x => Seq(x.getLong(0)))
    ctx.call("Search.writeInvertedIndex")(
      Search.writeInvertedIndex(reviews, "doc_id", "text", "fr_idx", Buckets))
    val (bm25Target, bm25Terms) = reviewTerms(r.nextInt(reviewTerms.length))
    rec("Search.searchBM25", true, () => Seq(Seq(true))) {
      val hits = ids(Search.searchBM25(spark, "fr_idx", bm25Terms, 10))
      if (traced) tracedHits += hits.length
      Seq(Seq(hits.contains(Seq(bm25Target))))
    }
    rec("Sources.writeBucketed", true,
        sql(s"SELECT count(*) FROM orders WHERE o_orderdate >= '${day(d)}'")) {
      Sources.writeBucketed(orders.filter(col("o_orderdate") >= day(d)), "fr_orders",
        "o_custkey", Buckets)
      Seq(Seq(spark.table("fr_orders").count()))
    }
    if (traced) filesPerBucket +=
      Gen.filesUnder(warehouse.resolve("fr_orders"), ".parquet").toDouble / Buckets
    ctx.call("Multimodal.imageDHashWide")(
      Multimodal.imageDHashWide(photos).localCheckpoint()).foreach { h =>
      rec("Dedup.imageDedupFromHashesWide", false,
          () => (1L to Photos).map(Seq(_))) {
        ids(Dedup.imageDedupFromHashesWide(h, "media_id"))
      }
    }
  }

  private def warehouse: java.nio.file.Path = java.nio.file.Paths.get(
    spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))

  /** bytes the saved tables hold at the end of a traced pass */
  override def afterPass(sp: SparkSession): Unit =
    if (traced) tracedStoreBytes += Gen.bytesUnder(warehouse)

  /** every pass starts without the saved tables */
  override def reset(sp: SparkSession): Unit = {
    sp.catalog.listTables().collect().filterNot(_.isTemporary).foreach(t =>
      sp.sql(s"DROP TABLE IF EXISTS ${t.name}"))
    Main.deleteTree(warehouse)
    java.nio.file.Files.createDirectories(warehouse)
  }

  /** `pageRankHosts`' integer recurrence, three iterations, in plain SQL */
  private def pageRankRef(minLinks: Int): Seq[Seq[Any]] = {
    spark.sql("SELECT src_host, dst_host, CAST(n_links AS BIGINT) AS n FROM edges " +
      s"WHERE n_links >= $minLinks AND src_host <> dst_host").createOrReplaceTempView("pr_e")
    spark.sql("SELECT src_host, sum(n) AS o FROM pr_e GROUP BY src_host")
      .createOrReplaceTempView("pr_out")
    spark.sql("SELECT DISTINCT host FROM (SELECT src_host AS host FROM pr_e " +
      "UNION ALL SELECT dst_host FROM pr_e)").createOrReplaceTempView("pr_nodes")
    val n = spark.sql("SELECT count(*) FROM pr_nodes").head().getLong(0)
    spark.sql(s"SELECT host, ${1000000000L / n} AS rank FROM pr_nodes")
      .createOrReplaceTempView("pr_r0")
    (1 to 3).foreach { i =>
      spark.sql(s"SELECT v.host, ${3000000000L / (20 * n)} + (17 * coalesce(c.s, 0)) div 20 " +
        "AS rank FROM pr_nodes v LEFT JOIN (SELECT e.dst_host AS host, " +
        "sum((r.rank * e.n) div o.o) AS s FROM pr_e e JOIN pr_out o ON e.src_host = o.src_host " +
        s"JOIN pr_r${i - 1} r ON r.host = e.src_host GROUP BY e.dst_host) c ON v.host = c.host")
        .localCheckpoint().createOrReplaceTempView(s"pr_r$i")
    }
    rows(spark.sql("SELECT host, rank FROM pr_r3 ORDER BY rank DESC, host LIMIT 20"))
  }

  def check(sp: SparkSession, tally: Tally): Unit = recs.foreach { rc =>
    val want = scala.util.Try(rc.ref()).toOption
    val (a, b) = if (rc.ordered) (rc.rows, want.orNull)
      else (Rows.sorted(rc.rows), want.map(Rows.sorted).orNull)
    tally.wrong(b != null && a == b, s"frames pass ${rc.pass}: ${rc.call} differs " +
      s"from its SQL reference (${a.take(2)} vs ${Option(b).map(_.take(2))})")
  }

  override def percentileCall(name: String): Boolean = true

  def injectFault(): Unit = if (recs.nonEmpty) {
    val x = recs.last
    recs(recs.length - 1) = x.copy(rows = x.rows :+ Seq("injected"))
  }

  def layerFigures(tracer: Tracer,
                   untraced: Seq[CallRec]): Map[String, Double] = {
    val ms = untraced.map(_.ms)
    val written = tracer.jobs.values.toArray(Array.empty[JobRec]).map(_.c.outputBytes).sum
    val mm = tracer.countersWhere(_.startsWith("Multimodal."))
    val kept = recs.filter(_.call == "Dedup.imageDedupFromHashesWide").map(_.rows.length)
    Map(
      "call_p50_ms" -> Stats.median(ms), "call_p90_ms" -> Stats.quantile(ms, 0.9),
      "call_samples" -> ms.length.toDouble,
      "Dedup.keep_ratio.image" -> Stats.mean(kept.map(_.toDouble / (Photos + PhotoCopies)).toSeq),
      "Search.rows_read_per_hit" -> tracer.countersWhere(_.startsWith("Search.search"))
        .inputRecords.toDouble / math.max(tracedHits, 1L),
      "Sources.files_per_bucket" -> Stats.mean(filesPerBucket.toSeq),
      "Sources.write_amplification" -> written.toDouble / math.max(tracedStoreBytes, 1L),
      "Multimodal.gc_share" -> mm.gcMs.toDouble / math.max(mm.runMs, 1L))
  }
}
