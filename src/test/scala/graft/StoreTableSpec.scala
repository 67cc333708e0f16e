package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Sources, StoreTable}

/** The store-table core owns every store table's catalog state: the bucket
  * layout comes from the catalog, build parameters live in `graft.*`
  * properties, and rewrites go through one staging swap. */
class StoreTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("only the store-table core touches table properties or renames a staging table") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val core = new java.io.File(root, "graft/sources/StoreTable.scala").getCanonicalFile
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    // also the exactly-once gate: a `__batch` presence probe belongs to
    // StoreTable.appendOnce, and one foreachBatch driver runs every pass
    val forbidden = "(?i)TBLPROPERTIES|RENAME\\s+TO|col\\(\"__batch\"\\)\\s*===".r
    val lines = for {
      f <- files(root) if f.getName.endsWith(".scala")
      (line, n) <- scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex
    } yield (f, s"${f.getPath}:${n + 1}: ${line.trim}", line)
    val hits = lines.collect {
      case (f, at, line) if f.getCanonicalFile != core &&
        forbidden.findFirstIn(line).nonEmpty => at
    }
    assert(hits.isEmpty, "catalog state or batch gate outside StoreTable:\n" +
      hits.mkString("\n"))
    // build parameters are set and validated through a kind's StoreSpec
    val sources = new java.io.File(root, "graft/sources").getCanonicalPath
    val propCalls = lines.collect {
      case (f, at, line) if !f.getCanonicalPath.startsWith(sources) &&
        (line.contains("StoreTable.setProps(") ||
          line.contains("StoreTable.checkProps(")) => at
    }
    assert(propCalls.isEmpty, "StoreTable.setProps/checkProps outside graft/sources:\n" +
      propCalls.mkString("\n"))
    val drivers = lines.collect { case (_, at, line) if line.contains(".foreachBatch {") => at }
    assert(drivers.length == 1, "one foreachBatch driver expected:\n" +
      drivers.mkString("\n"))
  }

  test("bucketSpec reads the catalog and fails by name on an unbucketed table") {
    try {
      Sources.writeBucketed(Seq((1L, "a")).toDF("k", "v"), "graft_st_b", "k", 5)
      assert(StoreTable.bucketSpec(spark, "graft_st_b") == ("k", 5))
      Seq((1L, "a")).toDF("k", "v").write.format("parquet")
        .saveAsTable("graft_st_plain")
      val e = intercept[IllegalArgumentException] {
        StoreTable.bucketSpec(spark, "graft_st_plain")
      }
      assert(e.getMessage.contains("graft_st_plain") &&
        e.getMessage.contains("not a store table"), e.getMessage)
    } finally Seq("graft_st_b", "graft_st_plain")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("swapIn heals a crashed swap of either staging name, keeps the bucket spec") {
    val t = "graft_st_swap"
    try {
      Seq("__merging", "__compacting").foreach { suffix =>
        Sources.writeBucketed(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t, "k", 3)
        // a crash between DROP and RENAME: only the staging table is left
        spark.sql(s"DROP TABLE IF EXISTS $t$suffix")
        spark.sql(s"CREATE TABLE $t$suffix USING parquet CLUSTERED BY (k) " +
          s"INTO 3 BUCKETS AS SELECT * FROM $t")
        spark.sql(s"DROP TABLE $t")
        StoreTable.swapIn(t, Sources.openStoreTable(spark, t).filter($"k" > 1L),
          Map("extra" -> 7))
        assert(spark.table(t).as[(Long, String)].collect().toSeq == Seq((2L, "b")))
        assert(StoreTable.bucketSpec(spark, t) == ("k", 3))
        // the crashed swap never re-applied its properties (the documented
        // caveat); this swap's own properties land
        assert(StoreTable.props(spark, t) == Map("extra" -> "7"))
        assert(!spark.catalog.tableExists(s"$t$suffix"))
        spark.sql(s"DROP TABLE $t")
      }
    } finally Seq(t, s"${t}__merging", s"${t}__compacting")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }
}
