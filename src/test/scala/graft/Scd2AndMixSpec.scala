package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, TextAnalysis}
import graft.sources.{Sources, StoreTable}

class Scd2AndMixSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hist0 = Sources.scd2Init(
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), 0L)

  test("scd2Merge: close + reopen version chains; delete closes only") {
    val delta1 = Seq((2L, "b2", "upsert"), (3L, null, "delete"),
      (4L, "d", "upsert")).toDF("id", "v", "op")
    val h1 = Sources.scd2Merge(hist0, delta1, "id", 1L)
    val rows = h1.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(rows == Set(
      (1L, "a", 0L, -1L),  // untouched, still open
      (2L, "b", 0L, 1L), (2L, "b2", 1L, -1L), // closed + reopened
      (3L, "c", 0L, 1L),   // deleted: closed, no new version
      (4L, "d", 1L, -1L))) // fresh insert
  }

  test("scd2SnapshotAsOf reconstructs every historical state") {
    val delta1 = Seq((2L, "b2", "upsert"), (3L, null, "delete"))
      .toDF("id", "v", "op")
    val delta2 = Seq((3L, "c3", "upsert"), (1L, null, "delete"))
      .toDF("id", "v", "op")
    val h = Sources.scd2Merge(
      Sources.scd2Merge(hist0, delta1, "id", 1L), delta2, "id", 2L)
    def state(b: Long) = Sources.scd2SnapshotAsOf(h, b).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(state(0L) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(state(1L) == Set((1L, "a"), (2L, "b2")))
    assert(state(2L) == Set((2L, "b2"), (3L, "c3")))
    // far future == current
    assert(state(99L) == Set((2L, "b2"), (3L, "c3")))
  }

  test("scd2SnapshotAsOf(current) ≡ mergeSnapshot chain result") {
    val delta1 = Seq((2L, "b2", "upsert"), (3L, null, "delete"))
      .toDF("id", "v", "op")
    val viaScd2 = Sources.scd2SnapshotAsOf(
      Sources.scd2Merge(hist0, delta1, "id", 1L), 1L)
    val viaMerge = Sources.mergeSnapshot(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), delta1, "id")
    assert(viaScd2.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      viaMerge.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
  }

  test("scd2Merge rejects unknown op values") {
    val bad = Seq((2L, "x", "replace")).toDF("id", "v", "op")
    // guard moved in-plan (raise_error on the close-join's build side):
    // same loud failure, now at action time with zero eager driver actions
    val e = intercept[Exception] {
      Sources.scd2Merge(hist0, bad, "id", 1L).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    assert(chain(e).contains("replace"))
  }

  test("scd2MergeIntoStore: bucketed table round-trips the merge") {
    Sources.writeBucketed(hist0, "graft_test_scd2", "id", 2)
    val delta = Seq((2L, "b2", "upsert"), (5L, "e", "upsert"))
      .toDF("id", "v", "op")
    Sources.scd2MergeIntoStore(spark, "graft_test_scd2", delta, "id", 1L)
    val cur = Sources.scd2SnapshotAsOf(spark.table("graft_test_scd2"), 1L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(cur == Set((1L, "a"), (2L, "b2"), (3L, "c"), (5L, "e")))
    spark.sql("DROP TABLE graft_test_scd2")
  }

  test("recoverStoreSwap: crash between DROP and RENAME is repaired on open") {
    val t = "graft_test_scd2_crash"
    Sources.writeBucketed(hist0, t, "id", 2)
    val delta = Seq((2L, "b2", "upsert")).toDF("id", "v", "op")
    // simulate scd2MergeIntoStore dying between its two catalog calls:
    // stage the merge, DROP the base, never RENAME
    Sources.writeBucketed(
      Sources.scd2Merge(spark.table(t), delta, "id", 1L).localCheckpoint(),
      s"${t}__merging", "id", 2)
    spark.sql(s"DROP TABLE $t")
    assert(!spark.catalog.tableExists(t), "raw catalog sees the store lost")
    // opening through the recovery check restores the COMMITTED merge
    val cur = Sources.scd2SnapshotAsOf(Sources.openStoreTable(spark, t), 1L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(cur == Set((1L, "a"), (2L, "b2"), (3L, "c")))
    // idempotent: healthy store → no-op
    assert(!StoreTable.recoverStoreSwap(spark, t))
    // and the next maintenance pass runs clean after a recovery
    Sources.scd2MergeIntoStore(spark, t,
      Seq((5L, "e", "upsert")).toDF("id", "v", "op"), "id", 2L)
    val cur2 = Sources.scd2SnapshotAsOf(spark.table(t), 2L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(cur2 == Set((1L, "a"), (2L, "b2"), (3L, "c"), (5L, "e")))
    spark.sql(s"DROP TABLE $t")
  }

  test("recoverStoreSwap: crash BEFORE the drop leaves the base authoritative") {
    val t = "graft_test_merge_crash"
    Sources.writeBucketed(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t, "id", 2)
    // a staging table from a run that died before its DROP is an
    // UNCOMMITTED rewrite: recovery must leave the base alone...
    Sources.writeBucketed(Seq((1L, "garbage")).toDF("id", "v"),
      s"${t}__merging", "id", 2)
    assert(!StoreTable.recoverStoreSwap(spark, t))
    assert(Sources.openStoreTable(spark, t).count() == 2)
    // ...and the next merge discards it and applies cleanly
    Sources.mergeIntoStore(spark, t,
      Seq((2L, "b2", "upsert")).toDF("id", "v", "op"), "id")
    val cur = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(cur == Set((1L, "a"), (2L, "b2")))
    spark.sql(s"DROP TABLE $t")
  }

  test("corpusMixReport: shares sum to 1, counts match") {
    val docs = Seq(
      ("s1", "en", "one two three"),
      ("s1", "en", "four"),
      ("s2", "de", "eins  zwei")).toDF("source", "lang", "text")
    val out = TextAnalysis.corpusMixReport(docs, Seq("source", "lang"),
      "text").collect()
    val m = out.map(r => (r.getString(0), r.getString(1)) ->
      ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(m(("s1", "en")) == ((2L, 4L, 0.666667, 0.666667)))
    assert(m(("s2", "de")) == ((1L, 2L, 0.333333, 0.333333)))
  }

  test("seriesAnomalies: a silent day on a steady key is flagged") {
    // key x: 4 events/day on days 1,2,4,5 — day 3 silent (count 0)
    val rows = for {
      day <- Seq(1, 2, 4, 5); i <- 1 to 4
    } yield (day * 10L + i, java.sql.Timestamp.valueOf(
      f"2024-01-0$day 10:0$i:00"), 1L, "x")
    val df = rows.toDF("event_id", "ts", "user_id", "event_type")
    val out = Analytics.seriesAnomalies(df, "event_type", "ts", k = 2.0)
      .collect().map(r => r.getLong(1) -> r.getBoolean(5)).toMap
    assert(out.size == 5) // dense: the silent day is present
    val anomalous = out.filter(_._2).keys.toSet
    assert(anomalous == Set(19725L)) // 2024-01-03, the zero day
  }

  test("fuzzyJoin: in-block near-matches found, cross-block never compared") {
    import org.apache.spark.sql.functions.{col, substring}
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamme"),   // 1 edit from doc 1, same block 'alph'
      (3L, "alpha XXXX YYYY"),    // same block, 8 edits from doc 1
      (4L, "blpha beta gamma")    // 1 edit from doc 1 but block 'blph'
    ).toDF("doc_id", "text")
    val out = TextAnalysis.fuzzyJoin(docs, "doc_id", col("text"),
        substring(col("text"), 1, 4), maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 2L, 1L)))
    // widen the distance: the in-block far pair appears, doc 4 never does
    val wide = TextAnalysis.fuzzyJoin(docs, "doc_id", col("text"),
        substring(col("text"), 1, 4), maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("fuzzyJoin: keyLen truncation bounds the verify") {
    import org.apache.spark.sql.functions.{col, lit}
    val docs = Seq(
      (1L, "same-prefix-here tail A"),
      (2L, "same-prefix-here tail completely different Z")
    ).toDF("doc_id", "text")
    // truncated to the shared 16-char prefix the pair is identical
    val out = TextAnalysis.fuzzyJoin(docs, "doc_id", col("text"),
        lit("b"), maxDist = 0, keyLen = 16).collect()
    assert(out.length == 1 && out.head.getLong(2) == 0L)
  }
}
