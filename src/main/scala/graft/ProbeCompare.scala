package graft

/** Scale-probe recall check: run two [[SparkEntry.queries]] entries on the
  * same sf dir and report row counts plus the multiset difference A∖B —
  * the tool behind BASELINE.md's "the capped profile drops N true pairs at
  * 30×" claims, where the DuckDB oracle can't reach (the GenScale corpora
  * are far past the correctness SFs, and ground-truth all-pairs SQL at
  * 150k docs is days of DuckDB time).
  *
  * Usage: runMain graft.ProbeCompare <queryA> <queryB> <sfDir> [keyCols]
  * keyCols defaults to all common columns; pass a comma list to compare on
  * a projection (e.g. id_a,id_b to ignore a score column).
  */
object ProbeCompare {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ProbeCompare <queryA> <queryB> <sfDir> [keyCols]")
    val Array(qa, qb, dir) = args.take(3)
    Seq(qa, qb).foreach(q => require(SparkEntry.queries.contains(q),
      s"unknown query '$q' — pick from SparkEntry.queries " +
        s"(${SparkEntry.queries.keys.toSeq.sorted.take(5).mkString(", ")}, ...)"))
    val spark = ToolSession.start()
    val a = SparkEntry.queries(qa)(spark, dir)
    val b = SparkEntry.queries(qb)(spark, dir)
    val keys =
      if (args.length >= 4) args(3).split(",").toSeq
      else a.columns.toSeq.intersect(b.columns.toSeq)
    require(keys.nonEmpty,
      s"no common columns between $qa (${a.columns.mkString(",")}) and " +
        s"$qb (${b.columns.mkString(",")}) — pass explicit keyCols")
    val missing = keys.filterNot(k => a.columns.contains(k) && b.columns.contains(k))
    require(missing.isEmpty,
      s"keyCols ${missing.mkString(",")} absent from one side " +
        s"($qa: ${a.columns.mkString(",")}; $qb: ${b.columns.mkString(",")})")
    val pa = a.select(keys.head, keys.tail: _*).localCheckpoint()
    val pb = b.select(keys.head, keys.tail: _*).localCheckpoint()
    val onlyA = pa.exceptAll(pb).count()
    val onlyB = pb.exceptAll(pa).count()
    import JsonUtil.{quote => q}
    println(s"""{"probe_compare":{"a":${q(qa)},"b":${q(qb)},"dir":${q(dir)},""" +
      s""""rows_a":${pa.count()},"rows_b":${pb.count()},""" +
      s""""only_a":$onlyA,"only_b":$onlyB,"keys":${q(keys.mkString(","))}}}""")
    spark.stop()
  }
}
