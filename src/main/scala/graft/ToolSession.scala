package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession of the tool mains (Bench, Verify, GenScale,
  * Explain, Profile, ProfileMinhash and the Probe* mains), in the contract
  * config: `local[$SPARK_GRAFT_CPUS]` with as many shuffle partitions, the
  * UTC session time zone, TIMESTAMP(NANOS) parquet read as Long nanos
  * (`SparkEntry.rdEvents` converts them), no UI, and a temp managed-table
  * warehouse (store-backed queries otherwise write ./spark-warehouse, and a
  * second run dies on LOCATION_ALREADY_EXISTS). The
  * `SPARK_GRAFT_EXTRA_CONF` pairs apply on top. */
private[graft] object ToolSession {

  /** `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"`: a config A/B surface for local
    * tuning experiments only, never part of a contract draw (Bench echoes
    * the pairs into its JSON so an altered-config draw self-labels). A
    * malformed pair fails by name instead of with a destructuring
    * MatchError. */
  lazy val extraConf: Seq[(String, String)] =
    parseExtraConf(sys.env.get("SPARK_GRAFT_EXTRA_CONF"))

  private[graft] def parseExtraConf(spec: Option[String]): Seq[(String, String)] =
    spec.toSeq.flatMap(_.split(";").toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => (k, v)
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONF: malformed pair '$kv' (expected key=value)")
      }
    })

  /** the contract session. An altered config is announced on stderr, so
    * every tool's draw (not only Bench's JSON) shows it ran off-contract. */
  def start(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    if (extraConf.nonEmpty)
      System.err.println("SPARK_GRAFT_EXTRA_CONF applied (off-contract): " +
        extraConf.map { case (k, v) => s"$k=$v" }.mkString(";"))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
