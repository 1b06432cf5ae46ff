package perfbench

import org.apache.spark.sql.SparkSession

/** The pinned session recipe: `graft.Bench.buildSession` plus the two
  * system properties the root build's `javaOptions` give every forked
  * main (`spark.ui.enabled`, `spark.sql.session.timeZone`). The launcher
  * passes those two as `-D` flags, so the live session must carry
  * exactly this configuration; [[check]] refuses to measure anything
  * else.
  */
object Session {

  def recipe(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.extensions" -> "org.apache.spark.sql.graft.GraftExtensions",
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.allowJoinKeysSubsetOfPartitionKeys.enabled" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.ui.enabled" -> "false",
    "spark.ui.showConsoleProgress" -> "false")

  /** Set by the launcher as system properties, as the root build does. */
  val jvmProps: Seq[(String, String)] = Seq(
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC")

  /** Keys Spark fills in itself at session start. */
  private val sparkDerived = Set("spark.sql.warehouse.dir")

  def build(cpus: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
    recipe(cpus).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Throws unless the live session is exactly the recipe: same master,
    * every recipe key at its value, no other `spark.sql.*` key set
    * explicitly, and the graft extensions actually loaded. */
  def check(spark: SparkSession, cpus: Int): Unit = {
    val problems = Seq.newBuilder[String]
    val master = spark.sparkContext.master
    if (master != s"local[$cpus]") problems += s"master is $master, want local[$cpus]"
    val want = (recipe(cpus) ++ jvmProps).toMap
    want.foreach { case (k, v) =>
      val got = spark.conf.getOption(k)
      if (!got.contains(v)) problems += s"$k is ${got.getOrElse("<unset>")}, want $v"
    }
    val extraSql = spark.sparkContext.getConf.getAll.collect {
      case (k, v) if k.startsWith("spark.sql.") && !want.contains(k) &&
        !sparkDerived.contains(k) => s"$k=$v"
    }
    if (extraSql.nonEmpty) problems += s"unexpected settings: ${extraSql.sorted.mkString(", ")}"
    if (!spark.catalog.functionExists("simhash64"))
      problems += "GraftExtensions not loaded (simhash64 is not registered)"
    val found = problems.result()
    if (found.nonEmpty)
      throw new IllegalStateException(
        "session does not match the pinned recipe: " + found.mkString("; "))
  }
}
