package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every SparkEntry query timed at SPARK_GRAFT_SF_DIR.
  * The one-time lake fixture (load -> cluster -> merge -> cluster
  * of the transcript-ized events table) is built BEFORE the timed loop and
  * reported as its own `fixture_sec` metric — otherwise it lands on whichever
  * lake query happens to run first and mis-attributes ~10s of maintenance
  * work to a sub-second scan. Failures are never swallowed: a failing query
  * reports err (and time -1) instead of posing as a fast success.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftSparkExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tFix = System.nanoTime()
    LakeFixtures.forDir(spark, sfDir)
    LakeFixtures.dedupForDir(spark, sfDir) // q34's one-time dedupe pass
    LakeFixtures.dedupConvForDir(spark, sfDir) // q36's conversation-unit pass
    val fixtureSec = (System.nanoTime() - tFix) / 1e9

    def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\x00-\\x1f]", " ")

    val results = SparkEntry.queries.toVector.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val sec = (System.nanoTime() - t0) / 1e9
      (name, if (err.isEmpty) sec else -1.0, err)
    }
    val qs = results.map { case (k, v, _) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) => s"\"$k\":\"${esc(e)}\"" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, None) => v }.sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""errors":$errs,"fixture_sec":$fixtureSec,"n_failed":${results.count(_._3.nonEmpty)},"sf":"$sfDir"}""")
    spark.stop()
    if (results.exists(_._3.nonEmpty)) sys.exit(1)
  }
}
