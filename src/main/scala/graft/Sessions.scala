package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The session factory of the launchable mains (`RunConf`, `RunPipeline`).
  *
  * The master is set in code only when the launch left `spark.master`
  * unset, so spark-submit's `--master` (or `-Dspark.master=…`) wins; a
  * plain `runMain` gets `local[SPARK_GRAFT_CPUS]`. The engine's optimizer
  * rules are always installed, so these mains run the plans the specs pin.
  */
object Sessions {
  def build(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // SparkConf() reads the spark.* system properties spark-submit sets
    defaultMaster(new SparkConf(), cpus).foreach(builder.master)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.installRules(spark)
    spark
  }

  /** The master to set in code: none when the launch already chose one. */
  private[graft] def defaultMaster(launch: SparkConf, cpus: String): Option[String] =
    if (launch.contains("spark.master")) None else Some(s"local[$cpus]")
}
