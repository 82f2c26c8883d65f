package graft.core

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one way a main (or the test base) builds its Spark session.
  *
  * Master: `spark.master` (a `-D` property or spark-submit's `--master`),
  * else the `MASTER` environment variable, else `SPARK_GRAFT_MASTER`, else
  * `local[cpus]`. Defaults, each set only where the caller has not set it
  * (`-Dspark…` and `--conf` win): `cpus` shuffle partitions, UTC session
  * time zone, no UI. The log level is WARN, with the "locally checkpointed
  * … cannot be recomputed" WARN that every expected release of a
  * [[Superstep]] checkpoint logs set to ERROR, so the log keeps the real
  * warnings. */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the number of processors the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def getOrCreate(cpus: Int = Session.cpus): SparkSession = {
    val master = sys.env.get("MASTER").orElse(sys.env.get("SPARK_GRAFT_MASTER"))
      .getOrElse(s"local[$cpus]")
    val conf = new SparkConf()
      .setIfMissing("spark.master", master)
      .setIfMissing("spark.app.name", "graft")
      .setIfMissing("spark.sql.shuffle.partitions", cpus.toString)
      .setIfMissing("spark.sql.session.timeZone", "UTC")
      .setIfMissing("spark.ui.enabled", "false")
    val spark = SparkSession.builder().config(conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    spark
  }
}
