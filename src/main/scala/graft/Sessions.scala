package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe every main uses. */
object Sessions {

  /** Parallelism for the mains: SPARK_GRAFT_CPUS, else every core the JVM
    * sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[parallelism]` unless a launcher already set `spark.master`
    * (spark-submit's --master keeps its cluster), with
    * `shuffle.partitions = parallelism`. */
  def local(parallelism: Int): SparkSession = {
    val b = SparkSession.builder()
    if (!new SparkConf().contains("spark.master"))
      b.master(s"local[$parallelism]")
    val s = b
      .config("spark.sql.shuffle.partitions", parallelism)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC") // NTZ↔epoch reinterpretation (q24)
      // sandbox tables are tiny (MBs); the default 128 MB maxPartitionBytes
      // bin-packs them into ~4 splits and caps scan parallelism at 4 tasks
      // regardless of cores. 100 TB inputs have the opposite problem — there
      // this knob sizes partitions to fit executor memory (SURVEY.md §4).
      .config("spark.sql.files.maxPartitionBytes", "131072")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
