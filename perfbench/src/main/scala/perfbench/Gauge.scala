package perfbench

import org.apache.spark.sql.functions._

/** A fixed plain-Spark job that runs no engine code: 100,000 generated
  * rows with a SHA-256 column written as four Parquet files, read back and
  * aggregated through a shuffle. On a shared host the CPU time of the same
  * work moves with the neighbours (on the same physical cores and memory)
  * by a third or more within minutes; the gauge moves with it and not with
  * the engine, so dividing the workloads' CPU times by its median in the
  * run takes the host's speed out of the gated numbers. */
object Gauge {
  /** The gauge's CPU time on the reference host: the gated times are CPU
    * times scaled to a host on which one gauge run costs this much. */
  val RefMs = 900.0

  /** Runs the gauge once; its CPU time (ms) over the JVM's Java threads. */
  def run(c: Ctx): Double = {
    val spark = c.spark
    val dir = c.work.resolve("gauge").toString
    val cpu0 = Jvm.cpuNs
    spark.range(0, 100000, 1, Main.Cores)
      .selectExpr("id", "id % 97 as k", "sha2(cast(id as string), 256) as h")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).groupBy("k").agg(count(lit(1)), max("h")).collect()
    (Jvm.cpuNs - cpu0) / 1e6
  }
}
