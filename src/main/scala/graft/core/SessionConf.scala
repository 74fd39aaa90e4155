package graft.core

import org.apache.spark.sql.SparkSession

/** Scoped session-conf overrides and the input-sized shuffle width shared by
  * every dedup lane. */
object SessionConf {

  final val ShufflePartitions = "spark.sql.shuffle.partitions"
  final val AdaptiveEnabled = "spark.sql.adaptive.enabled"
  final val AutoBroadcastThreshold = "spark.sql.autoBroadcastJoinThreshold"

  /** Run `body` with each key set to its value, then restore every key —
    * its previous value when it had one, unset when it was absent — also
    * when `body` throws. The overrides are session-global: the caller must
    * own the session while `body` runs. */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Shuffle width sized to the INPUT, not the session:
    * `max(2, min(session, rows/2000 + 1))`. At 5k rows a 32-partition
    * session turns a ~40-job pipeline into thousands of near-empty tasks
    * whose fixed scheduling/deserialize cost dwarfs the work (measured: 5k
    * docs took 71 task-CPU seconds, almost all overhead); at production row
    * counts the clamp is a no-op and the session's own sizing wins. Results
    * are partitioning-independent (checksum-gated), so the clamp only
    * changes wall time. */
  def inputPartitions(spark: SparkSession, rows: Long): Int =
    math.max(2L, math.min(spark.conf.get(ShufflePartitions).toLong, rows / 2000L + 1L)).toInt
}
