package graft

import org.apache.spark.sql.SparkSession

/** The one local session every entry point, probe and spec runs on:
  * the fork-free local filesystem ([[graft.fs.FastLocalFs]]),
  * `local[cpus]` with as many shuffle partitions, UTC session time,
  * no UI. */
object Session {
  def local(cpus: Int): SparkSession =
    graft.fs.FastLocalFs.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
