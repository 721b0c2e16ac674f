package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of the tool mains (Bench, Verify, Profile,
  * Explain, Scaling, GenData, PlanLedger): `local[cpus]` with as many
  * shuffle partitions as cores, UTC, no UI, WARN logging. `aqe = false`
  * gives the static plans PlanLedger is defined against. */
object Session {
  def local(cpus: String, aqe: Boolean = true): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
