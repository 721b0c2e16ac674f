package perfbench

/** Fingerprints saved query results, one parquet directory per query as
  * `graft.Verify` writes them, exactly as [[Harness.check]] fingerprints
  * live results. perfbench/record.py stores the output as the expected
  * values. Usage: Record <cpus> <resultDir> <query> [query ...]; prints one
  * JSON object per query. */
object Record {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(args(0))
    val read: Harness.QueryFn = (s, path) => s.read.parquet(path)
    for ((q, i) <- args.drop(2).zipWithIndex)
      println(Harness.check(spark, Some(read), q, s"${args(1)}/$q", i))
    spark.stop()
  }
}
