package graft

/** Dev probe: run ccLabels on a dataset dir and print the BSP round count
  * (the empirical backing for the "min-label BSP converges in O(diameter)
  * rounds, flat across scale" claim in Dedup.scala / PERF.md).
  *
  * Usage: sbt "Test/runMain graft.CcProbe <sfDir>"
  */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", false)
      .config("spark.sql.legacy.parquet.nanosAsLong", true)
      .getOrCreate()
    System.err.println(s"[ccprobe] master=${spark.sparkContext.master}")
    val n = graft.ops.Dedup.ccLabels(spark, dir).count()
    println(s"CCPROBE dir=$dir labeled=$n rounds=${graft.ops.Dedup.lastCcRounds.get()}")
    spark.stop()
  }
}
