package graft

/** Dev tool: median-of-3 wall time for the named queries only —
  * the per-query iteration loop of [[Bench]] without paying for the
  * whole suite. `sbt "runMain graft.BenchOne ann_ivf knn_search"`.
  * Same session config as Bench so numbers are comparable. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.envCpus)
    spark.range(1000000).selectExpr("sum(id)").collect()
    args.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name median=${times.sorted.apply(1)}%.3f min=${times.min}%.3f")
    }
    spark.stop()
  }
}
