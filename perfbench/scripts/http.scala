// interval: PT1M
// HTTP enrichment job: the http_get_echo entry against the embedded server.
(spark: SparkSession) => {
  val out = "__OUT__/http_get_echo"
  graft.SparkEntry.queries("http_get_echo")(spark, "__DATA__")
    .write.mode("overwrite").parquet(out)
  spark.read.parquet(out).count()
}
