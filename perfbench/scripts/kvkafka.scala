// interval: PT1M
// KV lookup then Kafka push and read-back: kv_get_enrich + kf_push_roundtrip.
(spark: SparkSession) => {
  val kv = "__OUT__/kv_get_enrich"
  val kf = "__OUT__/kf_push_roundtrip"
  graft.SparkEntry.queries("kv_get_enrich")(spark, "__DATA__")
    .write.mode("overwrite").parquet(kv)
  graft.SparkEntry.queries("kf_push_roundtrip")(spark, "__DATA__")
    .write.mode("overwrite").parquet(kf)
  s"${spark.read.parquet(kv).count()},${spark.read.parquet(kf).count()}"
}
