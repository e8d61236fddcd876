package graft.connectors

import org.apache.spark.sql.functions._
import graft.SparkSpec

class KvSpec extends SparkSpec {
  import spark.implicits._

  private def freshFactory(name: String): InMemoryKv.Factory = {
    InMemoryKv.clear(name)
    InMemoryKv.Factory(name)
  }

  test("set/get/del roundtrip and mget with missing keys") {
    val f = freshFactory("kv-rt")
    val c = f.open()
    assert(c.set("a", "1") === "OK")
    assert(c.get("a") === "1")
    assert(c.get("nope") === null)
    assert(c.mget(Seq("a", "nope")) === Seq("1", null))
    assert(c.del(Seq("a", "nope")) === 1L)
    assert(c.get("a") === null)
  }

  test("set5 NX only creates, XX only overwrites (reference jd_set5)") {
    val f = freshFactory("kv-nx")
    val c = f.open()
    assert(c.set5("k", "v1", "NX", null, 0) === "OK")
    assert(c.set5("k", "v2", "NX", null, 0) === null) // exists -> NX fails
    assert(c.get("k") === "v1")
    assert(c.set5("k", "v3", "XX", null, 0) === "OK")
    assert(c.get("k") === "v3")
    assert(c.set5("other", "x", "XX", null, 0) === null) // missing -> XX fails
  }

  test("set5 PX expiry: key vanishes after its ttl") {
    val f = freshFactory("kv-ttl")
    val c = f.open()
    assert(c.set5("t", "v", null, "PX", 60) === "OK")
    assert(c.get("t") === "v")
    Thread.sleep(80)
    assert(c.get("t") === null)
  }

  test("keys glob patterns (reference jd_keys)") {
    val f = freshFactory("kv-glob")
    val c = f.open()
    c.mset(Seq("user:1" -> "a", "user:2" -> "b", "item:1" -> "c"))
    assert(c.keys("user:*") === Seq("user:1", "user:2"))
    assert(c.keys("user:?") === Seq("user:1", "user:2"))
    assert(c.keys("*:1") === Seq("item:1", "user:1"))
    assert(c.keys("nope*") === Seq.empty)
  }

  test("withGet appends ret per row via partition-scoped client") {
    val f = freshFactory("kv-df")
    Kv.seed(f, Seq("k:1" -> "one", "k:2" -> "two"))
    val out = Kv.withGet(
        Seq(1, 2, 3).toDF("id").repartition(2),
        concat(lit("k:"), col("id")), f)
      .orderBy("id").as[(Int, String)].collect()
    assert(out === Array((1, "one"), (2, "two"), (3, null)))
  }

  test("withMSet writes map and array<struct<k,v>> pairs, read back by " +
      "withMGet; a null pairs value gives a null ret (reference jd_mset)") {
    val f = freshFactory("kv-mset")
    def mset(pairsSql: String): Array[(Int, String)] =
      Kv.withMSet(
          spark.sql(s"SELECT 1 AS id, $pairsSql AS pairs UNION ALL SELECT 2, NULL"),
          col("pairs"), f)
        .select("id", "ret").orderBy("id").as[(Int, String)].collect()
    assert(mset("map('m:1', 'a', 'm:2', 'b')") === Array((1, "OK"), (2, null)))
    assert(mset("array(named_struct('k', 's:1', 'v', 'x'), " +
      "named_struct('k', 's:2', 'v', 'y'))") === Array((1, "OK"), (2, null)))
    val got = Kv.withMGet(Seq(1).toDF("id"),
        array(Seq("m:1", "m:2", "s:1", "s:2", "nope").map(lit): _*), f)
      .select("ret").as[Seq[String]].head()
    assert(got === Seq("a", "b", "x", "y", null))
  }

  test("keys generator returns a sorted dataset of matches") {
    val f = freshFactory("kv-gen")
    Kv.seed(f, Seq("a:1" -> "x", "a:2" -> "y", "b:1" -> "z"))
    assert(Kv.keys(spark, f, "a:*").as[String].collect() === Array("a:1", "a:2"))
  }
}
