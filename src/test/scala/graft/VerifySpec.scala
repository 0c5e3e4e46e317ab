package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {
  import TestSpark._

  test("a key that fails leaves no stale dump and is listed in verify_failed.json") {
    val out = Files.createTempDirectory("verify_spec").toString
    try {
      // a previous run's dump of the key that is about to fail
      spark.range(3).toDF("id").write.parquet(s"$out/q_bad")
      val bad: (SparkSession, String) => DataFrame =
        (_, _) => throw new IllegalStateException("plan \"build\" failed")
      val good: (SparkSession, String) => DataFrame =
        (s, _) => s.range(5).toDF("id")
      val failed = Verify.dumpAll(spark, sf0001, out, Seq("q_bad" -> bad, "q_good" -> good))
      assert(failed == Seq("q_bad"))
      assert(!Files.exists(Paths.get(out, "q_bad")), "stale dump of the failed key survived")
      assert(Files.readString(Paths.get(out, "verify_failed.json")) ==
        """[{"name":"q_bad","error":"java.lang.IllegalStateException",""" +
        """"message":"plan \"build\" failed"}]""")
      assert(spark.read.parquet(s"$out/q_good").count() == 5)
      // a clean rerun overwrites the good dump and records no failures
      assert(Verify.dumpAll(spark, sf0001, out, Seq("q_good" -> good)).isEmpty)
      assert(Files.readString(Paths.get(out, "verify_failed.json")) == "[]")
      assert(spark.read.parquet(s"$out/q_good").count() == 5)
    } finally graft.sinks.AliasedIndex.deleteRecursively(Paths.get(out))
  }
}
