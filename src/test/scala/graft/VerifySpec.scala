package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

class VerifySpec extends SparkSpec {
  test("dump writes the passing query and records exactly the throwing one") {
    val out = Files.createTempDirectory("graft-verify").toString
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "good" -> ((s, _) => s.range(3).toDF("x")),
      "bad" -> ((_, _) => throw new IllegalStateException("boom \"quoted\"\n")))
    assert(Verify.dump(spark, "unused", out, queries) == Seq("bad"))

    assert(spark.read.parquet(s"$out/good").count() == 3)
    assert(!Files.exists(Paths.get(out, "bad")))
    val JArray(failures) =
      JsonMethods.parse(Files.readString(Paths.get(out, "failures.json")))
    assert(failures == List(JObject(
      "query" -> JString("bad"),
      "exception" -> JString("java.lang.IllegalStateException"),
      "message" -> JString("boom \"quoted\"\n"))))
  }

  test("dump writes an empty failure record when every query passes") {
    val out = Files.createTempDirectory("graft-verify").toString
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "good" -> ((s, _) => s.range(1).toDF("x")))
    assert(Verify.dump(spark, "unused", out, queries).isEmpty)
    assert(JsonMethods.parse(Files.readString(Paths.get(out, "failures.json"))) ==
      JArray(Nil))
  }
}
