package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

class VerifySpec extends SparkSpec {

  private def errors(out: String): Map[String, Map[String, String]] =
    new ObjectMapper().readTree(Paths.get(out, "verify_errors.json").toFile)
      .properties().asScala.map { e =>
        e.getKey -> e.getValue.properties().asScala.map(f => f.getKey -> f.getValue.asText).toMap
      }.toMap

  test("a query that throws is recorded in verify_errors.json; the others still dump") {
    val out = Files.createTempDirectory("graft_verify").toString
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF("id")
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("boom \"quoted\"\n\tnext line")
    Verify.dump(spark, sf("sf0.001"), out, Seq("first_ok" -> ok, "thrower" -> boom, "last_ok" -> ok))

    assert(spark.read.parquet(s"$out/first_ok").count() == 3)
    assert(spark.read.parquet(s"$out/last_ok").count() == 3)
    assert(!Files.exists(Paths.get(out, "thrower")))
    assert(errors(out) == Map("thrower" -> Map(
      "class" -> "java.lang.IllegalStateException", "message" -> "boom \"quoted\"\n\tnext line")))
  }

  test("verify_errors.json is an empty object when nothing failed") {
    val out = Files.createTempDirectory("graft_verify_ok").toString
    Verify.dump(spark, sf("sf0.001"), out, Seq("only" -> ((s: SparkSession, _: String) => s.range(1).toDF())))
    assert(Files.readString(Paths.get(out, "verify_errors.json")) == "{}")
  }
}
