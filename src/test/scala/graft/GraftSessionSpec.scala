package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("cores: unset takes every processor, a positive integer is " +
    "taken as is, anything else is rejected up front") {
    assert(GraftSession.cores(Map.empty) ===
      Runtime.getRuntime.availableProcessors)
    assert(GraftSession.cores(Map("SPARK_GRAFT_CPUS" -> "3")) === 3)
    Seq("0", "-2", "x", "", "1.5").foreach { v =>
      val ex = intercept[IllegalArgumentException] {
        GraftSession.cores(Map("SPARK_GRAFT_CPUS" -> v))
      }
      assert(ex.getMessage.contains("SPARK_GRAFT_CPUS"), ex.getMessage)
    }
  }

  test("jsonString: exact escapes; CJK passes through") {
    import Verify.jsonString
    assert(jsonString("a\"b") === "\"a\\\"b\"")
    assert(jsonString("a\\b") === "\"a\\\\b\"")
    assert(jsonString("a\nb\rc\td") === "\"a\\nb\\rc\\td\"")
    assert(jsonString("\u0001") === "\"\\u0001\"")
    assert(jsonString("\u001f") === "\"\\u001f\"")
    assert(jsonString("输入法 日志") === "\"输入法 日志\"")
  }

  test("jsonString round-trips through a JSON parser") {
    val mapper = new ObjectMapper()
    val samples = Seq("", "plain", "SELECT 'x'\n\tFROM t\r\n",
      "quote \" and back\\slash", (0 until 0x20).map(_.toChar).mkString,
      "选择 \u0000 \u007f end")
    samples.foreach { s =>
      assert(mapper.readValue(Verify.jsonString(s), classOf[String]) === s)
    }
    // the oracle_sql.json shape Verify writes
    val json = samples.zipWithIndex
      .map { case (s, i) => s"${Verify.jsonString(s"q$i")}: " +
        Verify.jsonString(s) }
      .mkString("{", ",", "}")
    val back = mapper.readTree(json)
    samples.zipWithIndex.foreach { case (s, i) =>
      assert(back.get(s"q$i").asText() === s)
    }
  }

  test("the shared test session carries the factory's policy") {
    val spark = SparkTestSession.spark
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get("spark.sql.shuffle.partitions") ===
      SparkTestSession.Cores.toString)
    assert(spark.sparkContext.master === s"local[${SparkTestSession.Cores}]")
    // the extension registers the engine's functions in every session
    // it builds: a fresh session has never seen GraftFunctions.register
    val fresh = spark.newSession()
    val sig = fresh.sql("SELECT minhash_sig(array('a', 'b', 'c'), 4, 2)")
      .head().getSeq[Long](0)
    assert(sig.length === 4)
  }

  test("SparkSession.builder appears once in the program: the factory") {
    val hits = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        "SparkSession\\.builder".r
          .findAllMatchIn(Files.readString(p)).map(_ => p.getFileName.toString)
      }.toSeq
    assert(hits === Seq("GraftSession.scala"))
  }
}
