package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `Sessions.local` is the one place a session is built: the shared
  * test session comes from it with the settings every entry point
  * relies on, and no source file builds a session by hand. */
class SessionsSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("the shared test session is Sessions.local(4) with the local " +
      "defaults: UTC, nanosAsLong, 600s network timeout, one shuffle " +
      "partition per core, no UI, AQE on") {
    assert(Sessions.local(4) eq spark)
    val sc = spark.sparkContext
    assert(sc.appName === "graft")
    assert(sc.master === "local[4]")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "4096")
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") === "false")
    assert(sc.getConf.get("spark.network.timeout") === "600s")
    assert(spark.conf.get("spark.sql.shuffle.partitions") ===
      sc.defaultParallelism.toString)
    assert(sc.defaultParallelism === 4)
    assert(sc.getConf.get("spark.ui.enabled") === "false")
    assert(sc.uiWebUrl.isEmpty)
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
  }

  test("no source file but Sessions.scala builds a SparkSession") {
    val builder = raw"SparkSession\s*\.\s*builder\b".r
    val allowed = Paths.get("src/main/scala/graft/Sessions.scala")
    def files(root: String): Seq[Path] = {
      val s = Files.walk(Paths.get(root))
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
    val hits = for {
      f <- files("src/main") ++ files("src/test") if f != allowed
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if builder.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}"
    assert(files("src/main").contains(allowed))
    assert(hits.isEmpty, "build sessions through Sessions.local, not by hand: " +
      hits.mkString(", "))
  }
}
