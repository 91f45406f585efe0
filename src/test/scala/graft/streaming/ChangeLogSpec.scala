package graft.streaming

import java.nio.file.{Files, Path}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.core.{ModelDefinition, Registry}
import graft.crud.{CrudEngine, Records}
import graft.storage.ParquetBackend
import graft.tools.JobCount

class ChangeLogSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark

  private def models(names: String*): Seq[ModelDefinition] = {
    val dir = Files.createTempDirectory("log-models")
    names.foreach(n => Files.writeString(dir.resolve(s"$n.json"),
      s"""{"model_name":"$n","storage_type":"json",
         |"attributes":{"id":"Integer","name":"String"},
         |"primary_key":"id","required":["id"]}"""
        .stripMargin.replace("\n", "")))
    val reg = Registry.load(dir).toOption.get
    names.map(reg.lookup(_).toOption.get)
  }

  private def seqs(rows: Iterable[org.apache.spark.sql.Row]): Seq[Long] =
    rows.map(_.getAs[Long]("seq")).toSeq

  private def onDisk(log: ChangeLog): Seq[Long] =
    seqs(log.all().collect()).sorted

  test("the log runs no Spark job: append, a poll right after it, compact") {
    val Seq(movie) = models("movie")
    val log = new ChangeLog(spark,
      Files.createTempDirectory("jobs-log").resolve("log").toString)
    def rec(json: String) = Records.parseRecord(json, movie).toOption.get

    val (_, appendJobs) = JobCount(spark)(
      log.append(movie, "create", rec("""{"id":1,"name":"a"}""")))
    val (polled, pollJobs) = JobCount(spark)(log.eventsSince(0L))
    log.append(movie, "update", rec("""{"id":1,"name":"b"}"""))
    val (_, compactJobs) = JobCount(spark)(log.compact(2L))

    assert((appendJobs, pollJobs, compactJobs) == ((0, 0, 0)))
    assert(seqs(polled) == Seq(1L))
    // the fold kept the key's latest event, on disk and in the poll
    assert(onDisk(log) == Seq(2L))
    val after = log.eventsSince(0L)
    assert(seqs(after) == Seq(2L) &&
      after.head.getAs[String]("record").contains("\"name\":\"b\""))
  }

  test("appends from two models sharing one log: no failure, every seq " +
      "exactly once on disk and in the poll") {
    val Seq(movie, actor) = models("movie", "actor")
    val log = new ChangeLog(spark,
      Files.createTempDirectory("multi-log").resolve("log").toString)
    val engine = new CrudEngine(spark, new ParquetBackend(spark,
      Files.createTempDirectory("multi-store").toString, 4), Some(log))
    val threads = 4
    val perThread = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val results = try Await.result(Future.sequence((0 until threads).map { t =>
      val m = if (t % 2 == 0) movie else actor
      Future((0 until perThread).map { i =>
        Try(engine.createOne(m, s"""{"id":${t * 100 + i},"name":"n$i"}"""))
      })
    }), 300.seconds).flatten finally pool.shutdown()

    val failed = results.filter(r => r.isFailure || r.get.isLeft)
    assert(failed.isEmpty, failed)
    val n = threads * perThread
    assert(onDisk(log) == (1L to n))
    val polled = log.eventsSince(0L)
    assert(seqs(polled) == (1L to n))
    assert(polled.count(_.getAs[String]("model") == "movies") == n / 2)
  }

  test("a stale hidden temp file is invisible to readers and removed on reopen") {
    val Seq(movie) = models("movie")
    val logDir = Files.createTempDirectory("stale-log").resolve("log")
    val log = new ChangeLog(spark, logDir.toString)
    def append(l: ChangeLog, id: Int): Unit = l.append(movie, "create",
      Records.parseRecord(s"""{"id":$id,"name":"x"}""", movie).toOption.get)
    append(log, 1); append(log, 2)
    // what an append that died before its rename leaves behind
    val stale: Path = logDir.resolve(".00000000000000000003.parquet.tmp")
    Files.write(stale, "PAR1 truncated".getBytes)

    assert(onDisk(log) == Seq(1L, 2L))
    assert(seqs(log.eventsSince(0L)) == Seq(1L, 2L))
    val reopened = new ChangeLog(spark, logDir.toString)
    assert(!Files.exists(stale), "reopening removes the temp file")
    assert(seqs(reopened.eventsSince(0L)) == Seq(1L, 2L))
    append(reopened, 3)
    assert(onDisk(reopened) == Seq(1L, 2L, 3L))
  }
}
