package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.Multimodal

/** The ingest twins share one restart recipe ([[Ingest]]): a corrupt
  * durable partition raises in every twin instead of silently
  * resetting its state, and the recipe's stream start, fresh-start
  * check and per-batch write live only in `Ingest.scala`. */
class IngestSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  /** A fresh directory holding `rows` as one parquet landing file. */
  private def landing(rows: Seq[Row], schema: StructType): String = {
    val dir = Files.createTempDirectory("ingest-landing").toString
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/b0")
    s"$dir/*"
  }

  /** A fresh output directory whose one `batch_id=0` partition holds
    * a file that is not parquet. */
  private def corruptOut(): String = {
    val out = Files.createTempDirectory("ingest-corrupt").toString
    val part = Files.createDirectory(Paths.get(out, "batch_id=0"))
    Files.write(part.resolve("part-00000.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    out
  }

  private def emptyOf(schema: StructType): DataFrame =
    spark.createDataFrame(java.util.List.of[Row](), schema)

  private val text = (0 until 20).map(j => s"w$j").mkString(" ")
  private def docs = landing(Seq(Row(1L, text, "en", "src", 40L)),
    DocIngest.docSchema)

  test("a corrupt batch_id= partition raises in every twin instead of " +
      "resetting its state") {
    val imgs = landing(Seq(Row(1L, Multimodal.phashPngBytes(10L, 0))),
      PhashIngest.imgSchema)
    val shardDocs = landing(Seq(Row(1L, "en", 20L)), ShardIngest.docSchema)
    val fresh = () => Files.createTempDirectory("ingest-fresh").toString
    val twins: Seq[(String, () => StreamingQuery)] = Seq(
      "DocIngest" -> (() => DocIngest.incrementalDedup(spark,
        emptyOf(DocIngest.docSchema), docs, corruptOut())),
      "PhashIngest" -> (() => PhashIngest.incrementalPhashDedup(spark,
        emptyOf(PhashIngest.imgSchema), imgs, corruptOut())),
      "ParaIngest" -> (() => ParaIngest.incrementalParaDedup(spark, docs,
        corruptOut())),
      "CurationIngest verdicts" -> (() => CurationIngest.curateAndShard(
        spark, emptyOf(DocIngest.docSchema), docs, corruptOut(), fresh())),
      "CurationIngest shards" -> (() => CurationIngest.curateAndShard(
        spark, emptyOf(DocIngest.docSchema), docs, fresh(), corruptOut())),
      "ShardIngest" -> (() => ShardIngest.incrementalShardLayout(spark,
        shardDocs, corruptOut())))
    for ((name, run) <- twins)
      withClue(s"$name: ") {
        // raised at start (index seeding) or by the first batch (tails)
        intercept[Exception](run().awaitTermination(120000))
      }
  }

  test("the stream start, fresh-start check and per-batch write live " +
      "only in the shared ingest helper") {
    val recipe = Seq(raw"\.foreachBatch\b", "\"checkpointLocation\"",
      "\"batch_id=\"", "partitionOverwriteMode",
      raw"spark\.readStream\b").map(_.r)
    val helper = Paths.get("src/main/scala/graft/streaming/Ingest.scala")
    val files: Seq[Path] = {
      val s = Files.walk(Paths.get("src/main"))
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
    def hits(f: Path) = for {
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex.toSeq
      r <- recipe if r.findFirstIn(line).nonEmpty
    } yield (r.regex, s"$f:${i + 1}")
    assert(files.contains(helper))
    assert(hits(helper).map(_._1).sorted === recipe.map(_.regex).sorted,
      "each recipe piece appears exactly once in the helper")
    val elsewhere = files.filter(_ != helper).flatMap(hits)
    assert(elsewhere.isEmpty, "read file streams, start streams, check " +
      "for a fresh start and write batches through graft.streaming.Ingest: " +
      elsewhere.map(_._2).mkString(", "))
  }
}
