package graft.storage

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.core.{ModelDefinition, PrimValue}

/** Shared layout for file-format storage backends: one directory per
  * model, hash-bucketed by primary key into `_bucket=N`
  * subdirectories, atomic write-temp-then-swap per bucket. The format
  * (parquet, jsonl, ...) is a plug — the bucketing, atomicity, and
  * O(|table|/B) point-op I/O bound are format-independent, which is
  * the actual SPI claim ([[StorageBackend]]): backends differ in
  * bytes-on-disk, not in semantics.
  */
abstract class BucketedFileBackend(spark: SparkSession, root: String,
    buckets: Int, fmt: String, suffix: String) extends StorageBackend {

  private def modelDir(m: ModelDefinition): Path =
    Paths.get(root, m.modelName.pluralCamel)
  private def bucketDir(m: ModelDefinition, v: PrimValue): Path =
    modelDir(m).resolve(s"_bucket=${StorageBackend.bucketOf(v.raw, buckets)}")

  override def table(model: ModelDefinition): DataFrame = {
    val dirs = bucketDirs(model)
    if (dirs.isEmpty) StorageBackend.empty(spark, model)
    // schema pinned: partition-col inference off, read data columns only.
    // The bucket directories are passed as paths rather than as a
    // `_bucket=*` glob, whose metadata probe logs a stack trace per load.
    else spark.read.schema(model.schema).format(fmt)
      .load(dirs.map(_.toString): _*)
  }

  /** The model's `_bucket=N` directories in bucket order; empty if the
    * model has no directory. Temp directories (`.tmp-*`) are skipped. */
  private def bucketDirs(m: ModelDefinition): Seq[Path] = {
    val dir = modelDir(m)
    if (!Files.isDirectory(dir)) Nil
    else Using.resource(Files.list(dir))(_.iterator().asScala.filter { p =>
      p.getFileName.toString.startsWith("_bucket=") && Files.isDirectory(p)
    }.toVector).sortBy(_.getFileName.toString.stripPrefix("_bucket=").toInt)
  }

  /** The data files of one bucket directory in name order; empty if it
    * does not exist. Hidden (`.`) and marker (`_`) files are skipped,
    * as Spark's file index skips them. */
  private def dataFiles(bucket: Path): Seq[Path] =
    if (!Files.isDirectory(bucket)) Nil
    else Using.resource(Files.list(bucket))(_.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(suffix) && !n.startsWith(".") && !n.startsWith("_")
    }.toVector).sortBy(_.getFileName.toString)

  /** The data files of the bucket `v` maps to (see [[dataFiles]]). */
  protected def bucketFiles(m: ModelDefinition, v: PrimValue): Seq[Path] =
    dataFiles(bucketDir(m, v))

  /** Every data file of the model: buckets in numeric order, each
    * bucket's files in name order. */
  protected def tableFiles(m: ModelDefinition): Seq[Path] =
    bucketDirs(m).flatMap(dataFiles)

  override def slice(model: ModelDefinition, v: PrimValue): DataFrame =
    if (bucketFiles(model, v).isEmpty) StorageBackend.empty(spark, model)
    else spark.read.schema(model.schema).format(fmt)
      .load(bucketDir(model, v).toString)

  override def writeSlice(model: ModelDefinition, v: PrimValue,
      df: DataFrame): Unit = {
    val tmp = modelDir(model).resolve(s".tmp-${java.util.UUID.randomUUID()}")
    Files.createDirectories(modelDir(model))
    df.write.mode(SaveMode.Overwrite).format(fmt).save(tmp.toString)
    val target = bucketDir(model, v)
    deleteRecursively(target)
    Files.move(tmp, target)
  }

  override def overwrite(model: ModelDefinition, df: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    // codegen'd routing expression (dispatches on the pk column's Spark
    // type at planning time; semantics identical to driver-side bucketOf)
    val bucketCol = BucketRoute(col(model.primaryKey), buckets)
    val tmp = Paths.get(root, s".tmp-${java.util.UUID.randomUUID()}")
    df.withColumn("_bucket", bucketCol)
      .write.mode(SaveMode.Overwrite).partitionBy("_bucket")
      .format(fmt).save(tmp.toString)
    val target = modelDir(model)
    deleteRecursively(target)
    Files.createDirectories(target.getParent)
    Files.move(tmp, target)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Using.resource(Files.walk(p))(_.sorted(Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete))
}

/** Human-readable line-per-record store (the modern spelling of gus's
  * JSON heritage): each bucket is JSONL files, read back under the
  * model's pinned schema so types survive the round-trip. */
final class JsonlBackend(spark: SparkSession, root: String,
    buckets: Int = 64)
  extends BucketedFileBackend(spark, root, buckets, "json", ".json")
