package graft.storage

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.io.LocalInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.StructType

import graft.core.{AttrType, ModelDefinition, PrimValue, PrimitiveType}

/** Canonical store: one directory per model, hash-bucketed by primary
  * key into `_bucket=N` subdirectories.
  *
  * Replaces gus's single-file JSON store (whole-file read + whole-file
  * rewrite per request, `json/mod.rs:45-80`) with a layout where a
  * point op touches exactly one bucket directory and a point write
  * rewrites one bucket atomically (write-temp-then-swap). With B
  * buckets, point ops are O(|table|/B); at cluster scale B is sized so
  * a bucket fits in one executor's working set.
  *
  * Serving reads bypass Spark: files are read on the calling thread
  * through parquet-hadoop, with no Hadoop `FileSystem` and no job.
  * A point read (`lookup`) opens the one bucket's files with a
  * pk-equality filter that skips row groups whose statistics exclude
  * the key, and stops at the first hit; a whole-table read (`rows`,
  * GraphQL readMany) opens every bucket's files with the requested
  * columns as the read schema, so Parquet decodes no other column.
  * `table` and writes stay DataFrames.
  */
final class ParquetBackend(spark: SparkSession, root: String,
    buckets: Int = 64) extends StorageBackend {

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
    else spark.read.schema(model.schema).parquet(dirs.map(_.toString): _*)
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
      n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    }.toVector).sortBy(_.getFileName.toString)

  /** The data files of the bucket `v` maps to (see [[dataFiles]]). */
  private def bucketFiles(m: ModelDefinition, v: PrimValue): Seq[Path] =
    dataFiles(bucketDir(m, v))

  override def slice(model: ModelDefinition, v: PrimValue): DataFrame =
    if (bucketFiles(model, v).isEmpty) StorageBackend.empty(spark, model)
    else spark.read.schema(model.schema).parquet(bucketDir(model, v).toString)

  override def writeSlice(model: ModelDefinition, v: PrimValue,
      df: DataFrame): Unit = {
    val tmp = modelDir(model).resolve(s".tmp-${java.util.UUID.randomUUID()}")
    Files.createDirectories(modelDir(model))
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
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
      .parquet(tmp.toString)
    val target = modelDir(model)
    deleteRecursively(target)
    Files.createDirectories(target.getParent)
    Files.move(tmp, target)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Using.resource(Files.walk(p))(_.sorted(Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete))

  override def lookup(model: ModelDefinition, v: PrimValue): Option[Row] = {
    val filter = FilterCompat.get(ParquetBackend.pkEquals(model.primaryKey, v))
    bucketFiles(model, v).iterator.flatMap { f =>
      Using.resource(new ParquetBackend.ModelReader(f, model.schema)
        .withFilter(filter).build())(r => Option(r.read()))
    }.nextOption().map(ParquetBackend.toRow(_, model, model.schema))
  }

  override def rows(model: ModelDefinition, columns: Seq[String])
      : Vector[Row] = {
    val schema = StructType(columns.map(model.schema(_)))
    bucketDirs(model).flatMap(dataFiles).toVector.flatMap { f =>
      Using.resource(new ParquetBackend.ModelReader(f, schema).build())(r =>
        Iterator.continually(r.read()).takeWhile(_ != null)
          .map(ParquetBackend.toRow(_, model, schema)).toVector)
    }
  }
}

object ParquetBackend {
  private def pkEquals(pk: String, v: PrimValue): FilterPredicate = v match {
    case PrimValue.IntVal(x) =>
      FilterApi.eq(FilterApi.longColumn(pk), java.lang.Long.valueOf(x))
    case PrimValue.StrVal(x) =>
      FilterApi.eq(FilterApi.binaryColumn(pk), Binary.fromString(x))
    case PrimValue.BoolVal(x) =>
      FilterApi.eq(FilterApi.booleanColumn(pk), java.lang.Boolean.valueOf(x))
    case PrimValue.FloatVal(x) =>
      FilterApi.eq(FilterApi.doubleColumn(pk), java.lang.Double.valueOf(x))
  }

  /** Reads one local file as `Group`s, projected to the columns of
    * `schema` that the file has. No Hadoop `FileSystem` is involved. */
  private final class ModelReader(f: Path, schema: StructType)
      extends ParquetReader.Builder[Group](new LocalInputFile(f),
        new PlainParquetConfiguration()) {
    override protected def getReadSupport(): ReadSupport[Group] =
      new GroupReadSupport {
        override def init(ctx: InitContext): ReadSupport.ReadContext = {
          val file = ctx.getFileSchema
          val names = schema.fieldNames.toSet
          new ReadSupport.ReadContext(new MessageType(file.getName,
            file.getFields.asScala.filter(t => names(t.getName)).asJava))
        }
      }
  }

  /** A record as the columns of `schema` (a projection of the model's
    * schema), in its order; columns the file lacks are null, as in
    * `spark.read.schema(model.schema)`. */
  private def toRow(g: Group, m: ModelDefinition, schema: StructType): Row = {
    val t = g.getType
    new GenericRowWithSchema(schema.fields.map { f =>
      val name = f.name
      if (!t.containsField(name)) null
      else {
        val i = t.getFieldIndex(name)
        if (g.getFieldRepetitionCount(i) == 0) null
        else m.attrType(name).get match {
          case AttrType.Primitive(p) => value(g, i, p)
          case AttrType.ArrayOf(p) => elements(g.getGroup(i, 0), p)
        }
      }
    }, schema)
  }

  /** A LIST group's elements, in the three-level layout Spark writes
    * (`repeated group list { element }`). */
  private def elements(list: Group, p: PrimitiveType): Vector[Any] =
    Vector.tabulate(list.getFieldRepetitionCount(0))(j =>
      value(list.getGroup(0, j), 0, p))

  /** Field `i` of `g`, widened like Spark's reader (INT32 → Long,
    * FLOAT → Double). */
  private def value(g: Group, i: Int, p: PrimitiveType): Any = {
    val physical = g.getType.getType(i).asPrimitiveType.getPrimitiveTypeName
    p match {
      case PrimitiveType.PInteger =>
        if (physical == PrimitiveTypeName.INT32) g.getInteger(i, 0).toLong
        else g.getLong(i, 0)
      case PrimitiveType.PString => g.getString(i, 0)
      case PrimitiveType.PBoolean => g.getBoolean(i, 0)
      case PrimitiveType.PFloat =>
        if (physical == PrimitiveTypeName.FLOAT) g.getFloat(i, 0).toDouble
        else g.getDouble(i, 0)
    }
  }
}
