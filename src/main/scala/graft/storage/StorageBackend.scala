package graft.storage

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.core.{ModelDefinition, PrimValue}

/** Backend SPI — the Spark-side equivalent of gus's `StorageHandler`
  * trait (`storage_handler.rs:49-54`), generalized from row ops to
  * DataFrame slices so implementations can bound the I/O of point
  * operations.
  *
  * A *slice* for pk value `v` is the unit a point write replaces:
  * exactly the records stored in the partition `v` maps to, no more
  * and no fewer, since `writeSlice` replaces that whole partition with
  * a frame derived from the slice. A whole-table backend's slice is
  * the full table; a bucketed backend's is one hash bucket —
  * `O(table/buckets)` I/O per point op instead of `O(table)`, which is
  * the difference between usable and unusable at 100 TB.
  */
trait StorageBackend {
  /** Full table scan; empty DataFrame with the model schema if the
    * model has no data yet (`read_db` missing-file semantics,
    * `json/mod.rs:45-72`). This is the handle for Spark consumers;
    * serving reads the whole table through [[rows]]. */
  def table(model: ModelDefinition): DataFrame

  /** Exactly the records of the partition `v` maps to (see above). */
  def slice(model: ModelDefinition, v: PrimValue): DataFrame

  /** Replace the slice that `v` maps to with `df` (atomically). */
  def writeSlice(model: ModelDefinition, v: PrimValue, df: DataFrame): Unit

  /** Replace the whole table (used by bulk loads). */
  def overwrite(model: ModelDefinition, df: DataFrame): Unit

  /** The record with pk `v` as a Row in model-schema order, or `None`.
    * Backends that can read a record without launching a Spark job
    * should; this default filters the slice and launches one or more. */
  def lookup(model: ModelDefinition, v: PrimValue): Option[Row] =
    slice(model, v).filter(col(model.primaryKey) === lit(v.raw))
      .head(1).headOption

  /** Every record of the model, projected to `columns` (attribute
    * names): each Row holds exactly those columns in that order. Records
    * come in no particular order; empty if the model has no data yet.
    * Backends that can read the table without launching a Spark job,
    * decoding only the requested columns, should; this default collects
    * [[table]] and launches one or more. */
  def rows(model: ModelDefinition, columns: Seq[String]): Vector[Row] =
    table(model).select(columns.map(col): _*).collect().toVector
}

object StorageBackend {
  /** Deterministic pk → bucket hash, computable both driver-side (on a
    * typed literal) and executor-side (in a UDF). JVM value hashCodes
    * for Long/String/Boolean/Double are stable across JVMs. */
  def bucketOf(raw: Any, buckets: Int): Int = {
    val h = raw match {
      case l: Long => java.lang.Long.hashCode(l)
      case s: String => s.hashCode
      case b: Boolean => java.lang.Boolean.hashCode(b)
      case d: Double => java.lang.Double.hashCode(d)
      case i: Int => java.lang.Long.hashCode(i.toLong)
      case other => other.hashCode
    }
    Math.floorMod(h, buckets)
  }

  def empty(spark: SparkSession, model: ModelDefinition): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), model.schema)
}
