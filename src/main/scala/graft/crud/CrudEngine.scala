package graft.crud

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.core._
import graft.crud.Records.Record
import graft.storage.StorageBackend

/** gus CRUD semantics as Spark DataFrame programs (SURVEY §2.1 O1-O7).
  *
  * Point reads and the existence checks of writes go through the
  * backend's `lookup` (for `ParquetBackend` a driver-side read of one
  * hash bucket that launches no Spark job), served whole-table reads
  * through its `rows`, projected to the selected attributes (likewise
  * no job there); merges rewrite the backend's pk *slice* (that one
  * bucket), so no operation here is O(whole table) — unlike the
  * reference, where every op deserializes and rewrites the entire
  * store (`json/mod.rs:45-80`).
  *
  * Writes are serialized per model (single-writer discipline): the
  * reference has unsynchronized read-modify-write races across its HTTP
  * workers (§3.2 of SURVEY.md); we lock per model name instead.
  * A successful write then appends its event to the change log, if
  * one is given, still under the model's lock. The log takes its own
  * monitor for the append, so appends from different models are
  * ordered there; each is a local file write, not a Spark job.
  */
final class CrudEngine(spark: SparkSession, backend: StorageBackend,
    changeLog: Option[graft.streaming.ChangeLog] = None) {

  private def logChange(m: ModelDefinition, op: String, rec: Record): Unit =
    changeLog.foreach(_.append(m, op, rec))

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(m: ModelDefinition): Object =
    locks.computeIfAbsent(m.modelName.pluralCamel, _ => new Object)

  private def pkCol(m: ModelDefinition) = col(m.primaryKey)
  private def pkLit(v: PrimValue) = lit(v.raw)

  /** O1 create_one (`model.rs:49-56`): validate, null-pad, insert iff
    * pk absent else AlreadyExists. */
  def createOne(m: ModelDefinition, json: String): Either[String, Record] =
    Records.parseRecord(json, m).flatMap { rec =>
      val padded = Records.addNullValues(rec, m)
      val pk = padded(m.primaryKey) match {
        case TrueValue.Prim(p) => p
        case _ => return Left("invalid primary key value")
      }
      lockFor(m).synchronized {
        if (backend.lookup(m, pk).isDefined)
          // `json/mod.rs:89`
          Left("A record for the given key already exists, try to update it instead (PUT)")
        else {
          val slice = backend.slice(m, pk)
          val nu = spark.createDataFrame(
            java.util.List.of(Records.toRow(padded, m)), m.schema)
          backend.writeSlice(m, pk, slice.unionByName(nu))
          logChange(m, "create", padded)
          Right(padded)
        }
      }
    }

  /** O2 read_one (`model.rs:58-66`): point lookup by typed pk. */
  def readOne(m: ModelDefinition, id: String): Either[String, Record] =
    Records.parseUriId(id, m).flatMap { pk =>
      backend.lookup(m, pk).map(Records.fromRow(_, m))
        // `json/mod.rs:103`; id rendered as its JSON form (typed key)
        .toRight(s"No record found with id: ${pk.jsonKey}")
    }

  /** O3 update_one (`model.rs:68-89`): partial merge — only provided
    * attrs overwrite; required check applies to provided attrs only;
    * URI id overrides any body pk; NotFound if absent. */
  def updateOne(m: ModelDefinition, id: String, json: String)
      : Either[String, Record] =
    for {
      pk <- Records.parseUriId(id, m)
      // discover provided attrs with no required check, then re-check
      // with required ∩ provided (`model.rs:73-84`)
      probe <- Records.parseRecord(json, m, requiredOverride = Some(Nil))
      provided = probe.keySet
      rec <- Records.parseRecord(json, m,
        requiredOverride = Some(m.required.filter(provided.contains)))
      merged <- lockFor(m).synchronized {
        backend.lookup(m, pk) match {
          case None => // `json/mod.rs:117`
            Left("No record found for the given key, try to create it instead (POST)")
          case Some(old) =>
            val stored = Records.fromRow(old, m)
            // URI id wins over any body pk (`model.rs:85-87`)
            val overlay = stored ++ (rec - m.primaryKey) +
              (m.primaryKey -> TrueValue.Prim(pk))
            val slice = backend.slice(m, pk)
            val rest = slice.filter(!(pkCol(m) === pkLit(pk)))
            val nu = spark.createDataFrame(
              java.util.List.of(Records.toRow(overlay, m)), m.schema)
            backend.writeSlice(m, pk, rest.unionByName(nu))
            logChange(m, "update", overlay)
            Right(overlay)
        }
      }
    } yield merged

  /** O4 delete_one (`model.rs:91-99`): remove by pk, return the removed
    * record; NotFound if absent. */
  def deleteOne(m: ModelDefinition, id: String): Either[String, Record] =
    Records.parseUriId(id, m).flatMap { pk =>
      lockFor(m).synchronized {
        backend.lookup(m, pk) match {
          case None => // `json/mod.rs:132`
            Left(s"No record found to remove with id: ${pk.jsonKey}")
          case Some(row) =>
            val slice = backend.slice(m, pk)
            backend.writeSlice(m, pk,
              slice.filter(!(pkCol(m) === pkLit(pk))))
            val rec = Records.fromRow(row, m)
            logChange(m, "delete", rec)
            Right(rec)
        }
      }
    }

  /** readMany — declared-but-todo in the reference
    * (`graphql.rs:335-343,382`), implemented here: the full table as a
    * DataFrame, the handle for Spark consumers (callers page with
    * limit). */
  def readMany(m: ModelDefinition): DataFrame = backend.table(m)

  /** readMany as served: every record of the model as Rows holding
    * exactly `columns` in that order, through the backend's `rows` (for
    * `ParquetBackend` a driver-side read of every bucket that decodes
    * only those columns and launches no Spark job). Rows, not Records:
    * the caller renders the cells it asked for (`Records.cell`). */
  def readAll(m: ModelDefinition, columns: Seq[String]): Vector[Row] =
    backend.rows(m, columns)

  /** Bulk load (engine extension): validated DataFrame → table.
    * Constraints are enforced the Spark way — one declarative
    * predicate over the whole frame, checked before the write. */
  def bulkLoad(m: ModelDefinition, df: DataFrame): Either[String, Unit] =
    lockFor(m).synchronized {
      CrudEngine.constraintPredicate(m) match {
        case Some(pred) =>
          val bad = df.filter(!pred).limit(1).count()
          if (bad > 0) Left("bulk load violates model constraints")
          else { backend.overwrite(m, df); Right(()) }
        case None => backend.overwrite(m, df); Right(())
      }
    }
}

object CrudEngine {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{length => strlen, forall, lit => flit}

  /** All model constraints as one Spark `Column` predicate (nulls
    * pass — requiredness is a separate check). SURVEY §2.1 O8. */
  def constraintPredicate(m: ModelDefinition): Option[Column] = {
    def primPred(c: Column, k: Constraint): Column = k match {
      case Constraint.MinValue(v) => c >= flit(v)
      case Constraint.MaxValue(v) => c <= flit(v)
      case Constraint.MinLength(v) => strlen(c) >= flit(v)
      case Constraint.MaxLength(v) => strlen(c) <= flit(v)
      case Constraint.MatchesRegex(p) => c.rlike(p)
      case Constraint.OneOf(vs) => c.isin(vs.map(x => x: Any): _*)
    }
    val preds = m.constraints.toSeq.flatMap { case (attr, cs) =>
      cs.map { k =>
        val c = col(attr)
        m.attrType(attr) match {
          case Some(_: graft.core.AttrType.ArrayOf) =>
            c.isNull || forall(c, e => primPred(e, k))
          case _ => c.isNull || primPred(c, k)
        }
      }
    }
    preds.reduceOption(_ && _)
  }
}
