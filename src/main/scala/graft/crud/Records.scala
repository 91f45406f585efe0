package graft.crud

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeType
import org.apache.spark.sql.Row

import graft.core._

/** A validated, typed record. Keys are attribute names; values are
  * strictly-typed `TrueValue`s. Insertion order is irrelevant — output
  * ordering is decided by the model schema (REST) or the query
  * selection set (GraphQL), matching the reference where `Record` is a
  * `HashMap` (`types.rs:35`). */
object Records {
  type Record = Map[String, TrueValue]

  /** Strict JSON-body → Record validation (`parse_record`,
    * `model.rs:231-289`). `requiredOverride` supports update's
    * provided-attrs-only required check (`model.rs:73-84`). */
  def parseRecord(json: String, model: ModelDefinition,
      requiredOverride: Option[Seq[String]] = None): Either[String, Record] = {
    val required = requiredOverride.getOrElse(model.required)
    JsonUtil.parse(json) match {
      case Left(_) => Left("Given JSON-String is not valid JSON")
      case Right(root) if root == null || !root.isObject =>
        Left("Given JSON-String is not valid JSON")
      case Right(root) =>
        val keys = root.properties().asScala.map(_.getKey).toVector
        required.find(r => !keys.contains(r)) match {
          case Some(missing) => Left(s"""Missing attribute: "$missing"""")
          case None =>
            keys.foldLeft(Right(Map.empty): Either[String, Record]) {
              (acc, key) => acc.flatMap { rec =>
                convertAttr(key, root.get(key), model, required)
                  .map(v => rec + (key -> v))
              }
            }.flatMap(checkConstraints(_, model))
        }
    }
  }

  /** `check_constraints` (`model.rs:300-302`, a stub in the reference;
    * real checks here per SURVEY §2.1): every declared constraint must
    * hold on the provided non-null values; array attrs are checked
    * element-wise. String lengths count code points, as Spark's
    * `length` does in bulk load's [[CrudEngine.constraintPredicate]]. */
  def checkConstraints(rec: Record, model: ModelDefinition)
      : Either[String, Record] = {
    def prim(attr: String, c: Constraint, v: PrimValue): Boolean = (c, v) match {
      case (Constraint.MinValue(m), PrimValue.IntVal(x)) => x >= m
      case (Constraint.MaxValue(m), PrimValue.IntVal(x)) => x <= m
      case (Constraint.MinValue(m), PrimValue.FloatVal(x)) => x >= m
      case (Constraint.MaxValue(m), PrimValue.FloatVal(x)) => x <= m
      case (Constraint.MinLength(m), PrimValue.StrVal(s)) =>
        s.codePointCount(0, s.length) >= m
      case (Constraint.MaxLength(m), PrimValue.StrVal(s)) =>
        s.codePointCount(0, s.length) <= m
      case (Constraint.MatchesRegex(p), PrimValue.StrVal(s)) =>
        p.r.findFirstIn(s).isDefined
      case (Constraint.OneOf(vs), PrimValue.StrVal(s)) => vs.contains(s)
      case _ => true // constraint kind doesn't apply to this value type
    }
    val violation = model.constraints.iterator.flatMap { case (attr, cs) =>
      rec.get(attr).toSeq.flatMap {
        case TrueValue.Prim(v) =>
          cs.find(!prim(attr, _, v)).map(c => (attr, c))
        case TrueValue.Arr(es) =>
          cs.find(c => es.exists(!prim(attr, c, _))).map(c => (attr, c))
        case TrueValue.Null => None
      }
    }.nextOption()
    violation match {
      case Some((attr, c)) =>
        Left(s"""Constraint violated for attribute "$attr": must be ${c.describe}""")
      case None => Right(rec)
    }
  }

  private def convertAttr(key: String, node: JsonNode,
      model: ModelDefinition, required: Seq[String])
      : Either[String, TrueValue] = {
    val isRequired = required.contains(key)
    model.attrType(key) match {
      case None => Left(s"""Unknown attribute: "$key"""")
      case Some(AttrType.Primitive(p)) =>
        TrueValue.toPrim(node, p, isRequired) match {
          case Left(err) => Left(s"""Wrong type of attribute "$key", $err""")
          case Right(None) => Right(TrueValue.Null)
          case Right(Some(v)) => Right(TrueValue.Prim(v))
        }
      case Some(AttrType.ArrayOf(p)) =>
        if (node.getNodeType == JsonNodeType.ARRAY) {
          val elems = node.elements().asScala.toVector
          elems.foldLeft(Right(Vector.empty): Either[String, Vector[PrimValue]]) {
            (acc, e) => acc.flatMap { v =>
              // array elements are never null (`model.rs:264`)
              TrueValue.toPrim(e, p, isRequired = true) match {
                case Left(err) =>
                  Left(s"""Wrong type of array attribute "$key", $err""")
                case Right(pv) => Right(v :+ pv.get)
              }
            }
          }.map(TrueValue.Arr)
        } else if (!isRequired && node.getNodeType == JsonNodeType.NULL)
          Right(TrueValue.Null)
        else Left(s"""Wrong type of attribute "$key", expected: Array""")
    }
  }

  /** Null-pad to the full declared attribute set (`add_null_values`,
    * `model.rs:291-298`). */
  def addNullValues(rec: Record, model: ModelDefinition): Record =
    model.attributes.foldLeft(rec) { case (r, (name, _)) =>
      if (r.contains(name)) r else r + (name -> TrueValue.Null)
    }

  /** Parse a URI id string to the pk's declared type (`parse_uri_id`,
    * `model.rs:110-129`): String pk → passthrough; else strict
    * JSON-parse + typed conversion. */
  def parseUriId(id: String, model: ModelDefinition): Either[String, PrimValue] =
    model.pkType match {
      case AttrType.Primitive(PrimitiveType.PString) =>
        Right(PrimValue.StrVal(id))
      case AttrType.Primitive(p) =>
        // `model.rs:116-121`: JSON-parse then strict typed conversion
        JsonUtil.parse(id).left.map(_ => "Invalid value for primary key")
          .flatMap(n => TrueValue.toPrim(n, p, isRequired = true)
            .left.map(_ => "Invalid value for primary key"))
          .map(_.get)
      case _: AttrType.ArrayOf => Left("invalid primary key") // unreachable
    }

  /** Record → Spark Row in model-schema column order. */
  def toRow(rec: Record, model: ModelDefinition): Row =
    Row.fromSeq(model.attributes.map { case (n, _) =>
      rec.getOrElse(n, TrueValue.Null).raw match {
        case v: Vector[_] => v
        case other => other
      }
    })

  /** Spark Row → Record (attribute order from the model). */
  def fromRow(row: Row, model: ModelDefinition): Record =
    model.attributes.zipWithIndex.map { case ((n, t), i) =>
      n -> cell(row, i, t)
    }.toMap

  /** Column `i` of `row`, holding an attribute of type `t`, as a typed
    * value — the one Row → value rule, shared by [[fromRow]] and
    * GraphQL's rendering of projected rows. */
  def cell(row: Row, i: Int, t: AttrType): TrueValue =
    if (row.isNullAt(i)) TrueValue.Null
    else t match {
      case AttrType.Primitive(PrimitiveType.PInteger) =>
        TrueValue.Prim(PrimValue.IntVal(row.getLong(i)))
      case AttrType.Primitive(PrimitiveType.PString) =>
        TrueValue.Prim(PrimValue.StrVal(row.getString(i)))
      case AttrType.Primitive(PrimitiveType.PBoolean) =>
        TrueValue.Prim(PrimValue.BoolVal(row.getBoolean(i)))
      case AttrType.Primitive(PrimitiveType.PFloat) =>
        TrueValue.Prim(PrimValue.FloatVal(row.getDouble(i)))
      case AttrType.ArrayOf(p) =>
        TrueValue.Arr(row.getSeq[Any](i).toVector.map(e => (p match {
          case PrimitiveType.PInteger => PrimValue.IntVal(e.asInstanceOf[Long])
          case PrimitiveType.PString  => PrimValue.StrVal(e.asInstanceOf[String])
          case PrimitiveType.PBoolean => PrimValue.BoolVal(e.asInstanceOf[Boolean])
          case PrimitiveType.PFloat   => PrimValue.FloatVal(e.asInstanceOf[Double])
        }): PrimValue))
    }

  /** Ordered JSON serialization of a record (schema order, pk first not
    * required here — REST uses full schema order). */
  def toJson(rec: Record, model: ModelDefinition): String =
    model.attributes.map { case (n, _) =>
      JsonUtil.quote(n) + ":" + valueJson(rec.getOrElse(n, TrueValue.Null))
    }.mkString("{", ",", "}")

  def valueJson(v: TrueValue): String = v match {
    case TrueValue.Null => "null"
    case TrueValue.Prim(p) => p.jsonKey
    case TrueValue.Arr(es) => es.map(_.jsonKey).mkString("[", ",", "]")
  }
}
