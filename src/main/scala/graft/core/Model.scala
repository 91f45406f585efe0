package graft.core

import org.apache.spark.sql.types._

/** gus data model: named entity tables of flat records.
  *
  * Mirrors `ModelDefinition` (reference `types.rs:107-116`): model name,
  * storage type, attribute→type map, primary key, required list. One
  * model = one logical table; the Spark representation is a `StructType`
  * whose fields are nullable iff not required.
  */
sealed trait PrimitiveType {
  /** Spark type for this primitive (SURVEY §1.2 table). */
  def sparkType: DataType = this match {
    case PrimitiveType.PInteger => LongType
    case PrimitiveType.PString  => StringType
    case PrimitiveType.PBoolean => BooleanType
    case PrimitiveType.PFloat   => DoubleType
  }
  def gqlName: String = this match {
    case PrimitiveType.PInteger => "Int"
    case PrimitiveType.PString  => "String"
    case PrimitiveType.PBoolean => "Boolean"
    case PrimitiveType.PFloat   => "Float"
  }
}
object PrimitiveType {
  case object PInteger extends PrimitiveType
  case object PString extends PrimitiveType
  case object PBoolean extends PrimitiveType
  /** Declared-but-commented-out in the reference (`types.rs:50,66`);
    * implemented here as the survey's capability-parity extension. */
  case object PFloat extends PrimitiveType

  def fromName(s: String): Option[PrimitiveType] = s match {
    case "Integer" => Some(PInteger)
    case "String"  => Some(PString)
    case "Boolean" => Some(PBoolean)
    case "Float"   => Some(PFloat)
    case _         => None
  }
}

/** `AttrType` (reference `types.rs:38-43`): a primitive or a
  * single-element-typed array. Array elements are never null
  * (`model.rs:264`). */
sealed trait AttrType {
  def sparkType: DataType = this match {
    case AttrType.Primitive(p) => p.sparkType
    case AttrType.ArrayOf(p)   => ArrayType(p.sparkType, containsNull = false)
  }
  def isArray: Boolean = this.isInstanceOf[AttrType.ArrayOf]
}
object AttrType {
  final case class Primitive(p: PrimitiveType) extends AttrType
  final case class ArrayOf(element: PrimitiveType) extends AttrType
}

final case class ModelName(raw: String) {
  def singular: ModelName = ModelName(Inflect.singularize(raw))
  def plural: ModelName = ModelName(Inflect.pluralize(raw))
  def camel: ModelName = ModelName(Inflect.camelize(raw))
  def pascal: ModelName = ModelName(Inflect.pascalize(raw))
  /** Registry identity: duplicate models collide on this
    * (`model.rs:184-204`). */
  def pluralCamel: String = plural.camel.raw
  def isSingular: Boolean = this == singular
}

/** Value constraints on an attribute — the reference declares a
  * `constraints` field with an empty enum and a stubbed check
  * (`types.rs:83-104`, `model.rs:300-302`); implemented here per
  * SURVEY §2.1 as record-level checks plus a Spark `Column` predicate
  * for bulk validation. */
sealed trait Constraint {
  /** Human-readable rule for error messages. */
  def describe: String
}
object Constraint {
  final case class MinValue(v: Double) extends Constraint {
    def describe = s">= $v"
  }
  final case class MaxValue(v: Double) extends Constraint {
    def describe = s"<= $v"
  }
  final case class MinLength(v: Int) extends Constraint {
    def describe = s"length >= $v"
  }
  final case class MaxLength(v: Int) extends Constraint {
    def describe = s"length <= $v"
  }
  final case class MatchesRegex(pattern: String) extends Constraint {
    def describe = s"matches /$pattern/"
  }
  final case class OneOf(values: Vector[String]) extends Constraint {
    def describe = s"one of ${values.mkString("[", ", ", "]")}"
  }
}

/** One model definition (≈ table DDL). `attributes` keeps file order for
  * deterministic error messages; lookup is by name. */
final case class ModelDefinition(
    modelName: ModelName,
    storageType: String,
    attributes: Vector[(String, AttrType)],
    primaryKey: String,
    required: Vector[String],
    constraints: Map[String, Vector[Constraint]] = Map.empty) {

  private val attrMap: Map[String, AttrType] = attributes.toMap
  def attrType(name: String): Option[AttrType] = attrMap.get(name)
  def isRequired(name: String): Boolean = required.contains(name)
  def pkType: AttrType = attrMap(primaryKey)

  /** Spark schema: nullable iff not required; pk metadata recorded.
    * Built once: storage stamps it on every row it decodes. */
  val schema: StructType = StructType(attributes.map { case (n, t) =>
    StructField(n, t.sparkType, nullable = !required.contains(n),
      metadata = if (n == primaryKey)
        new MetadataBuilder().putBoolean("primary_key", true).build()
      else Metadata.empty)
  })
}

object ModelValidation {

  /** Identifier grammar (`validate_attr_name`, reference
    * `types.rs:248-262`): PascalCase | camelCase | snake_case |
    * spinal-case, purely alphabetic. */
  private val nameRegexes = Seq(
    "^[A-Z][a-zA-Z]*$", // PascalCase
    "^[a-z][a-zA-Z]*$", // camelCase
    "^[a-z]+(_[a-z]+)*$", // snake_case
    "^[a-z]+(-[a-z]+)*$" // spinal-case
  ).map(_.r)

  def validAttrName(name: String): Boolean =
    nameRegexes.exists(_.findFirstIn(name).isDefined)

  /** Model DDL validation (`validate_model_definition`,
    * `types.rs:147-174`): name must have a distinct plural; pk exists
    * and is not an array; pk is required; all required attrs exist. */
  def validate(m: ModelDefinition): Either[String, ModelDefinition] = {
    if (m.modelName.singular == m.modelName.plural)
      Left("Name has no plural variant")
    else m.attrType(m.primaryKey) match {
      case None => Left("invalid primary key")
      case Some(_: AttrType.ArrayOf) => Left("invalid primary key")
      case Some(_) =>
        if (!m.required.contains(m.primaryKey))
          Left("primary key must be required")
        else m.required.find(r => m.attrType(r).isEmpty) match {
          case Some(bad) => Left(s"""invalid required attribute "$bad"""")
          case None => Right(m)
        }
    }
  }
}
