package graft.graphql

import graft.core.TrueValue

/** GraphQL AST for the spec subset gus accepts (operations, fields with
  * aliases/arguments, named + inline fragments, scalar/list argument
  * values) plus the schema-side model used for validation and
  * introspection. Hand-rolled because the offline environment has no
  * GraphQL library (SURVEY §7.1 item 6).
  */
object Ast {

  // ---- values -----------------------------------------------------------
  sealed trait GqlValue
  final case class IntV(v: Long) extends GqlValue
  final case class FloatV(v: Double) extends GqlValue
  final case class StrV(v: String) extends GqlValue
  final case class BoolV(v: Boolean) extends GqlValue
  case object NullV extends GqlValue
  final case class EnumV(name: String) extends GqlValue
  final case class ListV(items: Vector[GqlValue]) extends GqlValue
  final case class ObjV(fields: Vector[(String, GqlValue)]) extends GqlValue
  final case class VarV(name: String) extends GqlValue

  // ---- executable document ---------------------------------------------
  sealed trait Selection
  final case class FieldSel(alias: Option[String], name: String,
      args: Vector[(String, GqlValue)], selections: Vector[Selection])
      extends Selection {
    def responseKey: String = alias.getOrElse(name)
  }
  final case class FragmentSpread(name: String) extends Selection
  final case class InlineFragment(typeCondition: Option[String],
      selections: Vector[Selection]) extends Selection

  sealed trait OpType { def defaultTypeName: String }
  case object Query extends OpType { val defaultTypeName = "Query" }
  case object Mutation extends OpType { val defaultTypeName = "Mutation" }
  case object Subscription extends OpType { val defaultTypeName = "Subscription" }

  final case class VarDef(name: String, ty: GqlType, default: Option[GqlValue])
  final case class Operation(opType: OpType, name: Option[String],
      varDefs: Vector[VarDef], selections: Vector[Selection])
  final case class FragmentDef(name: String, typeCondition: String,
      selections: Vector[Selection])
  final case class Document(operations: Vector[Operation],
      fragments: Map[String, FragmentDef])

  // ---- schema side ------------------------------------------------------
  sealed trait GqlType { def innerNamed: String }
  final case class Named(name: String) extends GqlType {
    def innerNamed: String = name
  }
  final case class NonNull(of: GqlType) extends GqlType {
    def innerNamed: String = of.innerNamed
  }
  final case class ListT(of: GqlType) extends GqlType {
    def innerNamed: String = of.innerNamed
  }

  final case class ArgDef(name: String, ty: GqlType)
  final case class FieldDef(name: String, args: Vector[ArgDef], ty: GqlType)
  sealed trait TypeDef { def name: String }
  final case class ObjectDef(name: String, fields: Vector[FieldDef])
      extends TypeDef
  final case class ScalarDef(name: String) extends TypeDef

  /** Generated schema: types in insertion order (built-in scalars
    * first, mirroring apollo-compiler), then model objects, Query,
    * Mutation. */
  final case class Schema(types: Vector[TypeDef]) {
    private val byName: Map[String, TypeDef] = types.map(t => t.name -> t).toMap
    def get(name: String): Option[TypeDef] = byName.get(name)
    def obj(name: String): Option[ObjectDef] = byName.get(name).collect {
      case o: ObjectDef => o
    }
    def isScalar(name: String): Boolean =
      byName.get(name).exists(_.isInstanceOf[ScalarDef])
  }

  // ---- response data (insertion-ordered, `Data` in the reference) -------
  sealed trait GValue
  final case class GScalar(v: TrueValue) extends GValue
  final case class GObj(data: GData) extends GValue
  final case class GObjs(items: Vector[GData]) extends GValue
  /** A value rendered to JSON already (a projected record or array of
    * records), emitted verbatim. */
  final case class GJson(json: String) extends GValue

  final case class GData(fields: Vector[(String, GValue)]) {
    def get(key: String): Option[GValue] =
      fields.find(_._1 == key).map(_._2)
    def add(key: String, v: GValue): GData = GData(fields :+ (key -> v))
    def append(other: GData): GData = GData(fields ++ other.fields)
    def isEmpty: Boolean = fields.isEmpty
  }
  object GData { val empty: GData = GData(Vector.empty) }

  final case class GqlError(message: String)
  final case class GqlResult(data: Option[GData], errors: Vector[GqlError]) {
    def isErrorOnly: Boolean = data.isEmpty && errors.nonEmpty
  }
  object GqlResult {
    def ofData(d: GData): GqlResult = GqlResult(Some(d), Vector.empty)
    def ofError(msg: String): GqlResult =
      GqlResult(None, Vector(GqlError(msg)))
  }
}
