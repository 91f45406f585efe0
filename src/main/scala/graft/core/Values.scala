package graft.core

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeType

/** Typed record values — `TrueType` in the reference (`types.rs:53-67`).
  *
  * gus type checking is strict with NO coercion (`to_true_prim_type`,
  * `types.rs:264-298`): `"1994"` is not an Integer, `1994` is not a
  * String, `"true"` is not a Boolean. We therefore check JSON value
  * classes on Jackson nodes instead of casting.
  */
sealed trait PrimValue {
  /** JSON serialization of the value — used for typed-pk storage keys
    * where `1` ≠ `"1"` ≠ `true` (`json/mod.rs:85`). */
  def jsonKey: String = this match {
    case PrimValue.IntVal(v)   => v.toString
    case PrimValue.StrVal(v)   => JsonUtil.quote(v)
    case PrimValue.BoolVal(v)  => v.toString
    case PrimValue.FloatVal(v) => v.toString
  }
  /** Raw JVM value for Spark Row construction. */
  def raw: Any = this match {
    case PrimValue.IntVal(v)   => v
    case PrimValue.StrVal(v)   => v
    case PrimValue.BoolVal(v)  => v
    case PrimValue.FloatVal(v) => v
  }
}
object PrimValue {
  final case class IntVal(v: Long) extends PrimValue
  final case class StrVal(v: String) extends PrimValue
  final case class BoolVal(v: Boolean) extends PrimValue
  final case class FloatVal(v: Double) extends PrimValue
}

sealed trait TrueValue {
  def raw: Any = this match {
    case TrueValue.Null           => null
    case TrueValue.Prim(p)        => p.raw
    case TrueValue.Arr(es)        => es.map(_.raw)
  }
}
object TrueValue {
  case object Null extends TrueValue
  final case class Prim(p: PrimValue) extends TrueValue
  final case class Arr(elements: Vector[PrimValue]) extends TrueValue

  /** Strict JSON → typed primitive (`to_true_prim_type`,
    * `types.rs:264-298`). `isRequired` forbids null. */
  def toPrim(node: JsonNode, ty: PrimitiveType, isRequired: Boolean)
      : Either[String, Option[PrimValue]] = {
    if (node == null || node.getNodeType == JsonNodeType.NULL) {
      if (isRequired) Left("it is required, got: null") else Right(None)
    } else ty match {
      case PrimitiveType.PInteger =>
        if (node.isIntegralNumber && node.canConvertToLong)
          Right(Some(PrimValue.IntVal(node.longValue())))
        else Left("expected: Integer")
      case PrimitiveType.PString =>
        if (node.isTextual) Right(Some(PrimValue.StrVal(node.textValue())))
        else Left("expected: String")
      case PrimitiveType.PBoolean =>
        if (node.isBoolean) Right(Some(PrimValue.BoolVal(node.booleanValue())))
        else Left("expected: Boolean")
      case PrimitiveType.PFloat =>
        if (node.isNumber) Right(Some(PrimValue.FloatVal(node.doubleValue())))
        else Left("expected: Float")
    }
  }
}

object JsonUtil {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m
  }
  def parse(s: String): Either[String, JsonNode] =
    try Right(mapper.readTree(s)) catch {
      case e: Exception => Left(e.getMessage)
    }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
