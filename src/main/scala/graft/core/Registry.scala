package graft.core

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeType

/** Model catalog: parse a directory of JSON model definitions →
  * validated, duplicate-free registry (`parse_models`,
  * `model.rs:175-210`; `parse_model`, `model.rs:146-156`).
  *
  * Semantics preserved from the reference:
  *  - unparseable / invalid files are silently ignored;
  *  - models whose plural-camel names collide are ALL dropped
  *    (`cloned_movie` vs `cloned_movies` collide after
  *    pluralize+camelize);
  *  - lookup is by plural-camel name equality;
  *  - an empty surviving set is an error ("No valid models defined").
  *
  * Unlike the reference (which re-reads the directory on every request),
  * the registry is loaded once and held in memory; `reload()` re-scans.
  */
final class Registry(models: Vector[ModelDefinition]) {
  private val byKey: Map[String, ModelDefinition] =
    models.map(m => m.modelName.pluralCamel -> m).toMap

  def all: Vector[ModelDefinition] = models
  def isEmpty: Boolean = models.isEmpty

  /** Catalog lookup by any inflection of the name (`parse_model`). */
  def lookup(name: String): Either[String, ModelDefinition] =
    byKey.get(ModelName(name).pluralCamel)
      .toRight(s"""model "$name" not found""")

  /** REST/GraphQL addressing requires the singular model name
    * (`assert_singularity`, `types.rs:183-188`). */
  def lookupSingular(name: String): Either[String, ModelDefinition] = {
    val n = ModelName(name)
    if (!n.isSingular)
      Left("Expected singular model name, got plural variant")
    else lookup(name)
  }
}

object Registry {

  /** Parse one model-definition JSON document. Any rule violation →
    * Left (caller decides whether to ignore or raise). */
  def parseDefinition(json: String): Either[String, ModelDefinition] =
    JsonUtil.parse(json).flatMap(parseDefinitionNode)

  private def field(n: JsonNode, name: String): Either[String, JsonNode] =
    Option(n.get(name)).toRight(s"missing field $name")

  private def attrName(n: JsonNode): Either[String, String] =
    if (n != null && n.getNodeType == JsonNodeType.STRING &&
        ModelValidation.validAttrName(n.textValue())) Right(n.textValue())
    else Left("Name is not alphabetic in camelCase, PascalCase, snake_case or spinal-case")

  private def parseAttrType(n: JsonNode): Either[String, AttrType] =
    n.getNodeType match {
      case JsonNodeType.STRING =>
        // Float accepted: declared-but-commented-out in the reference
        // (`types.rs:50,66`), implemented here per SURVEY §2.1
        PrimitiveType.fromName(n.textValue())
          .map(AttrType.Primitive).toRight(s"unknown type ${n.textValue()}")
      case JsonNodeType.ARRAY =>
        // exactly one element type — [PrimitiveType; 1] (`types.rs:42`)
        if (n.size() != 1) Left("array type must have exactly one element type")
        else parseAttrType(n.get(0)) match {
          case Right(AttrType.Primitive(p)) => Right(AttrType.ArrayOf(p))
          case _ => Left("array element must be a primitive type")
        }
      case _ => Left("invalid attribute type")
    }

  private def parseDefinitionNode(root: JsonNode): Either[String, ModelDefinition] =
    for {
      _ <- Either.cond(root != null && root.isObject, (), "no valid JSON")
      nameN <- field(root, "model_name")
      name <- attrName(nameN)
      storageN <- field(root, "storage_type")
      storage <- storageN.getNodeType match {
        case JsonNodeType.STRING if storageN.textValue() == "json" ||
          storageN.textValue() == "parquet" => Right(storageN.textValue())
        case _ => Left("unknown storage type")
      }
      attrsN <- field(root, "attributes")
      _ <- Either.cond(attrsN.isObject, (), "attributes must be an object")
      attrs <- attrsN.properties().asScala.toVector.foldLeft(
        Right(Vector.empty): Either[String, Vector[(String, AttrType)]]) {
        case (acc, e) => for {
          v <- acc
          _ <- Either.cond(ModelValidation.validAttrName(e.getKey), (),
            "invalid attribute name")
          t <- parseAttrType(e.getValue)
        } yield v :+ (e.getKey -> t)
      }
      pkN <- field(root, "primary_key")
      pk <- attrName(pkN)
      reqN <- field(root, "required")
      _ <- Either.cond(reqN.isArray, (), "required must be an array")
      req <- reqN.elements().asScala.toVector.foldLeft(
        Right(Vector.empty): Either[String, Vector[String]]) {
        case (acc, e) => for { v <- acc; n <- attrName(e) } yield v :+ n
      }
      cons <- parseConstraints(root.get("constraints"))
      m = ModelDefinition(ModelName(name), storage, attrs, pk, req, cons)
      _ <- cons.keys.toVector.foldLeft(Right(()): Either[String, Unit]) {
        (acc, k) => acc.flatMap(_ => Either.cond(
          attrs.exists(_._1 == k), (), s"constraint on unknown attribute $k"))
      }
      valid <- ModelValidation.validate(m)
    } yield valid

  /** Optional `constraints` object (engine extension; the reference
    * declares the field but supports no constraint kinds). */
  private def parseConstraints(n: JsonNode)
      : Either[String, Map[String, Vector[Constraint]]] = {
    if (n == null || n.isNull) return Right(Map.empty)
    if (!n.isObject) return Left("constraints must be an object")
    n.properties().asScala.toVector.foldLeft(
      Right(Map.empty): Either[String, Map[String, Vector[Constraint]]]) {
      case (acc, e) => acc.flatMap { m =>
        val spec = e.getValue
        if (!spec.isObject) Left("constraint spec must be an object")
        else spec.properties().asScala.toVector.foldLeft(
          Right(Vector.empty): Either[String, Vector[Constraint]]) {
          case (cAcc, c) => cAcc.flatMap { cs =>
            (c.getKey, c.getValue) match {
              case ("min", v) if v.isNumber =>
                Right(cs :+ Constraint.MinValue(v.doubleValue()))
              case ("max", v) if v.isNumber =>
                Right(cs :+ Constraint.MaxValue(v.doubleValue()))
              case ("min_length", v) if v.isIntegralNumber =>
                Right(cs :+ Constraint.MinLength(v.intValue()))
              case ("max_length", v) if v.isIntegralNumber =>
                Right(cs :+ Constraint.MaxLength(v.intValue()))
              case ("regex", v) if v.isTextual =>
                try { v.textValue().r; Right(cs :+ Constraint.MatchesRegex(v.textValue())) }
                catch { case _: Exception => Left("invalid constraint regex") }
              case ("one_of", v) if v.isArray =>
                Right(cs :+ Constraint.OneOf(
                  v.elements().asScala.toVector.map(_.asText())))
              case (k, _) => Left(s"unknown constraint kind $k")
            }
          }
        }.map(cs => m + (e.getKey -> cs))
      }
    }
  }

  /** Directory scan with silent-skip + duplicate-drop semantics. */
  def load(dir: Path): Either[String, Registry] = {
    if (!Files.isDirectory(dir)) return Left("No valid models defined")
    val parsed: Vector[ModelDefinition] =
      Using.resource(Files.list(dir))(_.iterator().asScala.toVector)
        .sortBy(_.toString).flatMap { p =>
          val text = try Some(Files.readString(p)) catch { case _: Exception => None }
          text.flatMap(t => parseDefinition(t).toOption)
        }
    val counts = parsed.groupBy(_.modelName.pluralCamel).view.mapValues(_.size)
    val unique = parsed.filter(m => counts(m.modelName.pluralCamel) == 1)
    if (unique.isEmpty) Left("No valid models defined")
    else Right(new Registry(unique))
  }
}
