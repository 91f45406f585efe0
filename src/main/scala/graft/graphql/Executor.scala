package graft.graphql

import org.apache.spark.sql.Row

import graft.core._
import graft.crud.{CrudEngine, Records}
import graft.crud.Records.Record
import graft.graphql.Ast._

/** GraphQL request pipeline + operation execution over the CRUD
  * engine — `handle_gql_post` / `execute_operation` /
  * `resolve_selection_set_order` (`graphql.rs:268-442`).
  *
  * Reference semantics preserved:
  *  - parse errors and validation errors → `errors`-only result;
  *  - 0 operations / >1 operations without operationName / unknown
  *    operationName → request-level error with the same messages;
  *  - per-root-field failures collect into `errors` while other root
  *    fields still produce `data` (partial results);
  *  - selection-set projection in *query order*, response-key aliases
  *    honored for scalar fields, fragment spreads flattened inline,
  *    `__typename` injected from the resolver's type (keyed by its
  *    name even when aliased), duplicate keys kept;
  *  - `variables` are substituted when provided (the reference parses
  *    but ignores them, `graphql.rs:164` — a documented fidelity
  *    upgrade, since dropping them silently corrupts queries).
  *
  * A model-typed field (readOne, readMany, the three mutations, a
  * subscription event) is projected by a [[Executor.RecordProjection]]
  * compiled once per request from its selection set, which renders the
  * field's JSON straight from the record or rows; `project` and
  * `GData` serve only introspection's nested objects.
  *
  * Extensions: `readMany` (plural-camel root field, every record
  * through `CrudEngine.readAll`, which reads only the selected
  * attributes and, for the Parquet store, launches no Spark job;
  * `todo!()` in the reference) and root-level fragment spreads (also
  * `todo!()` there) are implemented.
  */
final class Executor(registry: Registry, engine: CrudEngine) {

  import Executor.{RecordProjection, fieldsOf}

  val schema: Schema = SchemaGen.build(registry)

  def handlePost(query: String, operationName: Option[String],
      variables: Map[String, GqlValue]): GqlResult =
    prepare(query, operationName).fold(identity, run(_, variables))

  /** Parse, validate and pick the operation once: the request-level
    * errors of [[handlePost]] on the left, the operation to hand to
    * [[run]] or [[subscriptionPlanOf]] on the right. */
  def prepare(query: String, operationName: Option[String])
      : Either[GqlResult, Executor.Prepared] =
    Parser.parse(query) match {
      case Left(syntaxErr) => Left(GqlResult.ofError(syntaxErr))
      case Right(doc) =>
        val verrs = Validator.validate(doc, schema)
        if (verrs.nonEmpty) Left(GqlResult(None, verrs))
        else pickOperation(doc, operationName)
          .map(Executor.Prepared(_, doc)).left.map(GqlResult.ofError)
    }

  /** `get_executing_operation` (`graphql.rs:291-305`). */
  private def pickOperation(doc: Document, name: Option[String])
      : Either[String, Operation] =
    if (doc.operations.isEmpty)
      Left("document does not contain any executable operations")
    else name match {
      case None =>
        if (doc.operations.size > 1)
          Left("document contains more than one operation, missing operation name")
        else Right(doc.operations.head)
      case Some(n) =>
        doc.operations.find(_.name.contains(n))
          .toRight(s"""operation with name "$n" does not exist""")
    }

  /** Execute a prepared operation. */
  def run(p: Executor.Prepared, variables: Map[String, GqlValue])
      : GqlResult = {
    val Executor.Prepared(op, doc) = p
    var data = GData.empty
    var errors = Vector.empty[GqlError]
    // root-level fragments flattened (reference: todo!(), here: uniform)
    val rootFields: Vector[FieldSel] = fieldsOf(op.selections, doc)
    rootFields.foreach { field =>
      field.name match {
        case "__schema" =>
          val record = Introspection.schemaRecord(schema)
          data = data.add(field.responseKey,
            GObj(project(field.selections, Named(op.opType.defaultTypeName),
              record, doc)))
        case "__type" =>
          val tyName = field.args.headOption.map(_._2) match {
            case Some(StrV(s)) => Some(s)
            case _ => None
          }
          tyName.flatMap(n => Introspection.typeDefinition(Named(n), schema)) match {
            case Some(res) => data = data.add(field.name,
              GObj(project(field.selections, Named("__Type"), res, doc)))
            case None => data = data.add(field.name, GScalar(TrueValue.Null))
          }
        case "__typename" =>
          data = data.add(field.name, GScalar(TrueValue.Prim(
            PrimValue.StrVal(op.opType.defaultTypeName))))
        case _ =>
          resolveCrud(op.opType, field, variables, doc) match {
            case Right(json) => data = data.add(field.responseKey, GJson(json))
            case Left(msg) => errors :+= GqlError(msg)
          }
      }
    }
    if (errors.isEmpty) GqlResult.ofData(data)
    else if (data.isEmpty) GqlResult(None, errors)
    else GqlResult(Some(data), errors)
  }


  private def substitute(v: GqlValue, vars: Map[String, GqlValue])
      : GqlValue = v match {
    case VarV(n) => vars.getOrElse(n, NullV)
    case ListV(items) => ListV(items.map(substitute(_, vars)))
    case other => other
  }

  /** GraphQL argument value → gus-record JSON fragment. */
  private def valueJson(v: GqlValue): String = v match {
    case IntV(i) => i.toString
    case FloatV(f) => f.toString
    case StrV(s) => JsonUtil.quote(s)
    case BoolV(b) => b.toString
    case NullV => "null"
    case EnumV(e) => JsonUtil.quote(e)
    case ListV(items) => items.map(valueJson).mkString("[", ",", "]")
    case ObjV(fields) => fields.map { case (k, fv) =>
      JsonUtil.quote(k) + ":" + valueJson(fv)
    }.mkString("{", ",", "}")
    case VarV(_) => "null"
  }

  /** URI-style id string for `parse_uri_id` — matches the reference's
    * `TrueType::Display` (String prints raw, `types.rs:69-81`). */
  private def idString(v: GqlValue): String = v match {
    case StrV(s) => s
    case IntV(i) => i.toString
    case BoolV(b) => b.toString
    case FloatV(f) => f.toString
    case other => valueJson(other)
  }

  /** Dispatch by name prefix (`execute_operation`,
    * `graphql.rs:335-384`), call the Spark CRUD ops and render the
    * field's JSON through its projection; `Left` is the field's error. */
  private def resolveCrud(opType: OpType, field: FieldSel,
      variables: Map[String, GqlValue], doc: Document)
      : Either[String, String] = {
    val args = field.args.map { case (n, v) =>
      n -> substitute(v, variables)
    }
    def argsJson: String = args.map { case (n, v) =>
      JsonUtil.quote(n) + ":" + valueJson(v)
    }.mkString("{", ",", "}")
    def withModel(modelName: String)(
        f: ModelDefinition => Either[String, Record]): Either[String, String] =
      registry.lookupSingular(s"${modelName.head.toLower}${modelName.tail}")
        .flatMap(m => f(m).map(
          new RecordProjection(m, field.selections, doc).ofRecord))
    opType match {
      case Query =>
        if (field.name.startsWith("readOne"))
          withModel(field.name.stripPrefix("readOne")) { m =>
            engine.readOne(m, idString(args.head._2))
          }
        else // readMany: plural camel root field
          registry.lookup(field.name).map { m =>
            val p = new RecordProjection(m, field.selections, doc)
            p.ofRows(engine.readAll(m, p.columns))
          }
      case Mutation =>
        if (field.name.startsWith("addOne"))
          withModel(field.name.stripPrefix("addOne")) { m =>
            engine.createOne(m, argsJson)
          }
        else if (field.name.startsWith("updateOne"))
          withModel(field.name.stripPrefix("updateOne")) { m =>
            // the FIRST argument in query order is taken as the id
            // (`graphql.rs:376-378`)
            engine.updateOne(m, idString(args.head._2), argsJson)
          }
        else if (field.name.startsWith("deleteOne"))
          withModel(field.name.stripPrefix("deleteOne")) { m =>
            engine.deleteOne(m, idString(args.head._2))
          }
        else Left(s"""unknown mutation "${field.name}"""")
      case Subscription =>
        // valid documents reach here only via the request/response
        // endpoint; the streaming transports resolve subscriptions
        // through subscriptionPlan instead
        Left("subscription operations must use the event-stream " +
          "transport (GET /api/subscribe/{model}, or POST /api/graphql " +
          "with the subscription served as text/event-stream)")
    }
  }

  /** Resolve a subscription document to the model whose changelog
    * feeds it plus the per-event projection — the execution half the
    * reference leaves `todo!()` (`graphql.rs:353`). The transports
    * (SSE in `rest.Server`, Structured Streaming via
    * [[subscriptionFrame]]) apply [[projectEvent]] to each change. */
  def subscriptionPlan(query: String, operationName: Option[String])
      : Either[String, Executor.SubscriptionPlan] =
    prepare(query, operationName).left.map(_.errors.head.message)
      .flatMap(subscriptionPlanOf)

  /** [[subscriptionPlan]] of an already prepared operation. */
  def subscriptionPlanOf(p: Executor.Prepared)
      : Either[String, Executor.SubscriptionPlan] =
    if (p.op.opType != Subscription) Left("operation is not a subscription")
    else fieldsOf(p.op.selections, p.doc) match {
      case Vector(field) =>
        registry.lookup(field.name).map(m =>
          Executor.SubscriptionPlan(m, field, p.doc))
      case _ =>
        Left("a subscription operation must have exactly one root field")
    }

  /** One subscription event: the changed record projected through the
    * plan's selection set, wrapped as a GraphQL `data` payload.
    * Attributes the record lacks are left out. */
  def projectEvent(plan: Executor.SubscriptionPlan, rec: Record): GData =
    GData.empty.add(plan.field.responseKey,
      GJson(plan.projection.ofRecord(rec)))

  /** Streaming execution: the model's changelog as a Structured
    * Streaming DataFrame of (seq, op, data) where `data` is the
    * GraphQL payload JSON for each change event. Projection runs
    * executor-side (from_json on the model schema → selected columns
    * in query order with aliases → to_json), so the stream scales
    * like any other streaming transform. */
  def subscriptionFrame(plan: Executor.SubscriptionPlan,
      changeLog: graft.streaming.ChangeLog)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val m = plan.model
    val cols = fieldsOf(plan.field.selections, plan.doc).map { sel =>
      if (sel.name == "__typename")
        lit(SchemaGen.typeName(m)).as(sel.name)
      else col(s"rec.${sel.name}").as(
        if (sel.selections.isEmpty) sel.responseKey else sel.name)
    }
    changeLog.subscribe(m)
      .withColumn("rec", from_json(col("record"), m.schema))
      .select(col("seq"), col("op"),
        to_json(struct(cols: _*),
          java.util.Map.of("ignoreNullFields", "false")).as("data"))
  }

  /** `resolve_selection_set_order` (`graphql.rs:415-442`) over
    * introspection's nested objects: project in query order; aliases
    * for scalars; nested objects keyed by field name (reference quirk
    * preserved); fragments flattened; `__typename` injected from the
    * resolver type. Records go through [[Executor.RecordProjection]]. */
  private def project(sels: Vector[Selection], resolverTy: GqlType,
      fieldData: GData, doc: Document): GData = {
    var out = GData.empty
    sels.foreach {
      case sel: FieldSel =>
        fieldData.get(sel.name) match {
          case Some(GObjs(sub)) =>
            out = out.add(sel.name, GObjs(sub.map(d =>
              project(sel.selections, resolverTy, d, doc))))
          case Some(GObj(sub)) =>
            out = out.add(sel.name,
              GObj(project(sel.selections, resolverTy, sub, doc)))
          case Some(scalar) => out = out.add(sel.responseKey, scalar)
          case None =>
            if (sel.name == "__typename")
              out = out.add(sel.name, GScalar(TrueValue.Prim(
                PrimValue.StrVal(resolverTy.innerNamed))))
            // non-__typename unknown fields were rejected by validation
        }
      case FragmentSpread(n) =>
        doc.fragments.get(n).foreach { frag =>
          out = out.append(project(frag.selections, resolverTy, fieldData, doc))
        }
      case InlineFragment(_, s) =>
        out = out.append(project(s, resolverTy, fieldData, doc))
    }
    out
  }
}

object Executor {

  /** A parsed, validated document and its executing operation. */
  final case class Prepared(op: Ast.Operation, doc: Ast.Document)

  /** A resolved subscription: which model's changelog to consume and
    * how to project each change event. */
  final case class SubscriptionPlan(model: ModelDefinition,
      field: Ast.FieldSel, doc: Ast.Document) {
    private[graphql] val projection =
      new RecordProjection(model, field.selections, doc)
  }

  /** Fields of a selection set with named and inline fragments spread
    * in place, in query order. */
  private def fieldsOf(sels: Vector[Selection], doc: Document)
      : Vector[FieldSel] = sels.flatMap {
    case f: FieldSel => Vector(f)
    case FragmentSpread(n) =>
      doc.fragments.get(n).map(f => fieldsOf(f.selections, doc))
        .getOrElse(Vector.empty)
    case InlineFragment(_, s) => fieldsOf(s, doc)
  }

  /** A model-typed field's selection set compiled into a flat record
    * projection: one slot per selected attribute, under its response
    * key (scalar aliases honoured), and one per `__typename`, keyed by
    * its name even when aliased; query order, duplicate keys kept.
    * Selections that name no attribute of the model produce nothing.
    * Renders the field's JSON straight from a Record or from Rows of
    * [[columns]], with no per-row `GData`. */
  private[graphql] final class RecordProjection(m: ModelDefinition,
      sels: Vector[Selection], doc: Document) {
    private val fields = fieldsOf(sels, doc).filter(f =>
      f.name == "__typename" || m.attrType(f.name).isDefined)

    /** The selected attributes in first-use order: the column list a
      * readMany pushes down to storage. */
    val columns: Vector[String] =
      fields.map(_.name).filter(_ != "__typename").distinct

    /** Per slot: its JSON key and its column, or -1 for `__typename`. */
    private val slots: Vector[(String, Int)] = fields.map { f =>
      if (f.name == "__typename") (JsonUtil.quote(f.name) + ":", -1)
      else (JsonUtil.quote(f.responseKey) + ":", columns.indexOf(f.name))
    }
    private val types = columns.map(m.attrType(_).get)
    private val typename =
      TrueValue.Prim(PrimValue.StrVal(SchemaGen.typeName(m)))

    /** The record as a JSON object; attributes it lacks are left out. */
    def ofRecord(rec: Record): String =
      render(new StringBuilder, c => rec.get(columns(c))).toString

    /** One JSON object per row, as a JSON array; rows hold [[columns]]. */
    def ofRows(rows: Vector[Row]): String = {
      val sb = new StringBuilder("[")
      rows.iterator.zipWithIndex.foreach { case (r, n) =>
        if (n > 0) sb += ','
        render(sb, c => Some(Records.cell(r, c, types(c))))
      }
      (sb += ']').toString
    }

    /** One JSON object; `value` gives a column's value, if present. */
    private def render(sb: StringBuilder, value: Int => Option[TrueValue])
        : StringBuilder = {
      sb += '{'
      var first = true
      slots.foreach { case (key, c) =>
        (if (c < 0) Some(typename) else value(c)).foreach { v =>
          if (!first) sb += ','
          first = false
          sb ++= key ++= Records.valueJson(v)
        }
      }
      sb += '}'
    }
  }

  /** Ordered JSON serialization of results — `Data` keeps insertion
    * order (`graphql.rs:66-97`), so this must NOT go through an
    * unordered map. */
  def toJson(result: GqlResult): String = {
    val parts = Vector.newBuilder[String]
    if (result.errors.nonEmpty)
      parts += "\"errors\":" + result.errors.map(e =>
        s"""{"message":${JsonUtil.quote(e.message)},"locations":[]}""")
        .mkString("[", ",", "]")
    result.data.foreach(d => parts += "\"data\":" + dataJson(d))
    parts.result().mkString("{", ",", "}")
  }

  def dataJson(d: GData): String =
    d.fields.map { case (k, v) =>
      JsonUtil.quote(k) + ":" + valueJson(v)
    }.mkString("{", ",", "}")

  private def valueJson(v: GValue): String = v match {
    case GJson(json) => json
    case GScalar(t) => Records.valueJson(t)
    case GObj(d) => dataJson(d)
    case GObjs(items) => items.map(dataJson).mkString("[", ",", "]")
  }
}
