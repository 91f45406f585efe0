package graft.graphql

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.core._
import graft.crud.CrudEngine
import graft.storage.ParquetBackend

object GqlFixture {
  val movieJson: String =
    """{"model_name":"movie","storage_type":"json",
      |"attributes":{"id":"Integer","name":"String","year":"Integer",
      |"actors":["String"],"recommended":"Boolean"},
      |"primary_key":"id","required":["id","name","recommended"]}"""
      .stripMargin.replace("\n", "")

  def freshExecutor(): Executor = {
    val dir = Files.createTempDirectory("gql-models")
    Files.writeString(dir.resolve("movie.json"), movieJson)
    val reg = Registry.load(dir).toOption.get
    val store = Files.createTempDirectory("gql-store").toString
    val engine = new CrudEngine(SparkSpec.spark,
      new ParquetBackend(SparkSpec.spark, store, buckets = 4))
    new Executor(reg, engine)
  }
}

class SchemaGenSpec extends AnyFunSuite {
  test("SDL has gus field ordering: pk first, rest alphabetical") {
    val dir = Files.createTempDirectory("sdl-models")
    Files.writeString(dir.resolve("movie.json"), GqlFixture.movieJson)
    val reg = Registry.load(dir).toOption.get
    val sdl = SchemaGen.sdl(SchemaGen.build(reg))
    assert(sdl.contains(
      "type Movie { id:Int! actors:[String!] name:String! recommended:Boolean! year:Int}"),
      sdl)
    assert(sdl.contains("readOneMovie(id:Int!):Movie!"), sdl)
    assert(sdl.contains("movies:[Movie!]!"), "readMany extension emitted")
    assert(sdl.contains("deleteOneMovie(id:Int!):Movie!"), sdl)
    assert(sdl.contains(
      "addOneMovie(id:Int! actors:[String!] name:String! recommended:Boolean! year:Int):Movie!"),
      sdl)
    assert(sdl.contains(
      "updateOneMovie(id:Int! actors:[String!] name:String recommended:Boolean year:Int):Movie!"),
      sdl)
  }
}

class GraphqlSpec extends AnyFunSuite {
  lazy val ex: Executor = GqlFixture.freshExecutor()

  def run(q: String, op: Option[String] = None,
      vars: Map[String, Ast.GqlValue] = Map.empty): String =
    Executor.toJson(ex.handlePost(q, op, vars))

  test("mutation add → query read, selection order and aliases") {
    val add = run(
      """mutation { addOneMovie(id:5, name:"Heat", recommended:true)
        |{ name id } }""".stripMargin)
    // selection order (name before id), null-free projection
    assert(add == """{"data":{"addOneMovie":{"name":"Heat","id":5}}}""", add)

    val read = run("""{ readOneMovie(id:5) { id theName: name year } }""")
    assert(read ==
      """{"data":{"readOneMovie":{"id":5,"theName":"Heat","year":null}}}""",
      read)
  }

  test("readMany plural root field returns all records") {
    run("""mutation { addOneMovie(id:6, name:"Ronin", recommended:false) { id } }""")
    val many = run("""{ movies { id } }""")
    assert(many.contains("\"movies\":["), many)
    assert(many.contains("""{"id":5}""") && many.contains("""{"id":6}"""), many)
  }

  test("partial results: data and errors coexist") {
    val r = run(
      """{ a: readOneMovie(id:5) { id } b: readOneMovie(id:999) { id } }""")
    assert(r.contains(""""errors":[{"message":"No record found with id: 999"""), r)
    assert(r.contains(""""a":{"id":5}"""), r)
  }

  test("validation rejects unknown fields and missing required args") {
    val bad1 = run("""{ readOneMovie(id:5) { id director } }""")
    assert(bad1.contains("has no field \\\"director\\\"") ||
      bad1.contains("""has no field"""), bad1)
    val bad2 = run("""{ readOneMovie { id } }""")
    assert(bad2.contains("missing required argument"), bad2)
    val bad3 = run("""{ readOneMovie(id:"5") { id } }""")
    assert(bad3.contains("expects type Int"), bad3)
  }

  test("operation selection rules") {
    assert(run("""fragment F on Movie { id }""")
      .contains("does not contain any executable operations"))
    assert(run("""query A { movies { id } } query B { movies { id } }""")
      .contains("more than one operation, missing operation name"))
    assert(run("""query A { movies { id } } query B { movies { id } }""",
      Some("C")).contains("""operation with name \"C\" does not exist"""))
    assert(run("""query A { movies { id } } query B { movies { id } }""",
      Some("A")).startsWith("""{"data""""))
  }

  test("fragments: named and inline, plus __typename") {
    val r = run(
      """query { readOneMovie(id:5) { ...core ... on Movie { year } __typename } }
        |fragment core on Movie { id name }""".stripMargin)
    assert(r ==
      """{"data":{"readOneMovie":{"id":5,"name":"Heat","year":null,"__typename":"Movie"}}}""",
      r)
  }

  test("variables are substituted") {
    val r = run("""query Q($mid: Int!) { readOneMovie(id:$mid) { id } }""",
      None, Map("mid" -> Ast.IntV(5)))
    assert(r == """{"data":{"readOneMovie":{"id":5}}}""", r)
  }

  test("update and delete via mutations; typed errors surface") {
    val up = run(
      """mutation { updateOneMovie(id:6, year:1998) { id year name } }""")
    assert(up ==
      """{"data":{"updateOneMovie":{"id":6,"year":1998,"name":"Ronin"}}}""",
      up)
    val dup = run(
      """mutation { addOneMovie(id:6, name:"X", recommended:true) { id } }""")
    assert(dup.contains("A record for the given key already exists"), dup)
    val del = run("""mutation { deleteOneMovie(id:6) { id name } }""")
    assert(del == """{"data":{"deleteOneMovie":{"id":6,"name":"Ronin"}}}""",
      del)
  }

  test("array-typed arguments and selection") {
    val r = run(
      """mutation { addOneMovie(id:77, name:"Docs", recommended:false,
        |actors:["Ann", "Ben"]) { id actors } }""".stripMargin)
    assert(r ==
      """{"data":{"addOneMovie":{"id":77,"actors":["Ann","Ben"]}}}""", r)
    // element type violations rejected at validation
    val bad = run(
      """mutation { addOneMovie(id:78, name:"x", recommended:true,
        |actors:[1, 2]) { id } }""".stripMargin)
    assert(bad.contains("expects type String"), bad)
  }

  test("multi-word snake_case model round-trips through GraphQL naming") {
    val dir = Files.createTempDirectory("gql-models-mw")
    Files.writeString(dir.resolve("cloned_movie.json"),
      GqlFixture.movieJson.replace("\"movie\"", "\"cloned_movie\""))
    val reg = Registry.load(dir).toOption.get
    val engine = new CrudEngine(SparkSpec.spark,
      new ParquetBackend(SparkSpec.spark,
        Files.createTempDirectory("gql-store-mw").toString, buckets = 4))
    val mw = new Executor(reg, engine)
    val sdl = SchemaGen.sdl(mw.schema)
    assert(sdl.contains("type ClonedMovie {"), sdl)
    assert(sdl.contains("readOneClonedMovie"), sdl)
    assert(sdl.contains("clonedMovies:[ClonedMovie!]!"), sdl)
    val add = Executor.toJson(mw.handlePost(
      """mutation { addOneClonedMovie(id:1, name:"c", recommended:true) { id } }""",
      None, Map.empty))
    assert(add == """{"data":{"addOneClonedMovie":{"id":1}}}""", add)
    val many = Executor.toJson(mw.handlePost(
      """{ clonedMovies { id name } }""", None, Map.empty))
    assert(many == """{"data":{"clonedMovies":[{"id":1,"name":"c"}]}}""", many)
  }

  /** Movies 1–3 land in buckets 1–3 of four, so readMany lists them in
    * id order: arrays, an empty array, null optionals. */
  lazy val shapes: Executor = {
    val e = GqlFixture.freshExecutor()
    Seq(
      """addOneMovie(id:1, name:"Heat", recommended:true, year:1995, actors:["Al", "Bob \"B\""])""",
      """addOneMovie(id:2, name:"Ronin", recommended:false, actors:[])""",
      """addOneMovie(id:3, name:"Tab\tbed", recommended:true, year:2001)"""
    ).foreach { add =>
      val r = Executor.toJson(e.handlePost(s"mutation { $add { id } }", None, Map.empty))
      assert(r.startsWith("""{"data""""), r)
    }
    e
  }

  def runShapes(q: String): String =
    Executor.toJson(shapes.handlePost(q, None, Map.empty))

  test("readMany: aliases, fragments, __typename, duplicates, arrays, nulls") {
    val r = runShapes(
      """{ movies { key: id name ...extra ... on Movie { actors } t: __typename
        |__typename year id ... { name } } }
        |fragment extra on Movie { recommended theYear: year }""".stripMargin)
    assert(r == "{\"data\":{\"movies\":[" +
      """{"key":1,"name":"Heat","recommended":true,"theYear":1995,""" +
      """"actors":["Al","Bob \"B\""],"__typename":"Movie","__typename":"Movie",""" +
      """"year":1995,"id":1,"name":"Heat"},""" +
      """{"key":2,"name":"Ronin","recommended":false,"theYear":null,""" +
      """"actors":[],"__typename":"Movie","__typename":"Movie",""" +
      """"year":null,"id":2,"name":"Ronin"},""" +
      """{"key":3,"name":"Tab\tbed","recommended":true,"theYear":2001,""" +
      """"actors":null,"__typename":"Movie","__typename":"Movie",""" +
      """"year":2001,"id":3,"name":"Tab\tbed"}]}}""", r)
  }

  test("readMany: one model under two aliases, root fragments, __typename only") {
    val r = runShapes(
      """query { a: movies { id } ...R b: movies { name theId: id } }
        |fragment R on Query { movies { __typename } }""".stripMargin)
    assert(r == """{"data":{"a":[{"id":1},{"id":2},{"id":3}],""" +
      """"movies":[{"__typename":"Movie"},{"__typename":"Movie"},{"__typename":"Movie"}],""" +
      """"b":[{"name":"Heat","theId":1},{"name":"Ronin","theId":2},""" +
      """{"name":"Tab\tbed","theId":3}]}}""", r)
  }

  test("readOne and mutations: aliases, fragments, __typename, arrays, nulls") {
    val r = runShapes(
      """query { x: readOneMovie(id:2) { ...F n: name actors t: __typename }
        |y: readOneMovie(id:3) { actors year ... on Movie { id id } }
        |z: readOneMovie(id:1) { actors } }
        |fragment F on Movie { year recommended }""".stripMargin)
    assert(r == """{"data":{"x":{"year":null,"recommended":false,"n":"Ronin",""" +
      """"actors":[],"__typename":"Movie"},""" +
      """"y":{"actors":null,"year":2001,"id":3,"id":3},""" +
      """"z":{"actors":["Al","Bob \"B\""]}}}""", r)
    val up = runShapes(
      """mutation { updateOneMovie(id:2, actors:["Cy"]) { ...F t: __typename } }
        |fragment F on Movie { theActors: actors year }""".stripMargin)
    assert(up == """{"data":{"updateOneMovie":{"theActors":["Cy"],""" +
      """"year":null,"__typename":"Movie"}}}""", up)
    val add = runShapes(
      """mutation { addOneMovie(id:4, name:"N", recommended:true) { __typename actors ... { i: id } } }""")
    assert(add == """{"data":{"addOneMovie":{"__typename":"Movie","actors":null,"i":4}}}""", add)
    val del = runShapes("""mutation { deleteOneMovie(id:4) { name year } }""")
    assert(del == """{"data":{"deleteOneMovie":{"name":"N","year":null}}}""", del)
  }

  test("subscription events skip attributes the changed record lacks") {
    val plan = shapes.subscriptionPlan(
      """subscription { movies { id year ...F k: __typename } }
        |fragment F on Movie { theName: name }""".stripMargin, None).toOption.get
    val movie = plan.model
    val rec = graft.crud.Records.parseRecord(
      """{"id":1,"name":"Heat"}""", movie, Some(Seq.empty)).toOption.get
    assert(Executor.dataJson(shapes.projectEvent(plan, rec)) ==
      """{"movies":{"id":1,"theName":"Heat","__typename":"Movie"}}""")
  }

  test("fragment cycles are rejected, not executed") {
    val r = run(
      """query { readOneMovie(id:5) { ...A } }
        |fragment A on Movie { id ...B }
        |fragment B on Movie { name ...A }""".stripMargin)
    assert(r.contains("cycle"), r)
    val self = run(
      """query { readOneMovie(id:5) { ...A } }
        |fragment A on Movie { id ...A }""".stripMargin)
    assert(self.contains("cycle"), self)
  }

  test("subscription documents execute end-to-end") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("gql-sub-models")
    Files.writeString(dir.resolve("movie.json"), GqlFixture.movieJson)
    val reg = Registry.load(dir).toOption.get
    val movie = reg.lookup("movie").toOption.get
    val log = new graft.streaming.ChangeLog(SparkSpec.spark,
      Files.createTempDirectory("gql-sub-log").toString)
    val engine = new CrudEngine(SparkSpec.spark,
      new ParquetBackend(SparkSpec.spark,
        Files.createTempDirectory("gql-sub-store").toString, 4), Some(log))
    val sx = new Executor(reg, engine)

    // SDL + schema carry the Subscription type
    assert(SchemaGen.sdl(sx.schema).contains("type Subscription { movies:Movie!}"))

    // the request/response endpoint directs subscriptions to the stream
    val rr = Executor.toJson(sx.handlePost(
      "subscription { movies { id name } }", None, Map.empty))
    assert(rr.contains("event-stream"), rr)
    // and validation still applies to subscription selections
    val bad = Executor.toJson(sx.handlePost(
      "subscription { movies { nope } }", None, Map.empty))
    assert(bad.contains("has no field"), bad)

    // plan resolution + per-event projection (aliases, __typename)
    val plan = sx.subscriptionPlan(
      "subscription { movies { theName: name id __typename } }", None)
      .toOption.get
    assert(plan.model.modelName.pluralCamel == "movies")
    engine.createOne(movie, """{"id":1,"name":"Heat","recommended":true}""")
    engine.updateOne(movie, "1", """{"year":1995}""")
    val rec = graft.crud.Records.parseRecord(
      """{"id":1,"name":"Heat","year":1995,"recommended":true}""",
      movie, Some(Seq.empty)).toOption.get
    assert(Executor.dataJson(sx.projectEvent(plan, rec)) ==
      """{"movies":{"theName":"Heat","id":1,"__typename":"Movie"}}""")

    // streaming execution: changelog → projected GraphQL payloads
    val q = sx.subscriptionFrame(plan, log)
      .writeStream.format("memory").queryName("gql_sub")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = SparkSpec.spark.table("gql_sub").orderBy("seq").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("op") == "create")
    assert(rows(0).getAs[String]("data") ==
      """{"theName":"Heat","id":1,"__typename":"Movie"}""")
    assert(rows(1).getAs[String]("data").contains(""""theName":"Heat""""))
  }

  test("standard GraphiQL-style introspection query executes") {
    // abbreviated form of the standard IntrospectionQuery: deep
    // nesting, fragments on meta types, wrapper-type chains
    val r = run(
      """query IntrospectionQuery {
        |  __schema {
        |    queryType { name }
        |    mutationType { name }
        |    types { ...FullType }
        |    directives { name }
        |  }
        |}
        |fragment FullType on __Type {
        |  kind name description
        |  fields { name args { ...InputValue } type { ...TypeRef }
        |           isDeprecated }
        |  inputFields interfaces enumValues possibleTypes
        |}
        |fragment InputValue on __InputValue {
        |  name description type { ...TypeRef } defaultValue
        |}
        |fragment TypeRef on __Type {
        |  kind name ofType { kind name ofType { kind name } }
        |}""".stripMargin)
    assert(r.startsWith("""{"data":{"__schema":"""), r.take(200))
    assert(r.contains(""""name":"Movie""""), "model type listed")
    assert(r.contains(""""kind":"SCALAR","""), "builtin scalars listed")
    assert(r.contains(""""kind":"NON_NULL","""), "wrapper chain resolved")
    assert(r.contains(""""name":"readOneMovie""""), "query fields listed")
    assert(r.contains(""""directives":[]"""), "empty directives")
  }

  test("introspection: __schema and __type") {
    val r = run(
      """{ __schema { queryType { name } mutationType { name }
        |subscriptionType { name } } }""".stripMargin)
    assert(r.contains(""""queryType":{"name":"Query"}"""), r)
    assert(r.contains(""""mutationType":{"name":"Mutation"}"""), r)
    // Subscription is a capability extension (reference: null because
    // subscription execution is todo!() there)
    assert(r.contains(""""subscriptionType":{"name":"Subscription"}"""), r)

    val t = run("""{ __type(name:"Movie") { name kind fields { name } } }""")
    assert(t.contains(""""name":"Movie","kind":"OBJECT""""), t)
    assert(t.contains(""""fields":[{"name":"id"}"""), t)

    val missing = run("""{ __type(name:"Nope") { name } }""")
    assert(missing == """{"data":{"__type":null}}""", missing)
  }
}
