package graft.crud

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.core._
import graft.storage.{GusJsonBackend, ParquetBackend}

class RecordValidationSpec extends AnyFunSuite {
  val movie: ModelDefinition = Registry.parseDefinition(
    """{"model_name":"movie","storage_type":"json",
      |"attributes":{"id":"Integer","name":"String","year":"Integer",
      |"actors":["String"],"recommended":"Boolean"},
      |"primary_key":"id","required":["id","name","recommended"]}"""
      .stripMargin.replace("\n", "")).toOption.get

  test("valid full record") {
    val r = Records.parseRecord(
      """{"id":1,"name":"Natural Born Killers","year":1994,
        |"actors":["Woody Harrelson","Juliette Lewis"],"recommended":true}"""
        .stripMargin.replace("\n", ""), movie)
    assert(r.isRight)
    assert(r.toOption.get("id") == TrueValue.Prim(PrimValue.IntVal(1)))
  }
  test("nulls allowed for non-required attrs") {
    val r = Records.parseRecord(
      """{"id":1,"name":"x","year":null,"actors":null,"recommended":false}""",
      movie)
    assert(r.isRight)
    assert(r.toOption.get("year") == TrueValue.Null)
  }
  // FIXTURES.md §3 negative cases — strict, no coercion
  def bad(json: String, clue: String): Unit =
    assert(Records.parseRecord(json, movie).isLeft, clue)
  test("string not accepted as Integer") {
    bad("""{"id":"1","name":"x","recommended":true}""", "id String")
  }
  test("string not accepted as Boolean") {
    bad("""{"id":1,"name":"x","recommended":"true"}""", "recommended String")
  }
  test("integer not accepted as String") {
    bad("""{"id":1,"name":1994,"recommended":true}""", "name Integer")
  }
  test("wrong array element type") {
    bad("""{"id":1,"name":"x","recommended":true,"actors":[1,2]}""", "elem type")
  }
  test("missing required attribute") {
    bad("""{"id":1,"recommended":true}""", "missing name")
  }
  test("null for required attribute") {
    bad("""{"id":1,"name":null,"recommended":true}""", "null name")
  }
  test("null array element") {
    bad("""{"id":1,"name":"x","recommended":true,"actors":["a",null]}""",
      "null elem")
  }
  test("unknown attribute") {
    bad("""{"id":1,"name":"x","recommended":true,"director":"Stone"}""",
      "unknown attr")
  }
  test("non-JSON body") { bad("no json", "not JSON") }

  test("uri id parsing is strictly typed") {
    assert(Records.parseUriId("5", movie) == Right(PrimValue.IntVal(5)))
    assert(Records.parseUriId("abc", movie).isLeft)
    assert(Records.parseUriId("true", movie).isLeft)
    val strPk = movie.copy(attributes = movie.attributes.map {
      case ("id", _) => "id" -> AttrType.Primitive(PrimitiveType.PString)
      case other => other
    })
    // String pk: raw passthrough, no JSON quoting needed
    assert(Records.parseUriId("5", strPk) == Right(PrimValue.StrVal("5")))
  }
}

class CrudSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark
  val movie: ModelDefinition = Registry.parseDefinition(
    """{"model_name":"movie","storage_type":"json",
      |"attributes":{"id":"Integer","name":"String","year":"Integer",
      |"actors":["String"],"recommended":"Boolean"},
      |"primary_key":"id","required":["id","name","recommended"]}"""
      .stripMargin.replace("\n", "")).toOption.get

  def freshEngine(): CrudEngine = {
    val dir = Files.createTempDirectory("graft-store").toString
    new CrudEngine(spark, new ParquetBackend(spark, dir, buckets = 4))
  }

  test("create → read → update → delete golden cycle") {
    goldenCycle(freshEngine())
  }

  private def goldenCycle(e: CrudEngine): Unit = {
    val created = e.createOne(movie,
      """{"id":5,"name":"Heat","recommended":true}""")
    assert(created.isRight)
    // null-padded to full schema
    assert(created.toOption.get("year") == TrueValue.Null)
    assert(created.toOption.get("actors") == TrueValue.Null)

    val read = e.readOne(movie, "5")
    assert(read == created)

    // duplicate pk refused
    assert(e.createOne(movie,
      """{"id":5,"name":"Heat2","recommended":false}""").isLeft)

    // partial update: only provided attrs overwrite; body pk ignored
    val updated = e.updateOne(movie, "5", """{"id":99,"year":1995}""")
    assert(updated.isRight)
    val u = updated.toOption.get
    assert(u("id") == TrueValue.Prim(PrimValue.IntVal(5)), "URI id wins")
    assert(u("name") == TrueValue.Prim(PrimValue.StrVal("Heat")), "kept")
    assert(u("year") == TrueValue.Prim(PrimValue.IntVal(1995)), "merged")
    assert(e.readOne(movie, "5") == updated)

    val deleted = e.deleteOne(movie, "5")
    assert(deleted == updated, "delete returns the removed record")
    assert(e.readOne(movie, "5").isLeft)
    assert(e.updateOne(movie, "5", """{"year":2000}""").isLeft)
    assert(e.deleteOne(movie, "5").isLeft)
  }

  test("readMany full scan") {
    val e = freshEngine()
    e.createOne(movie, """{"id":1,"name":"a","recommended":true}""")
    e.createOne(movie, """{"id":2,"name":"b","recommended":false}""")
    assert(e.readMany(movie).count() == 2)
  }

  test("records in different buckets don't disturb each other") {
    val e = freshEngine()
    (1L to 10L).foreach { i =>
      assert(e.createOne(movie,
        s"""{"id":$i,"name":"m$i","recommended":true}""").isRight)
    }
    assert(e.deleteOne(movie, "3").isRight)
    assert(e.readMany(movie).count() == 9)
    assert(e.readOne(movie, "7").isRight)
  }

  test("gus json storage file format round-trip with typed pk keys") {
    val f = Files.createTempDirectory("gusjson").resolve("data.json.gus")
    // seeded file in the reference's format (FIXTURES.md §4)
    Files.writeString(f,
      """{"movie":{"1":{"id":1,"name":"int-keyed","year":null,"actors":null,"recommended":true}}}""")
    val e = new CrudEngine(spark, new GusJsonBackend(spark, f.toString))
    assert(e.readOne(movie, "1").isRight)
    e.createOne(movie, """{"id":2,"name":"added","recommended":false}""")
    assert(e.readOne(movie, "2").isRight)
    val text = Files.readString(f)
    assert(text.contains("\"2\":{"), s"typed int key serialized unquoted: $text")
    assert(text.contains("\"int-keyed\""), "existing record preserved")
  }

  test("gus json backend: missing and empty file are empty tables") {
    val dir = Files.createTempDirectory("gusjson2")
    val e = new CrudEngine(spark,
      new GusJsonBackend(spark, dir.resolve("missing.json").toString))
    assert(e.readMany(movie).count() == 0)
    val empty = dir.resolve("empty.json")
    Files.writeString(empty, "")
    val e2 = new CrudEngine(spark, new GusJsonBackend(spark, empty.toString))
    assert(e2.readMany(movie).count() == 0)
  }

  test("constraints enforced on create/update and bulk load") {
    val constrained = Registry.parseDefinition(
      """{"model_name":"movie","storage_type":"json",
        |"attributes":{"id":"Integer","name":"String","year":"Integer"},
        |"primary_key":"id","required":["id","name"],
        |"constraints":{
        |  "year":{"min":1900,"max":2100},
        |  "name":{"min_length":1,"max_length":10}}}"""
        .stripMargin.replace("\n", "")).toOption.get
    val e = freshEngine()
    assert(e.createOne(constrained,
      """{"id":1,"name":"ok","year":1999}""").isRight)
    val tooOld = e.createOne(constrained,
      """{"id":2,"name":"ok","year":1600}""")
    assert(tooOld.isLeft && tooOld.swap.toOption.get.contains("Constraint violated"),
      tooOld)
    assert(e.createOne(constrained,
      """{"id":3,"name":"waaaaaaaytoolong"}""").isLeft)
    assert(e.updateOne(constrained, "1", """{"year":2200}""").isLeft)
    assert(e.updateOne(constrained, "1", """{"year":2000}""").isRight)
    // null non-required constrained attr passes
    assert(e.createOne(constrained,
      """{"id":4,"name":"x","year":null}""").isRight)

    // bulk load: declarative Column predicate pre-write
    val good = e.readMany(constrained)
    assert(e.bulkLoad(constrained, good).isRight)
    val bad = spark.createDataFrame(
      java.util.List.of(Records.toRow(
        Map("id" -> TrueValue.Prim(PrimValue.IntVal(9L)),
          "name" -> TrueValue.Prim(PrimValue.StrVal("x")),
          "year" -> TrueValue.Prim(PrimValue.IntVal(1234L))): Records.Record,
        constrained)), constrained.schema)
    assert(e.bulkLoad(constrained, bad).isLeft)

    // lengths count code points on both paths: 6 emoji are 12 UTF-16
    // units but fit max_length 10; 11 emoji do not
    val emoji6 = "\uD83D\uDE00" * 6
    val emoji11 = "\uD83D\uDE00" * 11
    assert(e.createOne(constrained,
      s"""{"id":5,"name":"$emoji6"}""").isRight)
    assert(e.createOne(constrained,
      s"""{"id":6,"name":"$emoji11"}""").isLeft)
    def named(name: String) = spark.createDataFrame(
      java.util.List.of(Records.toRow(
        Map("id" -> TrueValue.Prim(PrimValue.IntVal(7L)),
          "name" -> TrueValue.Prim(PrimValue.StrVal(name))): Records.Record,
        constrained)), constrained.schema)
    assert(e.bulkLoad(constrained, named(emoji6)).isRight)
    assert(e.bulkLoad(constrained, named(emoji11)).isLeft)
  }

  test("typed pk keys: Integer, String, Boolean models in one gus file") {
    // the reference cycles pk JSON keys "1" / "\"1\"" / "true"
    // (`json/mod.rs:230,257,283,312`): typed keys must not collide
    def model(name: String, pkType: String) = Registry.parseDefinition(
      s"""{"model_name":"$name","storage_type":"json",
         |"attributes":{"id":"$pkType","note":"String"},
         |"primary_key":"id","required":["id"]}"""
        .stripMargin.replace("\n", "")).toOption.get
    val intM = model("counter", "Integer")
    val strM = model("label", "String")
    val boolM = model("flag", "Boolean")
    val f = Files.createTempDirectory("gusjson-typed").resolve("data.json.gus")
    val e = new CrudEngine(spark, new GusJsonBackend(spark, f.toString))
    assert(e.createOne(intM, """{"id":1,"note":"int"}""").isRight)
    assert(e.createOne(strM, """{"id":"1","note":"str"}""").isRight)
    assert(e.createOne(boolM, """{"id":true,"note":"bool"}""").isRight)
    val text = Files.readString(f)
    assert(text.contains("\"1\":{"), text)      // Integer 1
    assert(text.contains("\"\\\"1\\\"\":{"), text) // String "1"
    assert(text.contains("\"true\":{"), text)   // Boolean true
    assert(e.readOne(intM, "1").toOption.get("note") ==
      TrueValue.Prim(PrimValue.StrVal("int")))
    assert(e.readOne(strM, "1").toOption.get("note") ==
      TrueValue.Prim(PrimValue.StrVal("str")))
    assert(e.readOne(boolM, "true").toOption.get("note") ==
      TrueValue.Prim(PrimValue.StrVal("bool")))
    // Boolean-pk uri parsing is strict: "1" is not a Boolean
    assert(e.readOne(boolM, "1").isLeft)
  }

  test("concurrent writers: per-model lock serializes mutations") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val e = freshEngine()
    val results = Await.result(Future.sequence((1 to 16).map { i =>
      Future(e.createOne(movie,
        s"""{"id":$i,"name":"m$i","recommended":true}"""))
    }), 120.seconds)
    assert(results.forall(_.isRight), results.filter(_.isLeft))
    assert(e.readMany(movie).count() == 16)
    // duplicate storm: exactly one winner for a contended id
    val dups = Await.result(Future.sequence((1 to 8).map { _ =>
      Future(e.createOne(movie,
        """{"id":99,"name":"race","recommended":false}"""))
    }), 120.seconds)
    assert(dups.count(_.isRight) == 1, dups)
    assert(e.readMany(movie).count() == 17)
  }

  test("gus json backend: corrupt file errors") {
    val f = Files.createTempDirectory("gusjson3").resolve("corrupt.json")
    Files.writeString(f, "{not json")
    val e = new CrudEngine(spark, new GusJsonBackend(spark, f.toString))
    intercept[IllegalStateException](e.readMany(movie).count())
  }
}
