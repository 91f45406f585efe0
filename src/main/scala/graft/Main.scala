package graft

import java.nio.file.{Files, Paths}

import graft.core.Registry
import graft.crud.CrudEngine
import graft.rest.Server
import graft.storage.{GusJsonBackend, ParquetBackend, StorageBackend}

/** CLI — the reference's `gus start` / `gus create-model`
  * (`index.rs:20-110`, `model_cli.rs`):
  *
  *  - `start --modelspath <dir> [--port N]
  *     [--storage parquet:<dir>|gusjson:<file>]` — validates arguments
  *    the same way (port bounds, existing dirs), loads the model
  *    registry once (the reference re-reads per request), serves
  *    REST + GraphQL over the Spark CRUD engine;
  *  - `create-model --name m --attrs "id:Integer,tags:[String]"
  *     --pk id --required "id" --out <dir>` — the reference's
  *    interactive wizard as a flag-driven command, running the same
  *    validation rules before writing the definition file;
  *  - `create-model --interactive [--out <dir>]` — the reference's
  *    dialog UX itself ([[graft.cli.ModelWizard]]).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val (cmd, rest0) =
      if (args.nonEmpty && !args.head.startsWith("--")) (args.head, args.tail)
      else ("start", args)
    // bare (value-less) flags are extracted before key/value pairing
    val interactive = rest0.contains("--interactive")
    val rest = rest0.filterNot(_ == "--interactive")
    val opts0 = rest.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val opts = if (interactive) opts0 + ("interactive" -> "true") else opts0
    cmd match {
      case "start" => start(opts)
      case "create-model" => createModel(opts)
      case "configure-storages" => configureStorages(opts)
      case other =>
        System.err.println(s"unknown command $other " +
          "(expected: start | create-model | configure-storages)")
        sys.exit(2)
    }
  }

  /** The reference's storage-config wizard (`storage_handler.rs:
    * 102-137`, `json_cli.rs`) as a flag command: writes the
    * `{"json": {"storage_file": path}}` config file that `start
    * --storages <file>` reads. */
  private def configureStorages(opts: Map[String, String]): Unit = {
    val file = opts.getOrElse("storage-file", "./data.json.gus")
    val out = Paths.get(opts.getOrElse("out", "./storages.json"))
    Files.writeString(out,
      s"""{"json": {"storage_file": ${core.JsonUtil.quote(file)}}}""")
    println(s"wrote $out")
  }

  private def createModel(opts: Map[String, String]): Unit = {
    def need(k: String): String = opts.getOrElse(k, {
      System.err.println(s"missing --$k"); sys.exit(2)
    })
    // --interactive: the reference's dialog UX (model_cli.rs:36-199);
    // the wizard validates per-field, so parseDefinition below is a
    // belt-and-braces re-check on the assembled document
    if (opts.contains("interactive")) {
      val wizard = new graft.cli.ModelWizard(
        new java.io.BufferedReader(new java.io.InputStreamReader(System.in)),
        System.out)
      val json = wizard.run()
      Registry.parseDefinition(json) match {
        case Left(err) => System.err.println(s"invalid model: $err"); sys.exit(2)
        case Right(m) =>
          val out = Paths.get(opts.getOrElse("out", "."),
            s"${m.modelName.raw}.json")
          if (out.getParent != null) Files.createDirectories(out.getParent)
          Files.writeString(out, json)
          println(s"wrote $out")
      }
      return
    }
    val name = need("name")
    val attrs = need("attrs").split(",").map { a =>
      val Array(n, t) = a.split(":", 2)
      val ty = if (t.startsWith("[") && t.endsWith("]"))
        "[" + core.JsonUtil.quote(t.drop(1).dropRight(1)) + "]"
      else core.JsonUtil.quote(t)
      core.JsonUtil.quote(n.trim) + ": " + ty
    }.mkString(", ")
    val required = need("required").split(",").map(r =>
      core.JsonUtil.quote(r.trim)).mkString(", ")
    val json =
      s"""{
         |    "model_name": ${core.JsonUtil.quote(name)},
         |    "storage_type": "json",
         |    "attributes": { $attrs },
         |    "primary_key": ${core.JsonUtil.quote(need("pk"))},
         |    "required": [ $required ]
         |}""".stripMargin
    Registry.parseDefinition(json) match {
      case Left(err) => System.err.println(s"invalid model: $err"); sys.exit(2)
      case Right(m) =>
        val out = Paths.get(opts.getOrElse("out", "."),
          s"${m.modelName.raw}.json")
        Files.createDirectories(out.getParent)
        Files.writeString(out, json)
        println(s"wrote $out")
    }
  }

  private def start(opts: Map[String, String]): Unit = {

    val modelsPath = opts.getOrElse("modelspath", {
      System.err.println("missing --modelspath <dir>"); sys.exit(2)
    })
    if (!Files.isDirectory(Paths.get(modelsPath))) {
      System.err.println(s"modelspath $modelsPath is not a directory")
      sys.exit(2)
    }
    val port = opts.get("port").map(_.toInt).getOrElse(8080)
    if (port < 0 || port > 65535) {
      System.err.println(s"invalid port $port"); sys.exit(2)
    }

    val spark = Sessions.local()

    // --storages <file>: reference-format storage config
    // ({"json": {"storage_file": path}}); --storage overrides directly
    val fromConfig: Option[String] = opts.get("storages").flatMap { f =>
      core.JsonUtil.parse(Files.readString(Paths.get(f))).toOption
        .flatMap(n => Option(n.get("json")))
        .flatMap(n => Option(n.get("storage_file")))
        .filter(_.isTextual).map(n => "gusjson:" + n.textValue())
    }
    val backend: StorageBackend =
      opts.get("storage").orElse(fromConfig).getOrElse("parquet:./data") match {
        case s if s.startsWith("gusjson:") =>
          new GusJsonBackend(spark, s.stripPrefix("gusjson:"))
        case s if s.startsWith("parquet:") =>
          new ParquetBackend(spark, s.stripPrefix("parquet:"))
        case other =>
          System.err.println(s"unknown storage $other"); sys.exit(2)
      }

    // --changelog <dir> enables subscription streams (SSE + readStream)
    val changeLog = opts.get("changelog")
      .map(d => new graft.streaming.ChangeLog(spark, d))

    // --view <file>: serve this HTML at GET /api/graphql instead of
    // the built-in console (O20 — the reference's compiled-in
    // GraphiQL page; view/graphql-gui.html ships an equivalent)
    val viewHtml = opts.get("view").map { f =>
      val p = Paths.get(f)
      if (!Files.isRegularFile(p)) {
        System.err.println(s"view file $f does not exist"); sys.exit(2)
      }
      Files.readString(p)
    }

    Registry.load(Paths.get(modelsPath)) match {
      case Left(err) => System.err.println(err); sys.exit(2)
      case Right(reg) =>
        val server = new Server(reg,
          new CrudEngine(spark, backend, changeLog), port, changeLog,
          viewHtml)
        server.start()
        println(s"graft serving on :${server.boundPort} " +
          s"(models: ${reg.all.map(_.modelName.raw).mkString(", ")})")
        Thread.currentThread().join()
    }
  }
}
