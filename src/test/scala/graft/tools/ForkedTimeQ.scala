package graft.tools

/** Runs `graft.tools.TimeQ` in a JVM of its own, for measurements the
  * shared test session cannot make: a different local parallelism, or
  * a JVM-wide counter (the generated-code cache and its
  * `CodegenMetrics`) that the other suites in the test JVM would
  * disturb. Uses the compiled main classes, so `Test/compile` must
  * have run. */
object ForkedTimeQ {
  // Spark 4.x on JDK 17 outside spark-submit needs the same module
  // opens the sbt javaOptions inject (build.sbt jdk17AddOpens).
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** TimeQ's exit code and its output lines (stdout and stderr) for
    * `names` on `local[cpus]`, over `sfDir` when given (TimeQ's
    * default corpus otherwise). */
  def run(names: Seq[String], cpus: Int, heap: String,
      sfDir: Option[String] = None): (Int, Vector[String]) = {
    val cmd = Seq("java") ++ addOpens ++ Seq(
      s"-Xmx$heap", "-Dspark.ui.enabled=false",
      "-cp", "target/scala-2.13/classes:/opt/spark/jars/*",
      "graft.tools.TimeQ") ++ names
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_CPUS", cpus.toString)
    sfDir.foreach(pb.environment().put("SPARK_GRAFT_SF_DIR", _))
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val src = scala.io.Source.fromInputStream(proc.getInputStream)
    val lines = try src.getLines().toVector finally src.close()
    (proc.waitFor(), lines)
  }
}
