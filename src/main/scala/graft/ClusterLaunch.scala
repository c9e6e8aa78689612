package graft

import org.apache.spark.sql.SparkSession

/** Shared executor-JVM launch configuration for `local-cluster[...]`
  * masters (ClusterSmoke, and ScaleDrill under
  * `SPARK_GRAFT_DRILL_MASTER`): worker-launched executor JVMs resolve
  * neither the application classpath nor the JDK-17 module opens from the
  * driver process, so both must be passed explicitly.
  *
  * The classpath is ABSOLUTIZED defensively: executors run with
  * cwd = $SPARK_HOME/work/<app>/<n>, so a relative entry that works on
  * the driver silently fails to resolve there — the first ClusterSmoke
  * run hit exactly that, surfacing as a (misleading)
  * SerializedLambda→Function ClassCastException on EVERY typed-lambda
  * stage while pure-Catalyst queries passed (deployment lesson, SCALE.md
  * round-13). Requires a REAL `java.class.path` — run these mains via
  * plain `java -cp`, not inside sbt.
  */
object ClusterLaunch {

  /** The JDK-17 `--add-opens` set executor JVMs need (the same list the
    * driver gets from build.sbt's fork options).
    */
  val AddOpens: String = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")

  def absoluteClasspath: String =
    System.getProperty("java.class.path").split(":")
      .filter(_.nonEmpty)
      .map(p => new java.io.File(p).getAbsolutePath).mkString(":")

  /** Apply the executor launch config to a builder targeting a
    * local-cluster master (executor memory is the caller's conf).
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder = {
    require(sys.env.contains("SPARK_HOME"),
      "local-cluster masters need SPARK_HOME (=/opt/spark): worker JVMs " +
        "resolve the executor launch command from it")
    b.config("spark.executor.extraClassPath", absoluteClasspath)
      .config("spark.executor.extraJavaOptions", AddOpens)
  }
}
