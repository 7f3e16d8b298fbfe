package graft

import java.nio.file.Paths

/** Starts a child JVM on the test JVM's classpath (compiled test classes and
  * every Spark jar) with the JDK 17 module opens a SparkSession needs. */
object ChildJvm {
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** `mainClass args`, stdout and stderr into `log` */
  def start(mainClass: String, args: Seq[String], log: java.io.File,
            jvmArgs: Seq[String] = Nil): Process = {
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val pb = new ProcessBuilder((Seq(java) ++ addOpens ++ jvmArgs ++ Seq(mainClass) ++ args): _*)
    // java honors CLASSPATH from the environment
    pb.environment().put("CLASSPATH", sys.props("java.class.path"))
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    pb.start()
  }
}
