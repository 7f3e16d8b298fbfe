package perfbench

import java.nio.file.{Files, Paths}

/** Writes the registry's DuckDB oracle SQL for the named queries as one JSON
  * object: `Oracles <file> <query>...` */
object Oracles {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(args(0)), Json(args.drop(1).map(q => q -> sql(q)).toMap))
  }
}
