package graft

import java.nio.file.{Files, Paths}

/** Dev tool: the [[Verify]] dump restricted to named queries — fast
  * single-operator iteration against tools/check_oracle.py.
  * Usage: runMain graft.VerifyOne <sfDir> <outDir> <query>[,query...]
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, namesArg) = args.take(3)
    val names = namesArg.split(",").toSeq
    val spark = LocalSession("graft-verifyone", 8)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      System.err.println(s"[verifyone] $name dumped")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
