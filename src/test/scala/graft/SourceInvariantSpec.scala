package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Where the operators may touch shared state, checked on their source:
  * session conf only through `SessionConf`, the file system only
  * through `BuildStore`, and no JVM-global `@volatile` var except
  * `Ann.lastBuildDiag` (perfbench's calibration still reads it). The
  * files are read from `src/main/scala` relative to the working
  * directory, which is the project root under sbt. */
class SourceInvariantSpec extends AnyFunSuite {
  private val operatorsDir = new File("src/main/scala/graft/operators")

  /** Each token and the one file of the package allowed to contain it. */
  private val confined = Seq(
    "conf.set(" -> "SessionConf.scala",
    "conf.unset(" -> "SessionConf.scala",
    ".write" -> "BuildStore.scala",
    "_SUCCESS" -> "BuildStore.scala",
    "graft_base_index" -> "BuildStore.scala")
  private val allowedVolatile =
    "Ann.scala" -> "@volatile private[graft] var lastBuildDiag"

  /** Every breach of the rules above in `sources` (file name → text). */
  private def violations(sources: Map[String, String]): Seq[String] = {
    val outside = for {
      (token, home) <- confined
      (file, text) <- sources.toSeq.sortBy(_._1)
      if file != home && text.contains(token)
    } yield s"$file contains `$token` (allowed only in $home)"
    val volatiles = for {
      (file, text) <- sources.toSeq.sortBy(_._1)
      line <- text.linesIterator
      if line.contains("@volatile") &&
        !(file == allowedVolatile._1 && line.contains(allowedVolatile._2))
    } yield s"$file declares a @volatile: ${line.trim}"
    outside ++ volatiles
  }

  test("operators confine conf mutation to SessionConf, files to BuildStore, @volatile to lastBuildDiag") {
    assert(operatorsDir.isDirectory,
      s"no operator sources at ${operatorsDir.getAbsolutePath}")
    val sources = operatorsDir.listFiles().filter(_.getName.endsWith(".scala"))
      .map(f => f.getName -> Files.readString(f.toPath)).toMap
    Seq("SessionConf.scala", "BuildStore.scala", "Ann.scala", "Similarity.scala")
      .foreach(f => assert(sources.contains(f), s"$f missing from $operatorsDir"))
    val found = violations(sources)
    assert(found.isEmpty, found.mkString("\n"))
    assert(sources("Ann.scala").contains(allowedVolatile._2),
      "Ann.lastBuildDiag moved; update the allowed @volatile")
    // the rule sees a plant in every other operator file
    (sources.keySet - "SessionConf.scala").foreach { f =>
      val planted = sources.updated(f, sources(f) + "\n// s.conf.set(\"k\", \"v\")\n")
      assert(violations(planted).exists(_.startsWith(s"$f contains `conf.set(`")),
        s"a conf.set planted in $f went unseen")
    }
  }
}
