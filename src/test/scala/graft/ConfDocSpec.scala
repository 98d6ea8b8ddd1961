package graft

import org.scalatest.funsuite.AnyFunSuite

/** README's conf table must list exactly the `spark.graft.*` keys the
  * engine reads: every key quoted as a string literal under `src/main`,
  * and nothing else. A key added without a README row, or a row left
  * behind after its key is removed, fails here.
  */
class ConfDocSpec extends AnyFunSuite {

  private val keyLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]*[A-Za-z0-9_])".r
  private val tableRow = "^\\| `(spark\\.graft\\.[A-Za-z0-9_.]+)` \\|".r

  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  private def sources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala") || f.getName.endsWith(".java")) Seq(f)
      else Nil
    }

  test("README's conf table lists exactly the spark.graft keys src/main reads") {
    val srcMain = new java.io.File("src/main")
    assert(srcMain.isDirectory, s"run from the repo root (cwd ${new java.io.File(".").getAbsolutePath})")
    val inCode = sources(srcMain)
      .flatMap(f => keyLiteral.findAllMatchIn(read(f)).map(_.group(1))).toSet
    val documented = read(new java.io.File("README.md")).split("\n").toSeq
      .flatMap(l => tableRow.findFirstMatchIn(l).map(_.group(1))).toSet
    assert(inCode.nonEmpty && documented.nonEmpty, "no keys found: the patterns went stale")
    assert((inCode -- documented).isEmpty,
      s"keys read under src/main with no README conf-table row: ${(inCode -- documented).toSeq.sorted}")
    assert((documented -- inCode).isEmpty,
      s"README conf-table rows for keys src/main never reads: ${(documented -- inCode).toSeq.sorted}")
  }
}
