package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: every read of a testdata table goes through [[Tables.t]]
  * (or [[Tables.schema]]), whose schema memo spares each read a
  * schema-inference Spark job. A query that spells the read out as
  * `.read.parquet(s"$dir/<table>.parquet")` would silently bring the job
  * back, so this spec scans `src/main` for that form. */
class TableReadGuardSpec extends AnyFunSuite {
  private val tableRead = (
    """\.read\s*\.parquet\(\s*s"[^"]*/(""" + Tables.names.mkString("|") +
      """)\.parquet"\s*\)""").r

  /** The bench warmup's nation read: the bench harness is frozen. */
  private val exempt = Set(
    "Bench.scala" -> """.read.parquet(s"$sfDir/nation.parquet")""")

  private def offending(file: String, text: String): Seq[String] =
    tableRead.findAllMatchIn(text)
      .filterNot(m => exempt(file -> m.matched))
      .map(m => s"$file:${text.take(m.start).count(_ == '\n') + 1}: " +
        m.matched.replaceAll("\\s+", " "))
      .toSeq

  test("the pattern flags a spelled-out table read, across lines too") {
    assert(offending("X.scala",
      """val n = spark.read.parquet(s"$dir/nation.parquet")""").nonEmpty)
    assert(offending("X.scala",
      "spark.read\n  .parquet(s\"${if (a) dir else b}/events.parquet\")")
      .nonEmpty)
    assert(offending("X.scala",
      """spark.read.parquet(s"$store/assignment")""").isEmpty)
  }

  test("no src/main file outside Tables.scala reads a table directly") {
    val root = Paths.get("src", "main", "scala")
    require(Files.isDirectory(root),
      s"run from the project root: ${root.toAbsolutePath} is missing")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.size > 50, s"scanned only ${sources.size} files")
    val found = sources
      .filterNot(_.getFileName.toString == "Tables.scala")
      .flatMap { p: Path =>
        offending(p.getFileName.toString, Files.readString(p))
      }
    assert(found.isEmpty,
      "read testdata tables through graft.Tables.t:\n" + found.mkString("\n"))
  }
}
