package graft

import org.scalatest.funsuite.AnyFunSuite

/** Tooling guard for the footer-schema rule: a schema-less
  * `spark.read.parquet(..)` starts a schema-inference job, so every parquet
  * read in `src/main` goes through [[graft.sources.Tables.parquet]]. This
  * scan fails, naming each offender, when a read chain reaches `.parquet(`
  * without a `.schema(`. A per-read `mergeSchema` option is exempt: merging
  * has to open every footer, so it stays Spark's. */
class ParquetReadGuardSpec extends AnyFunSuite {

  private val seam = "graft/sources/Tables.scala"

  private val schemaLessRead =
    """\.read\s*(\.options?\((?![^)]*mergeSchema)[^)]*\)\s*)*\.parquet\(""".r

  test("no src/main file outside the seam reads parquet without a schema") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (${root.getAbsolutePath})")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val offenders = files(root).filter(_.getName.endsWith(".scala"))
      .filterNot(_.getPath.replace('\\', '/').endsWith(seam))
      .flatMap { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        schemaLessRead.findAllMatchIn(text).map { m =>
          s"${f.getPath}:${text.substring(0, m.start).count(_ == '\n') + 1}"
        }
      }
    assert(offenders.isEmpty,
      "schema-less parquet reads (use graft.sources.Tables.parquet):\n" +
        offenders.mkString("\n"))
  }

  test("the scan flags the schema-less forms and passes the others") {
    val flagged = Seq("spark.read.parquet(p)", "spark.read\n  .parquet(p)",
      """spark.read.option("k", "v").parquet(p)""")
    val passed = Seq("spark.read.schema(s).parquet(p)", "df.write.parquet(p)",
      """spark.read.option("mergeSchema", "true").parquet(a, b)""",
      "spark.readStream.schema(s).parquet(p)", "Tables.parquet(spark, p)")
    flagged.foreach(c => assert(schemaLessRead.findFirstIn(c).isDefined, c))
    passed.foreach(c => assert(schemaLessRead.findFirstIn(c).isEmpty, c))
  }
}
