package graft

import java.nio.file.Files

import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.GraftPlanBridge
import org.apache.spark.sql.types.StructType

import graft.queries.Similarity
import graft.sources.Tables

/** The footer-schema read seam ([[Tables.parquet]]): its schema must be the
  * one Spark's own inference gives for the same path, field order and
  * partition columns included, and reading through it must start no job. */
class ParquetSchemaSpec extends SparkSuite {

  /** Every scale-factor directory next to the test one. */
  private val sfDirs: Seq[String] =
    Option(new java.io.File(sfDir).getParentFile.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("sf"))
      .map(_.getPath).sorted

  /** The seam's outcome equals inference's: the same schema (returned), or
    * the same error when inference fails (None). */
  private def assertSameAsInference(path: String): Option[StructType] = {
    val inferred = Try(spark.read.parquet(path).schema)
    val seam = Try(Tables.parquet(spark, path).schema)
    (inferred.toEither, seam.toEither) match {
      case (Right(a), Right(b)) =>
        assert(a == b, s"$path: seam schema\n${b.treeString}\ninference\n${a.treeString}")
        Some(a)
      case (Left(a), Left(b)) =>
        assert(a.getClass == b.getClass && a.getMessage == b.getMessage,
          s"$path: seam error $b, inference error $a")
        None
      case (a, b) => fail(s"$path: inference gave $a, the seam $b")
    }
  }

  private def withConf[T](key: String, value: String)(f: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Jobs started while `f` runs, counted after the listener bus drains. */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    GraftPlanBridge.flushListenerBus(sc)
    sc.addSparkListener(l)
    try { f; GraftPlanBridge.flushListenerBus(sc) }
    finally sc.removeSparkListener(l)
    jobs.get
  }

  private def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(d)))
    d.getPath
  }

  test("every testdata table: seam schema == inferred schema, nanosAsLong on and off") {
    assert(sfDirs.nonEmpty, s"no sf* directories beside $sfDir")
    for (on <- Seq("true", "false"); dir <- sfDirs; name <- Tables.names)
      withConf(Tables.NanosAsLongKey, on) {
        val schema = assertSameAsInference(Tables.path(dir, name))
        // either events generation reads with the legacy conf on
        if (on == "true") assert(schema.isDefined, Tables.path(dir, name))
      }
  }

  test("a Spark-written multi-part directory: seam schema == inferred schema") {
    val out = s"${tmpDir("graft_pq_parts")}/t"
    spark.range(0, 300, 1, 3)
      .selectExpr("id", "cast(id % 7 as int) as k", "cast(id as string) as s",
        "array(cast(id as float)) as v", "named_struct('a', id, 'b', 'x') as st")
      .write.parquet(out)
    assert(new java.io.File(out).listFiles().count(_.getName.startsWith("part-")) == 3)
    assertSameAsInference(out)
  }

  test("the cid-partitioned ivf assign dir: partition column last, same type") {
    val root = Similarity.ensureIvfIndex(spark, sfDir)
    val schema = assertSameAsInference(s"$root/assign").get
    assert(schema.last.name == "cid", schema.treeString)
    assertSameAsInference(s"$root/centroids")
  }

  test("an empty directory raises inference's own error") {
    val empty = tmpDir("graft_pq_empty")
    assert(Try(spark.read.parquet(empty)).isFailure)
    assert(assertSameAsInference(empty).isEmpty)
  }

  test("mergeSchema on: the seam falls back to Spark's merging read") {
    val root = tmpDir("graft_pq_merge")
    spark.range(5).selectExpr("id", "id * 2 as a").write.parquet(s"$root/k=1")
    spark.range(5).selectExpr("id", "cast(id as string) as b").write.parquet(s"$root/k=2")
    val merged = withConf("spark.sql.parquet.mergeSchema", "true")(
      assertSameAsInference(root)).get
    assert(merged.fieldNames.toSeq == Seq("id", "a", "b", "k"), merged.treeString)
  }

  test("Tables.load of every table and the q_ivf_probe builder start no job") {
    // control: the counter sees the inference job of a schema-less read
    assert(jobsDuring(spark.read.parquet(Tables.path(sfDir, "region"))) == 1)
    Tables.names.foreach { n =>
      assert(jobsDuring(Tables.load(spark, sfDir, n)) == 0, s"Tables.load($n)")
    }
    assert(jobsDuring(Tables.loadEventsStream(spark, sfDir)) == 0, "loadEventsStream")
    val probe = SparkEntry.queries("q_ivf_probe")
    probe(spark, sfDir) // builds the index once if no earlier test did
    assert(jobsDuring(probe(spark, sfDir)) == 0, "q_ivf_probe builder call")
  }
}
