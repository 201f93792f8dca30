package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Dev tool: measured scale behavior ABOVE the bench SF (SCALE.md §11).
  *
  * Every 100 TB claim in SCALE.md argues from plan shape; this harness
  * measures the claim at a corpus `mult`× the bench SF. It synthesizes
  * the scaled corpus by unioning `mult` key-disjoint copies of sf0.1 —
  * salted so no pairing stage can match ACROSS copies, because a scaled
  * corpus that introduces cross-copy near-duplicates would measure the
  * (quadratic) answer getting bigger, not the algorithm scaling:
  *  - documents: doc_id offset per copy AND the copy digit spliced into
  *    the text every 5 characters, so EVERY char-8 shingle window
  *    contains a copy-distinct character — shingle sets are fully
  *    copy-disjoint and LSH/Jaccard/SimHash pair counts scale linearly
  *    by construction. (A first attempt suffixed each word instead;
  *    windows INSIDE words ≥8 chars stayed identical across copies,
  *    minhash minima collided, copies of each doc shared LSH buckets and
  *    the pair count grew ~quadratically — 98× at mult=10 — which
  *    measured the synthetic corpus, not the engine.);
  *  - events: event_id/user_id offset per copy — sessions and interval
  *    joins stay user-local, hence copy-local;
  *  - embeddings: vec_id offset and a small per-copy vector perturbation
  *    (keeps LSH/IVF buckets from collapsing `mult` identical corpora
  *    into the same cells);
  *  - lineitem: partkey/suppkey offset per copy — `mult` disjoint
  *    pagerank graphs.
  * Everything else symlinks to the base SF (dims; not read by the hot
  * set). The scaled tables are parquet DIRECTORIES — which also makes
  * this the one place the engine is exercised on multi-file tables
  * (the driver's testdata is single-file).
  *
  *   sbt "runMain graft.ScaleStress [mult] [queries...]"
  *
  * Output: one JSON line per query with base/scaled seconds (min of 2
  * after a warmup pass each) and the time ratio; a ratio near `mult` is
  * linear scaling, below it is amortized fixed cost, above ~1.5× `mult`
  * is flagged super-linear. Results are summarized in SCALE.md §11.
  */
object ScaleStress {

  /** The measured hot set: the most expensive catalog queries over the
    * scalable tables (documents/events/embeddings/lineitem). */
  val DefaultQueries: Seq[String] = Seq(
    "q_jaccard_pairs", "q_dedup_components", "q_minhash_signatures",
    "q_lsh_candidates", "q_simhash_pairs", "q_dedup_exact",
    "q_cosine_topk", "q_ann_recall", "q_pagerank",
    "q_stream_join", "q_stream_join_outer", "q_sessionize_native",
    "q_kmeans_assign", "q_semdedup", "q_triangles", "q_crossdoc_ngrams",
    "q_stream_lsh_ivm", "q_blob_neardup", "q_ann_recall_clustered")

  private def buildSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // the cluster-sizing rule SCALE.md §5 prescribes, applied to the
      // harness itself: let AQE START wide and COALESCE down, instead of
      // pinning every exchange at cpu-count partitions. At 30× the
      // triangle close exchanges ~6 GB — at 32 pinned partitions that is
      // a ~200 MB per-task sort (spill, GC), measured 15× slower for 3×
      // the data between 10× and 30× while shuffled BYTES stayed exactly
      // linear; with a wide initial count AQE sizes each stage to its
      // data and small stages still coalesce to a handful of tasks.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus.toInt * 16).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.NanosAsLongKey, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    DevSessionConf(spark)
    spark
  }

  private def consume(spark: SparkSession, name: String, dir: String): Unit = {
    SparkEntry.queries(name)(spark, dir)
      .agg(expr("bit_xor(xxhash64(struct(*)))")).collect()
    ()
  }

  def build(spark: SparkSession, base: String, out: String, mult: Int): Unit = {
    val done = new java.io.File(s"$out/_SUCCESS")
    // corpus-format version marker: a cached corpus built by the pre-r17
    // INSERT tag (volume-inflating) must not be served to a harness
    // expecting the volume-neutral substitution tag — rebuild it
    val ver = new java.io.File(s"$out/_TAG_SUBST_V2")
    if (done.exists && ver.exists) return
    if (done.exists) {
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
    new java.io.File(out).mkdirs()
    val copies = 0 until mult

    def scaled(name: String)(one: (DataFrame, Int) => DataFrame): Unit = {
      val src = Tables.parquet(spark, s"$base/$name.parquet")
      copies.map(i => one(src, i)).reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }

    require(mult <= 1296, "copy tag is at most two base-36 chars")
    scaled("documents") { (d, i) =>
      // VOLUME-NEUTRAL tag (VERDICT r17 task 7): the tag SUBSTITUTES the
      // last 1-2 chars of every 5-char block instead of splicing between
      // blocks, so length(text) — and with it shingle/token volume — is
      // EXACTLY the base doc's and corpus ratios read directly as the
      // multiplier (the insert form inflated text ×1.2/×1.4 and every
      // >1× byte ratio needed a splice adjustment, SCALE.md §32).
      // Disjointness is unchanged: tag positions recur every 5 chars, so
      // every char-8 window contains a complete copy-distinct tag (incl.
      // the final window — the ≤4-char unsubstituted tail still leaves
      // the window covering the previous block's tag; checked per
      // length residue). One base-36 char through 36×, two past it.
      val tag =
        if (mult <= 36) Integer.toString(i, 36)
        else Integer.toString(i / 36, 36) + Integer.toString(i % 36, 36)
      val pat = if (mult <= 36) "(.{4})." else "(.{3}).."
      d.select(
        (col("doc_id") + i * 100000000L).as("doc_id"),
        regexp_replace(col("text"), pat, s"$$1$tag").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    scaled("events") { (e, i) =>
      e.select(
        (col("event_id") + i * 1000000000L).as("event_id"), col("ts"),
        (col("user_id") + i * 1000000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    scaled("embeddings") { (e, i) =>
      e.select(
        (col("vec_id") + i * 100000000L).as("vec_id"),
        transform(col("embedding"),
          x => (x + lit(i * 0.0137f)).cast("float")).as("embedding"),
        col("label"))
    }
    scaled("lineitem") { (l, i) =>
      l.withColumn("l_partkey", col("l_partkey") + i * 100000000L)
        .withColumn("l_suppkey", col("l_suppkey") + i * 100000000L)
        // orderkey offset keeps ORDERS copy-local too: without it, ten
        // copies of an order share its key, co-purchase pair generation
        // (q_triangles) would build pairs across copies and the pair
        // count would grow ~mult² — the same methodology trap the
        // documents splice fixes (see class doc)
        .withColumn("l_orderkey", col("l_orderkey") + i * 1000000000L)
    }

    Seq("region", "nation", "customer", "supplier", "part", "orders")
      .foreach { t =>
        val link = java.nio.file.Paths.get(out, s"$t.parquet")
        if (!java.nio.file.Files.exists(link))
          java.nio.file.Files.createSymbolicLink(link,
            java.nio.file.Paths.get(base, s"$t.parquet"))
      }
    ver.createNewFile()
    done.createNewFile()
    ()
  }

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.flatMap(_.toIntOption).getOrElse(10)
    val queries =
      if (args.length > 1) args.drop(1).toSeq else DefaultQueries
    val base = "/root/testdata/sf0.1"
    val out = s"/tmp/graft_scale_x$mult"

    // SPARK_GRAFT_SCALE_FORK=1: run EVERY query in its own fresh JVM
    // (parent builds the corpus once, then forks `ScaleStress <mult> <q>`
    // per query with the flag cleared, inheriting stdout). This retires
    // the 72×-era workaround of hand-batching heavy kernels ≤4 per
    // invocation: back-to-back convergence kernels in one JVM aborted the
    // runner on cumulative block-manager/AQE pressure (SCALE.md §23)
    // while every query passed isolated — per-query JVMs make isolation
    // structural instead of procedural.
    if (sys.env.get("SPARK_GRAFT_SCALE_FORK").exists(_ != "0")
        && queries.size > 1) {
      import scala.jdk.CollectionConverters._
      val spark0 = buildSession()
      build(spark0, base, out, mult)
      spark0.stop()
      val javaBin = java.nio.file.Paths.get(
        sys.props("java.home"), "bin", "java").toString
      val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-javaagent") ||
          a.startsWith("-agentlib") || a.startsWith("-agentpath"))
      queries.foreach { q =>
        val cmd = (Seq(javaBin) ++ jvm ++
          Seq("-cp", sys.props("java.class.path"), "graft.ScaleStress",
            mult.toString, q)).asJava
        val pb = new ProcessBuilder(cmd)
        pb.environment().put("SPARK_GRAFT_SCALE_FORK", "0")
        pb.redirectOutput(ProcessBuilder.Redirect.INHERIT)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val p = pb.start()
        if (p.waitFor() != 0)
          println(s"""{"query":"$q","flag":"CHILD-FAILED"}""")
      }
      return
    }
    val spark = buildSession()

    build(spark, base, out, mult)

    // measured shuffle volume per run: the time ratio says WHETHER a
    // query scales, the shuffle-bytes ratio says WHY — a stage whose
    // exchanged bytes grow faster than the corpus is the smoking gun
    // even when wall-clock hides it behind parallelism (this is what
    // would have convicted the 411M-row wedge exchange directly)
    val tally = new java.util.concurrent.atomic.AtomicLong
    // spill tallies (memory-pressure runs, VERDICT r15 item 5): nonzero
    // spill with completion is the HEALTHY outcome of an undersized heap;
    // the JSON rows carry both so a -Xmx-constrained fork documents it
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = sc.stageInfo.taskMetrics
          if (m != null) {
            tally.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            spillMem.addAndGet(m.memoryBytesSpilled)
            spillDisk.addAndGet(m.diskBytesSpilled)
          }
          ()
        }
      })

    def isolate(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }
    /** (seconds, shuffle bytes written, mem spill, disk spill) per run. */
    def time(name: String, dir: String): (Double, Long, Long, Long) = {
      isolate()
      org.apache.spark.sql.graftbridge.GraftPlanBridge
        .flushListenerBus(spark.sparkContext)
      tally.set(0L); spillMem.set(0L); spillDisk.set(0L)
      val t0 = System.nanoTime()
      consume(spark, name, dir)
      val secs = (System.nanoTime() - t0) / 1e9
      // stage-completed events drain asynchronously after the action
      // returns; the bus flush makes the tally exact (replaces the old
      // 100 ms poll-stabilize loop)
      org.apache.spark.sql.graftbridge.GraftPlanBridge
        .flushListenerBus(spark.sparkContext)
      (secs, tally.get, spillMem.get, spillDisk.get)
    }
    def minOf2(name: String, dir: String): (Double, Long, Long, Long) = {
      // report the BYTES of whichever rep produced the min TIME: AQE
      // broadcast-vs-shuffle plan transitions (documented in SCALE.md)
      // mean the two reps can plan — and therefore shuffle — differently,
      // so pairing rep-1's time with rep-2's bytes could mismatch
      val a = time(name, dir); val b = time(name, dir)
      if (a._1 <= b._1) a else b
    }

    val results = queries.map { q =>
      consume(spark, q, "/root/testdata/sf0.001") // codegen warmup
      val (b, bBytes, _, _) = minOf2(q, base)
      val (s, sBytes, sSpillM, sSpillD) = minOf2(q, out)
      val ratio = s / b
      val shufRatio =
        if (bBytes > 0) sBytes.toDouble / bBytes else Double.NaN
      val flag = if (ratio > mult * 1.5) "SUPER-LINEAR" else "ok"
      println(f"""{"query":"$q","base_s":$b%.3f,"x${mult}_s":$s%.3f,"ratio":$ratio%.2f,"base_shuffle_mb":${bBytes / 1e6}%.1f,"x${mult}_shuffle_mb":${sBytes / 1e6}%.1f,"shuffle_ratio":$shufRatio%.2f,"x${mult}_spill_mem_mb":${sSpillM / 1e6}%.1f,"x${mult}_spill_disk_mb":${sSpillD / 1e6}%.1f,"flag":"$flag"}""")
      (q, b, s, ratio)
    }
    val worst = results.maxBy(_._4)
    println(f"""{"summary":"scale x$mult","queries":${results.size},"worst":"${worst._1}","worst_ratio":${worst._4}%.2f}""")
    spark.stop()
  }
}
