package graft

import graft.logs._
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The append commit's fixed costs and its failure edges, on both local
  * tiers (pointer file and version symlink): one footer pass per commit,
  * a staged file whose footer does not read publishes nothing, a zero-row
  * batch commits nothing, and the `_current` pointer flip is atomic for a
  * concurrent reader. Quick unit gates; [[AppendCommitSpec]] holds the
  * multi-minute rehearsals.
  */
class AppendCommitCostSpec extends SparkSpec {
  import spark.implicits._

  private val parts = Seq("cluster", "namespace", "date")

  private def batch(n: Int, day: String, from: Long = 0L): DataFrame =
    spark.range(from, from + n).select(
      to_timestamp(lit(s"$day 12:00:00")).as("time"), $"id".as("time_ns"),
      lit("stdout").as("stream"), lit("F").as("logtag"),
      concat(lit("line "), $"id").as("message"), lit("dev").as("cluster"),
      ($"id" % 2).cast("string").as("namespace"), lit("n1").as("node"),
      lit("p1").as("pod"), lit("app").as("container"), lit(day).as("date"))

  /** (tier name, fresh empty store root) for each local tier. */
  private def tiers(): Seq[(String, String)] = {
    val dir = Files.createTempDirectory("graft-append-cost")
    val pointer = dir.resolve("pointer").toString
    GraftStore.init(spark, pointer)
    val symlink = dir.resolve("symlink").toString
    LogIngest.ensureStore(spark, symlink)
    Seq("pointer" -> pointer, "symlink" -> symlink)
  }

  private def visibleRows(root: String): Long =
    if (GraftStore.isDataless(spark, root)) 0L
    else GraftStore.readStore(spark, root).count()

  /** Jobs `f` submits, counted by job group. A barrier job in a second
    * group bounds the count: the listener bus delivers in order, so once
    * the barrier's start arrives every job of `f` has been seen.
    */
  private def jobsOf(f: => Unit): Int = {
    val group = s"cost-${java.util.UUID.randomUUID()}"
    val barrier = s"$group-barrier"
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => seen.merge(g, 1, (a: Integer, b: Integer) => a + b))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "append commit under test")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(barrier, "listener barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000L
      while (!seen.containsKey(barrier) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(seen.containsKey(barrier), "listener never saw the barrier job")
      Option(seen.get(group)).map(_.intValue).getOrElse(0)
    } finally sc.removeSparkListener(listener)
  }

  test("an append commit runs at most 3 jobs: the staging write and one footer pass") {
    tiers().foreach { case (tier, root) =>
      AppendCommit.commit(batch(400, "2024-01-15"), root, parts)
      val df = batch(300, "2024-01-16", from = 400L)
      var c: AppendCommit.Committed = null
      val jobs = jobsOf { c = AppendCommit.commit(df, root, parts) }
      assert(c.rows == 300L && !c.replayed, tier)
      assert(jobs <= 3, s"$tier: append commit ran $jobs jobs")
      assert(visibleRows(root) == 700L, tier)
      // the published sidecar covers every file, so the next verify and
      // every metadata-only count read no footer
      val v = GraftStore.liveVersionOf(spark, root)
      assert(FileStats.rowCountFromStats(spark, root, v).contains(700L), tier)
    }
  }

  test("a staged file with a truncated footer publishes no version and no rows") {
    tiers().foreach { case (tier, root) =>
      AppendCommit.commit(batch(200, "2024-01-15"), root, parts)
      val v = GraftStore.liveVersionOf(spark, root)
      val key = "spark.sql.sources.commitProtocolClass"
      spark.conf.set(key, classOf[FooterCuttingCommitProtocol].getName)
      try {
        intercept[Exception](
          AppendCommit.commit(batch(100, "2024-01-16", from = 200L), root, parts))
      } finally spark.conf.unset(key)
      assert(GraftStore.liveVersionOf(spark, root) == v, tier)
      assert(visibleRows(root) == 200L, tier)
    }
  }

  test("a zero-row batch commits nothing") {
    tiers().foreach { case (tier, root) =>
      val v0 = GraftStore.liveVersionOf(spark, root)
      val empty = AppendCommit.commit(batch(10, "2024-01-15").filter(lit(false)), root, parts)
      assert(empty.rows == 0L && empty.version == v0, tier)
      assert(GraftStore.liveVersionOf(spark, root) == v0, tier)
      AppendCommit.commit(batch(50, "2024-01-15"), root, parts)
      val v1 = GraftStore.liveVersionOf(spark, root)
      val again = AppendCommit.commit(batch(10, "2024-01-15").filter(lit(false)), root, parts)
      assert(again.rows == 0L && again.version == v1, tier)
      assert(GraftStore.liveVersionOf(spark, root) == v1, tier)
      assert(visibleRows(root) == 50L, tier)
    }
  }

  test("a reader polling a local pointer store across 20 appends never sees a torn pointer") {
    val root = Files.createTempDirectory("graft-pointer-poll").resolve("store").toString
    GraftStore.init(spark, root)
    @volatile var stop = false
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() => {
      var last = 0
      while (!stop) {
        try {
          val v = GraftStore.currentVersion(spark, root)
          if (v < last) errors.add(new IllegalStateException(s"version went back: $last -> $v"))
          last = v
          reads.incrementAndGet()
        } catch { case e: Throwable => errors.add(e) }
      }
    })
    reader.start()
    try (0 until 20).foreach { i =>
      AppendCommit.commit(batch(20, "2024-01-15", from = i * 20L), root, parts)
    } finally { stop = true; reader.join() }
    assert(errors.isEmpty, s"reader failed: ${errors.toArray.take(3).mkString("; ")}")
    assert(reads.get > 20L)
    assert(GraftStore.currentVersion(spark, root) == 21)
    assert(GraftStore.readStore(spark, root).count() == 400L)
    // no checksum sidecar is left to disagree with the pointer bytes
    assert(!Files.exists(Paths.get(root, s".${GraftStore.PointerName}.crc")))
  }
}

/** Commit protocol that cuts the last 16 bytes (the footer length and the
  * `PAR1` magic) off every parquet file once its write job commits — a
  * staged file whose footer no reader can open. Local paths only.
  */
class FooterCuttingCommitProtocol(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(jobContext: JobContext,
      taskCommits: Seq[TaskCommitMessage]): Unit = {
    super.commitJob(jobContext, taskCommits)
    val base = Paths.get(new org.apache.hadoop.fs.Path(path).toUri.getPath)
    val files = Files.walk(base)
    try files.iterator().forEachRemaining { f =>
      val name = f.getFileName.toString
      if (name.endsWith(".parquet") && !name.startsWith(".")) {
        val raf = new java.io.RandomAccessFile(f.toFile, "rw")
        try raf.setLength(raf.length() - 16) finally raf.close()
        Files.deleteIfExists(f.resolveSibling(s".$name.crc"))
      }
    } finally files.close()
  }
}
