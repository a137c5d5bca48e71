package graftbench

import graft.GraftSession
import graft.logs._
import graft.sources.ArrowLogWriter
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import scala.jdk.CollectionConverters._

/** One workload's shape. Query kinds:
  *  - `ns`: namespace-wide selector on the hive store;
  *  - `pod`: pod-deep selector on the hive store;
  *  - `pod_since`: pod + `--since` (FileStats pruning) on the hive store;
  *  - `both` / `arrow`: pod selector on the positional lake, `-f both|arrow`;
  *  - `limit_raw`: namespace selector, `--limit 100 -o raw`;
  *  - `meta_count`: `format("graft")` row count by date (metadata answer);
  *  - `marker`: namespace selector with `--since=30s` on a snapshot of the
  *    live store, which is how chunk markers become visible (freshness);
  *  - `marker_root`: the same selector read through the live store's root,
  *    as `LogCli` reads it; a marker it returns is seen too.
  */
final case class Params(
    name: String,
    /** read window (half of `--seconds`, before any live ingest):
      * closed-loop clients over the static stores; none when `readDeck` is
      * empty */
    clients: Int,
    readDeck: Seq[(String, Int)],
    /** steady phase (`--seconds`): one closed-loop reader beside the live
      * ingest */
    steadyDeck: Seq[(String, Int)],
    /** `Maintenance.run` on the live store during the steady phase, every
      * [[Params.MaintainPeriodMs]]; otherwise only the final pass */
    maintain: Boolean) {
  /** The positional lake is set up only when a read kind queries it. */
  def lake: Boolean = readDeck.exists { case (k, _) => k == "both" || k == "arrow" }
}

/** Sizes and rates shared by both workloads. Each one comes from a
  * reference figure (BASELINE.md, FIXTURES.md), an engine default, or a
  * measurement on a 4-core host, as noted; perfbench/README.md lists them.
  */
object Params {
  val SetupRounds = 3
  /** One node's pods: the reference's node-drain test runs 25 pods
    * (test.sh:485-535), as 5 namespaces x 5 pods, each with an app and a
    * sidecar container (FIXTURES.md asks for >= 2 containers). Each
    * container starts with the log generator's 200-line burst
    * (workload.yaml:26-42). The steady events after it are sized by the
    * run time: 100 per container keeps a warm set-up round near 5 s on 4
    * cores, so a whole run, 3 rounds included, takes about a minute.
    */
  val Corpus = CorpusSpec(namespaces = 5, podsPerNs = 5, containers = 2, eventsPerContainer = 100)
  /** The live node: the same 25 pods. */
  val LivePods = 25
  /** Each pod drops one chunk file every 5 s, the period at which the
    * reference's tail input looks for new files (`Refresh_Interval 5`,
    * fluent-bit.conf:21); pods are staggered, so 5 files land per second.
    * The sink triggers every 3 s (the engine's default is 60 s, the
    * reference's idle flush). A micro-batch costs 1.3-1.8 s on 4 cores
    * whatever its size (file listing, which grows with the files in the
    * tree, plus commit), so a 1 s trigger ran the sink back to back, with
    * each batch's length setting the next one's input. At 3 s the sink
    * idles about half the time, well under its drain rate, also on a
    * slower host. */
  val ChunkPeriodMs = 5000
  val Trigger = "3 seconds"
  /** Steady rate: about a tenth of the measured burst drain rate (6-8k
    * records/s on 4 cores), so ingest runs well under the drain rate:
    * 125 events (~165 records) per chunk, ~820 records/s in all. */
  val ChunkEvents = 125
  /** The burst: every pod's 200-line start-up chunk (workload.yaml:26-42)
    * plus one chunk over 1.5 MB, the reference's size-flush test
    * (test.sh:348-366). 170 events make about 200 records. */
  val StartupEvents = 170
  val SizeFlushEvents = 11000
  /** The ops loop runs `Maintenance.run` on a fixed timer, the engine's
    * documented pattern (the reference compacts on a timer too). Every
    * 10 s: the sink commits every 3 s and adds one file per commit, and
    * the burst leaves several more, so the first pass finds more than
    * `dirtyMaxFiles` = 4 files (the engine's default) and every pass finds
    * several small ones. A timer, unlike a version count, puts the passes
    * at the same points of every run's steady phase. A pass holds commits
    * for 2.5-3 s; at this period a minority of the chunks wait on it, so
    * the freshness median stays off them and the p95 falls among them. */
  val MaintainPeriodMs = 10000L
  /** No query mix is published (BASELINE.md: the reference has no query
    * benchmark), so every kind is equally likely. */
  val ServeKinds = Seq("ns", "pod", "pod_since", "both", "arrow", "limit_raw", "meta_count")

  def of(workload: String): Params = workload match {
    case "query_serve" => Params("query_serve", clients = 2, readDeck = ServeKinds.map(_ -> 1),
      // freshness without compaction: only the final pass runs
      steadyDeck = Seq("marker" -> 1), maintain = false)
    case "logs_ingest" => Params("logs_ingest", clients = 0, readDeck = Seq.empty,
      // every third read goes through the root as LogCli does
      steadyDeck = Seq("marker" -> 2, "marker_root" -> 1), maintain = true)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

final case class Req(id: String, kind: String, pod: Pod, windowS: Long)

final case class QRec(req: Req, client: Int, phase: String, start: Long, end: Long, rows: Long,
    ok: Boolean, error: String, planNs: Long, scanFiles: Long, snapshotFiles: Long,
    bytesRead: Long, recordsRead: Long, jobs: Long, tasks: Long, metaAnswered: Boolean)

/** Runs one workload: three set-up rounds (session, seeded corpus, a
  * pointer+manifest hive store built by a first write plus an append, and
  * a positional parquet+arrow lake when the workload reads one), a warm-up
  * pass, the read window when the workload has one, a burst drained by the
  * store sink into the live store, then the steady phase: an open-loop
  * chunk generator feeding the live store, one closed-loop reader, and
  * `Maintenance.run` on a timer when the workload asks for it. Every call
  * into the engine goes through its public API; with tracing on, each is
  * wrapped in a [[Trace]] span and Spark/streaming/execution listeners
  * count work.
  */
final class Harness(p: Params, seed: Long, seconds: Int, trace: Boolean, work: Path) {
  private val failures = new ConcurrentLinkedQueue[String]()
  private def fail(what: String): Unit = { failures.add(what); System.err.println(s"[bench] FAIL $what") }
  private def ms(ns: Long): Double = ns / 1e6
  private def phase(name: String): Unit = System.err.println(f"[bench] ${Trace.now() / 1e9}%.1f s: $name")
  /** The live feed's clock: CRI timestamps count from a fixed instant
    * ([[Harness.LiveBaseNs]] = the steady phase's start), not the wall
    * clock, so a seed gives the same lines (and the same hour partition) at
    * any time of day; `marker` queries pin `--since` to it.
    */
  private var feedOrigin = 0L
  private def feedNs(t: Long): Long = Harness.LiveBaseNs + (t - feedOrigin)

  private var spark: SparkSession = _
  private var corpus: StaticCorpus = _
  private var hiveRoot, lakeRoot, liveRoot: String = _
  private val counts = new SparkCounts
  private val progress = new StreamProgress
  private lazy val actions = new ActionCounts(spark)

  /** A fixed pure-JVM loop: the host-speed probe read at start and end. */
  private def probe(): Seq[Double] = (0 until 7).map { _ =>
    val t0 = System.nanoTime()
    var h = 1469598103934665603L
    var i = 0
    while (i < 4000000) { h = (h ^ i) * 1099511628211L; i += 1 }
    if (h == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  // ---------------------------------------------------------------- set-up

  /** Session start per set-up round (ms). */
  private val sessionMs = scala.collection.mutable.ArrayBuffer[Double]()

  /** One set-up round. Every round starts its own session: the previous
    * round's is stopped first, so `GraftSession.local` builds a new
    * context rather than returning the running one. Round 0 also pays the
    * JVM's class loading.
    */
  private def setupRound(r: Int): Double = {
    if (spark != null) spark.stop()
    val t0 = Trace.now()
    Trace.span("setup.round", s"setup-$r") {
      val before = Option(spark).map(_.sparkContext.applicationId)
      spark = Trace.span("GraftSession.local")(GraftSession.local("graft-bench"))
      sessionMs += ms(Trace.now() - t0)
      if (before.contains(spark.sparkContext.applicationId)) fail(s"set-up round $r reused the running session")
      spark.sparkContext.setLogLevel("ERROR")
      val dir = work.resolve(s"round-$r")
      corpus = Trace.span("gen.corpus")(StaticCorpus.generate(dir.resolve("corpus"), Params.Corpus, seed))
      hiveRoot = dir.resolve("hive").toString
      lakeRoot = dir.resolve("lake").toString
      liveRoot = dir.resolve("live-store").toString
      // pointer+manifest tier on every filesystem: the first write and
      // every append commit through manifests
      GraftStore.init(spark, hiveRoot)
      (0 until Params.Corpus.parts).foreach { k =>
        val df = Trace.span("LogIngest.readCri")(LogIngest.readCri(spark, corpus.partGlob(k), "bench", "node-a"))
        Trace.span("LogIngest.writeHive")(LogIngest.writeHive(df, hiveRoot))
      }
      // the positional lake holds the first namespace (the hot pod's)
      if (p.lake) {
        val lakeNs = corpus.namespaces.head
        val all = Trace.span("LogIngest.readCri")(
          LogIngest.readCri(spark, s"${corpus.dir}/part-*/pods/${lakeNs}_*/*/*.log", "bench", "node-a"))
        val upload = java.time.Instant.ofEpochSecond(corpus.asOfNs / 1000000000L)
        Trace.span("LogIngest.writePositional")(LogIngest.writePositional(all, lakeRoot, upload))
        Trace.span("ArrowLogWriter.writePositional")(ArrowLogWriter.writePositional(all, lakeRoot, upload))
      }
    }
    (Trace.now() - t0) / 1e9
  }

  // --------------------------------------------------------------- queries

  private val markerSeen = new ConcurrentHashMap[String, java.lang.Long]()
  /** The sink and `Maintenance.run` keep this many superseded versions, so
    * a `marker` snapshot read stays readable while later commits land. */
  private val LiveRetain = 4

  private def schedule(client: Int, weights: Seq[(String, Int)]): Iterator[Req] = {
    val rnd = new SplittableRandom(seed * 1000003L + client)
    val deck = weights.flatMap { case (k, w) => Seq.fill(w)(k) }.toVector
    val windowDeck = Vector(0, 0, 0, 0, 1, 1, 1, 2, 2, 3).map(StaticCorpus.Windows)
    var n = 0L
    Iterator.continually {
      // each block holds every kind in its deck proportion, order seeded
      val block = deck.toArray
      (block.length - 1 to 1 by -1).foreach { i =>
        val j = rnd.nextInt(i + 1); val t = block(i); block(i) = block(j); block(j) = t
      }
      block.toSeq.map { kind =>
        n += 1
        // skew toward a hot pod: half the pod-level requests hit pod 0;
        // positional-lake kinds pick among the lake's namespace
        val pool = if (kind == "both" || kind == "arrow") corpus.pods.filter(_.ns == corpus.namespaces.head)
          else corpus.pods
        val pod = if (rnd.nextBoolean()) pool.head else pool(rnd.nextInt(pool.size))
        Req(s"c$client-$n", kind, pod, windowDeck(rnd.nextInt(windowDeck.size)))
      }
    }.flatten
  }

  private def sel(kv: (String, String)*): LogSelector = LogSelector(kv.toMap)

  private def scans(plan: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    plan match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case s: FileSourceScanExec => Seq(s)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }
  }

  private def filesOf(s: SparkPlan): Long = s match {
    case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.inputPartitions.size.toLong
    case other => other.metrics.get("numFiles").map(_.value).getOrElse(0L)
  }

  private var hiveFiles, lakeParquetFiles, lakeArrowFiles = 0L

  private def countFiles(root: String, ext: String): Long =
    Files.walk(java.nio.file.Paths.get(root)).iterator().asScala.count(_.toString.endsWith(ext)).toLong

  def runQuery(req: Req, client: Int, phase: String): QRec = {
    val sc = spark.sparkContext
    if (trace) sc.setJobGroup(req.id, req.kind, interruptOnCancel = false)
    val t0 = Trace.now()
    var planNs = 0L
    try Trace.span("request", req.id) {
      val pod = req.pod
      val podSel = sel("namespace" -> pod.ns, "pod" -> pod.name)
      def plan(body: => DataFrame): DataFrame = {
        val p0 = Trace.now()
        val df = Trace.span("LogQuery.dataFrame")(body)
        planNs = Trace.now() - p0
        df
      }
      val (df, expected, snapshot): (DataFrame, Option[Long], Long) = req.kind match {
        case "ns" =>
          (plan(LogQuery(sel("namespace" -> pod.ns), layout = LogLayout.Hive).dataFrame(spark, hiveRoot)),
            Some(corpus.nsCount(pod.ns)), hiveFiles)
        case "pod" =>
          (plan(LogQuery(podSel, output = LogOutput.Columns, layout = LogLayout.Hive).dataFrame(spark, hiveRoot)),
            Some(corpus.podCount(pod)), hiveFiles)
        case "pod_since" =>
          (plan(LogQuery(podSel, sinceSeconds = Some(req.windowS), layout = LogLayout.Hive,
            asOfNanos = Some(corpus.asOfNs)).dataFrame(spark, hiveRoot)),
            Some(corpus.podSince(pod, req.windowS)), hiveFiles)
        case "both" =>
          (plan(LogQuery(podSel, format = LogFormat.Both).dataFrame(spark, lakeRoot)),
            Some(2 * corpus.podCount(pod)), lakeParquetFiles + lakeArrowFiles)
        case "arrow" =>
          (plan(LogQuery(podSel, format = LogFormat.Arrow).dataFrame(spark, lakeRoot)),
            Some(corpus.podCount(pod)), lakeArrowFiles)
        case "limit_raw" =>
          (plan(LogQuery(sel("namespace" -> pod.ns), output = LogOutput.Raw, layout = LogLayout.Hive)
            .dataFrame(spark, hiveRoot).limit(100)),
            Some(math.min(100L, corpus.nsCount(pod.ns))), hiveFiles)
        case "meta_count" =>
          (plan(spark.read.format("graft").load(hiveRoot).groupBy("date").count()), None, hiveFiles)
        case "marker" =>
          // a snapshot read of the live store's current version
          (plan {
            val snapshot = GraftStore.resolveVersion(spark, liveRoot, VersionedStore.currentVersion(liveRoot))
            LogQuery(sel("namespace" -> "live"), sinceSeconds = Some(30L), output = LogOutput.Raw,
              layout = LogLayout.Hive, asOfNanos = Some(feedNs(Trace.now()))).dataFrame(spark, snapshot)
          }, None, 0L)
        case "marker_root" =>
          // the same read through the store's root, as LogCli plans it
          (plan(LogQuery(sel("namespace" -> "live"), sinceSeconds = Some(30L), output = LogOutput.Raw,
            layout = LogLayout.Hive, asOfNanos = Some(feedNs(Trace.now()))).dataFrame(spark, liveRoot)), None, 0L)
      }
      var rows = 0L
      var ordered = true
      val dates = scala.collection.mutable.Map[String, Long]()
      Trace.span("query.exec") {
        val it = df.toLocalIterator()
        var last = Long.MinValue
        while (it.hasNext) {
          val r = it.next()
          rows += 1
          if (req.kind == "meta_count") dates(String.valueOf(r.get(0))) = r.getLong(1)
          else {
            val t = r.getLong(0)
            if (t < last) ordered = false
            last = t
            if (req.kind.startsWith("marker")) {
              val m = r.getString(1)
              if (m.startsWith("MARKER ")) markerSeen.putIfAbsent(m.substring(7), Trace.now())
            }
          }
        }
      }
      val end = Trace.now()
      val countOk = req.kind match {
        case "meta_count" => dates.toMap == corpus.dateCounts
        case _ => expected.forall(_ == rows)
      }
      val error =
        if (!ordered) "rows not in time_ns order"
        else if (!countOk) s"row count $rows, expected ${expected.getOrElse(corpus.dateCounts)}"
        else ""
      var files = 0L
      var metaAnswered = false
      val g = if (trace) counts.group(req.id) else None
      if (trace) {
        val ss = scans(df.queryExecution.executedPlan)
        files = ss.map(filesOf).sum
        metaAnswered = req.kind == "meta_count" && files == 0L && g.forall(_.bytesRead == 0L)
      }
      QRec(req, client, phase, t0, end, rows, error.isEmpty, error, planNs, files, snapshot,
        g.map(_.bytesRead).getOrElse(0L), g.map(_.recordsRead).getOrElse(0L),
        g.map(_.jobs).getOrElse(0L), g.map(_.tasks).getOrElse(0L), metaAnswered)
    } catch {
      case scala.util.control.NonFatal(e) =>
        QRec(req, client, phase, t0, Trace.now(), 0L, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}",
          planNs, 0L, 0L, 0L, 0L, 0L, 0L, metaAnswered = false)
    } finally {
      if (trace) sc.clearJobGroup()
    }
  }

  // ----------------------------------------------------------- maintenance

  final case class MaintRun(start: Long, end: Long, compacted: Boolean, bytesRewritten: Long)
  private val maintRuns = new ConcurrentLinkedQueue[MaintRun]()
  private val leaseRetries = new AtomicLong(0)
  private def maintain(tag: String): Unit = {
    var done = false
    while (!done) {
      val t0 = Trace.now()
      try {
        val ran = Trace.span("Maintenance.run", tag)(Maintenance.run(spark, liveRoot, retainSnapshots = LiveRetain))
        val end = Trace.now()
        val rewritten =
          if (trace && ran.compacted)
            try GraftStore.diffVersions(spark, liveRoot, ran.before.liveVersion, ran.after.liveVersion).bytesAdded
            catch { case scala.util.control.NonFatal(_) => 0L }
          else 0L
        maintRuns.add(MaintRun(t0, end, ran.compacted, rewritten))
        done = true
      } catch {
        case _: MaintenanceLease.LeaseHeldException =>
          // a commit holds the lease: the ops loop waits and retries
          leaseRetries.incrementAndGet()
          Thread.sleep(50)
      }
    }
  }

  private val records = new ConcurrentLinkedQueue[QRec]()

  /** Closed-loop clients over `deck` until `endNs`; client ids start at
    * `first`. Returns when every client has finished its last query.
    */
  private def closedLoop(n: Int, first: Int, deck: Seq[(String, Int)], phase: String, endNs: Long): Unit = {
    val threads = (first until first + n).map { c =>
      new Thread(() => {
        val it = schedule(c, deck)
        while (Trace.now() < endNs) records.add(runQuery(it.next(), c, phase))
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** Untimed first pass: every kind of `deck` once, spread over the
    * clients (codegen and caches warm before the window); a failure still
    * counts.
    */
  private def warmUp(n: Int, deck: Seq[(String, Int)]): Unit = {
    val kinds = deck.map(_._1).filterNot(_.startsWith("marker"))
    val clients = math.max(2, n)
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val mine = kinds.zipWithIndex.collect { case (k, i) if i % clients == c => k }
        val it = schedule(1000 + c, mine.map(_ -> 1))
        mine.indices.foreach { _ =>
          val r = runQuery(it.next(), -1, "warmup")
          if (!r.ok) records.add(r)
        }
      }, s"warmup-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  // ------------------------------------------------------------------ run

  private var coldSetupS = 0.0

  def run(): String = {
    val probeStart = probe()
    phase("set-up")
    val setupS = (0 until Params.SetupRounds).map { r =>
      if (r > 0) deleteTree(work.resolve(s"round-${r - 1}"))
      val s = setupRound(r)
      // process start -> end of the first round, the set-up a one-shot
      // process pays (JVM start and class loading included)
      if (r == 0) coldSetupS = (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
      s
    }
    if (trace) {
      spark.sparkContext.addSparkListener(counts)
      spark.streams.addListener(progress)
      spark.listenerManager.register(actions)
    }
    hiveFiles = GraftStore.snapshots(spark, hiveRoot).find(_.current).map(_.files).getOrElse(0L)
    if (p.lake) {
      lakeParquetFiles = countFiles(lakeRoot, ".parquet")
      lakeArrowFiles = countFiles(lakeRoot, ".arrow")
    }

    // ---- read window: closed-loop clients over the static stores
    val hasReadWindow = p.readDeck.nonEmpty
    warmUp(p.clients, if (hasReadWindow) p.readDeck else p.steadyDeck)
    var windowStart, windowEnd = 0L
    if (hasReadWindow) {
      phase("read window")
      windowStart = Trace.now()
      windowEnd = windowStart + seconds * 500000000L
      closedLoop(p.clients, 0, p.readDeck, "window", windowEnd)
    }

    // ---- live store: burst, drained by the store sink
    val liveDir = work.resolve("live")
    val feed = new LiveFeed(liveDir.resolve("pods"), work.resolve("live-staging"), Params.LivePods, seed)
    val burstDir = work.resolve("burst")
    // the live store is created by the sink itself, in the tier the engine
    // picks for the path's filesystem
    def liveVersion(): Int =
      if (Files.exists(java.nio.file.Paths.get(liveRoot))) VersionedStore.currentVersion(liveRoot) else 0
    val burstNs = Harness.LiveBaseNs - 600L * 1000000000L // a backlog: lines 10 to 1 min old
    var burstLines = 0L
    var primeLines = 0L
    var burstRowsIn = 0L
    var inputBytes = 0L
    val burstFiles = scala.collection.mutable.ArrayBuffer[String]()
    def stageBurst(rel: String, text: String, lines: Int, ingested: Boolean): Unit = {
      val f = burstDir.resolve("pods").resolve(rel)
      Files.createDirectories(f.getParent)
      val b = text.getBytes(UTF_8)
      Files.write(f, b)
      inputBytes += b.length
      burstRowsIn += lines
      if (ingested) burstLines += lines
      burstFiles += rel
    }
    (0 until Params.LivePods).foreach { i =>
      val first = feed.chunk(i, burstNs + i * 1000000L, Params.StartupEvents)
      stageBurst(first._1, first._2, first._3, ingested = true)
    }
    // > 1.5 MB: a size-triggered flush
    val big = feed.chunk(0, burstNs + 500000000000L, Params.SizeFlushEvents)
    stageBurst(big._1, big._2, big._3, ingested = true)
    val d = feed.decoy(burstNs)
    stageBurst(d._1, d._2, d._3, ingested = false)
    var readCriLinesPerS = 0.0
    if (trace) {
      // parse-only pass over the burst: CRI parse + encode without a sink
      val t0 = Trace.now()
      Trace.span("LogIngest.readCri.noop")(
        LogIngest.readCri(spark, s"$burstDir/pods/*/*/*.log", "bench", "node-a")
          .write.format("noop").mode("overwrite").save())
      readCriLinesPerS = burstLines / ((Trace.now() - t0) / 1e9)
    }
    val query = Trace.span("LogStreamIngest.startStoreSink")(LogStreamIngest.startStoreSink(
      spark, s"$liveDir/pods/*/*/*.log", liveRoot, work.resolve("checkpoint").toString,
      "bench", "node-a", triggerInterval = Params.Trigger, retainSnapshots = LiveRetain))
    def startMs(x: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
      java.time.Instant.parse(x.timestamp).toEpochMilli
    def committedRows(): (Long, Long) = {
      // (rows read by finished batches, epoch ms when the last one ended)
      val ps = query.recentProgress.filter(_.numInputRows > 0)
      val rows = ps.map(_.numInputRows).sum
      val endMs = ps.lastOption.map(x => startMs(x) + x.durationMs.get("triggerExecution").longValue).getOrElse(0L)
      (rows, endMs)
    }
    // one small chunk per pod first, committed before the burst drops, so
    // the burst drains through a warm stream
    (0 until Params.LivePods).foreach { i =>
      val c = feed.chunk(i, burstNs - 60000000000L + i * 1000000L, 10)
      inputBytes += feed.drop(c._1, c._2)
      primeLines += c._3
    }
    var primed = committedRows()
    val primeDeadline = System.currentTimeMillis() + 60000L
    while (primed._1 < primeLines && System.currentTimeMillis() < primeDeadline && query.isActive) {
      Thread.sleep(20)
      primed = committedRows()
    }
    if (primed._1 < primeLines) fail(s"priming chunks not committed: ${primed._1} of $primeLines rows")
    phase("burst")
    val burstStartMs = System.currentTimeMillis()
    burstFiles.foreach { rel =>
      val dest = liveDir.resolve("pods").resolve(rel)
      Files.createDirectories(dest.getParent)
      Files.move(burstDir.resolve("pods").resolve(rel), dest, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    var drained = committedRows()
    val burstDeadline = System.currentTimeMillis() + 60000L
    while (drained._1 < primeLines + burstLines && System.currentTimeMillis() < burstDeadline && query.isActive) {
      Thread.sleep(20)
      drained = committedRows()
    }
    // drain wall: first micro-batch that picked up burst files -> end of
    // the one that committed the last of them (the wait for the next
    // trigger after the drop is trigger phase, not throughput)
    val firstBurstBatchMs = query.recentProgress.filter(x => x.numInputRows > 0 && startMs(x) >= burstStartMs)
      .map(startMs).minOption.getOrElse(burstStartMs)
    val drainS = (drained._2 - firstBurstBatchMs) / 1000.0
    if (drained._1 < primeLines + burstLines)
      fail(s"burst not drained: ${drained._1 - primeLines} of $burstLines rows")

    // ---- steady phase: open-loop chunks, one reader, maintenance
    phase("steady")
    val steadyLines = new AtomicLong(0)
    val chunks = new ConcurrentLinkedQueue[(String, Long, Long, Long)]() // (marker key, due, written, lines)
    val t0 = Trace.now()
    feedOrigin = t0
    val steadyEnd = t0 + seconds * 1000000000L
    if (!hasReadWindow) { windowStart = t0; windowEnd = steadyEnd }
    val generator = new Thread(() => {
      val period = Params.ChunkPeriodMs * 1000000L
      var k = 0L
      var running = true
      while (running) {
        (0 until Params.LivePods).foreach { i =>
          val due = t0 + k * period + i * period / Params.LivePods
          if (due >= steadyEnd) running = false
          else {
            val wait = due - Trace.now()
            if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
            val (rel, text, lines, seqNo) = feed.chunk(i, feedNs(due), Params.ChunkEvents)
            val bytes = feed.drop(rel, text)
            synchronized { inputBytes += bytes }
            steadyLines.addAndGet(lines)
            chunks.add((s"live/${feed.podNames(i)} $seqNo", due, Trace.now(), lines.toLong))
          }
        }
        k += 1
      }
    }, "generator")
    val maintStop = new AtomicBoolean(false)
    val maintainer = new Thread(() => {
      val period = Params.MaintainPeriodMs * 1000000L
      var k = 1L
      while (!maintStop.get()) {
        if (p.maintain && Trace.now() >= t0 + k * period) {
          try maintain(s"maint-$k")
          catch { case scala.util.control.NonFatal(e) => fail(s"Maintenance.run: ${e.getMessage}") }
          // a pass longer than the period skips the ticks it overran
          k = (Trace.now() - t0) / period + 1
        } else Thread.sleep(20)
      }
    }, "maintainer")
    generator.start(); maintainer.start()
    closedLoop(1, p.clients, p.steadyDeck, if (hasReadWindow) "steady" else "window", steadyEnd)
    generator.join()
    phase("catch-up")
    // catch-up: keep probing until every steady marker has been seen
    val expectedMarkers = chunks.asScala.map(_._1).toSet
    val catchUpDeadline = Trace.now() + 45000000000L
    var catchUp = 0
    while (!expectedMarkers.forall(markerSeen.containsKey) && Trace.now() < catchUpDeadline && query.isActive) {
      catchUp += 1
      val r = runQuery(Req(s"catchup-$catchUp", "marker", corpus.pods.head, 0L), -1, "catchup")
      if (!r.ok) records.add(r)
    }
    maintStop.set(true)
    maintainer.join()
    query.exception.foreach(e => fail(s"store sink failed: ${e.getMessage}"))
    query.stop()
    val lateMaxMs = chunks.asScala.map { case (_, due, wrote, _) => ms(wrote - due) }.maxOption.getOrElse(0.0)
    val freshness = chunks.asScala.toSeq.flatMap { case (key, due, _, _) =>
      Option(markerSeen.get(key)).map(seen => (seen.longValue - due) / 1e9)
    }
    val unseen = expectedMarkers.count(k => !markerSeen.containsKey(k))
    if (unseen > 0) fail(s"$unseen of ${expectedMarkers.size} markers never became visible")

    // ---- final maintenance, store accounting, correctness
    phase("final maintenance")
    try maintain("final") catch { case scala.util.control.NonFatal(e) => fail(s"final Maintenance.run: ${e.getMessage}") }
    val storeRows = GraftStore.readStore(spark, liveRoot).count()
    val expectedRows = primeLines + burstLines + steadyLines.get()
    if (storeRows != expectedRows) fail(s"live store holds $storeRows rows, expected $expectedRows")
    val snap = GraftStore.snapshots(spark, liveRoot).find(_.current)
    val versionDir = java.nio.file.Paths.get(GraftStore.resolve(spark, liveRoot))
    val sidecarBytes = Files.list(versionDir).iterator().asScala
      .filter(f => Files.isRegularFile(f)).map(f => Files.size(f)).sum
    val storedBytes = snap.map(_.bytes).getOrElse(0L) + sidecarBytes
    val fileLens: Seq[Long] =
      if (!trace) Seq.empty
      else GraftStore.readStore(spark, liveRoot).inputFiles.toSeq.map { f =>
        val path = new org.apache.hadoop.fs.Path(f)
        path.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(path).getLen
      }
    phase("done")
    val probeEnd = probe()
    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

    val batches = progress.batches.asScala.toSeq.filter(_.rows > 0)
    val recs = records.asScala.toSeq.sortBy(_.start)
    val maints = maintRuns.asScala.toSeq
    val result = Map(
      "workload" -> p.name, "seed" -> seed, "trace" -> trace,
      "setup_s" -> setupS,
      "setup_cold_s" -> coldSetupS,
      "session_ms" -> sessionMs.toSeq,
      "probe_ms" -> Map("start" -> probeStart, "end" -> probeEnd),
      "window_start_ms" -> ms(windowStart),
      "window_end_ms" -> ms(windowEnd),
      "queries" -> recs.map { r =>
        Map("kind" -> r.req.kind, "client" -> r.client, "phase" -> r.phase, "start_ms" -> ms(r.start), "end_ms" -> ms(r.end),
          "ms" -> ms(r.end - r.start), "rows" -> r.rows, "ok" -> r.ok, "error" -> r.error,
          "plan_ms" -> ms(r.planNs), "files" -> r.scanFiles, "snapshot_files" -> r.snapshotFiles,
          "bytes_read" -> r.bytesRead, "records_read" -> r.recordsRead, "jobs" -> r.jobs,
          "tasks" -> r.tasks, "meta_answered" -> r.metaAnswered)
      },
      "burst" -> Map("lines" -> burstLines, "rows_in" -> burstRowsIn, "drain_s" -> drainS,
        "readcri_lines_per_s" -> readCriLinesPerS),
      "steady" -> Map("chunks" -> chunks.size, "lines" -> steadyLines.get(), "late_ms_max" -> lateMaxMs,
        "catchup_probes" -> catchUp),
      "markers" -> Map("expected" -> expectedMarkers.size, "freshness_s" -> freshness),
      "backlog_files" -> backlogFiles(chunks.asScala.toSeq.map(c => (c._3, c._4)), batches, t0),
      "maintenance" -> maints.map(m => Map("start_ms" -> ms(m.start), "end_ms" -> ms(m.end),
        "compacted" -> m.compacted, "bytes_rewritten" -> m.bytesRewritten)),
      "maintenance_lease_retries" -> leaseRetries.get(),
      "store" -> Map("rows" -> storeRows, "rows_expected" -> expectedRows, "bytes" -> storedBytes,
        "input_bytes" -> inputBytes, "file_bytes" -> fileLens,
        "versions" -> liveVersion()),
      "stream" -> Map("batches" -> batches.map(b => Map("rows" -> b.rows,
        "trigger_ms" -> b.durations.getOrElse("triggerExecution", 0L),
        "add_batch_ms" -> b.durations.getOrElse("addBatch", 0L),
        "latest_offset_ms" -> b.durations.getOrElse("latestOffset", 0L))),
        "jobs" -> counts.streamJobs.get()),
      "commit_files" -> actions.streamWriteFiles.get(),
      "spark" -> Map("jobs" -> counts.total.jobs, "tasks" -> counts.total.tasks,
        "task_cpu_s" -> counts.total.cpuNs / 1e9, "task_run_s" -> counts.total.runMs / 1e3,
        "gc_s" -> counts.total.gcMs / 1e3, "shuffle_write_bytes" -> counts.total.shuffleWrite,
        "spill_bytes" -> counts.total.spill),
      "actions" -> actions.ok.get(),
      "failures" -> failures.asScala.toSeq,
      "rss_peak_mb" -> rssMb)
    Json(result)
  }

  /** Highest number of dropped-but-uncommitted chunk files, sampled at each
    * steady-phase batch end: chunks written before that instant minus the
    * chunks the rows committed so far cover (chunks are listed oldest first).
    */
  private def backlogFiles(written: Seq[(Long, Long)], batches: Seq[StreamProgress#Batch],
      from: Long): Long = {
    val w = written.sortBy(_._1)
    val cum = w.scanLeft(0L)(_ + _._2).tail
    var committed = 0L
    batches.filter(_.endNanos >= from).map { b =>
      committed += b.rows
      val dropped = w.count(_._1 <= b.endNanos)
      val covered = cum.count(_ <= committed)
      math.max(0, dropped - covered).toLong
    }.maxOption.getOrElse(0L)
  }
}

object Harness {
  /** 2026-01-15T06:20:00Z, the steady phase's start on the feed clock: the
    * feed spans about 11 minutes before it to a few minutes after, all
    * inside one hour partition. */
  val LiveBaseNs: Long = 1768458000L * 1000000000L
}
