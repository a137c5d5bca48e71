package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

/** CRI line rendering shared by the static corpus and the live feed.
  * Format: `<rfc3339 with 9 fraction digits>Z <stdout|stderr> <F|P> <msg>`.
  */
object Cri {
  private val dayFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  def timestamp(ns: Long): String = {
    val frac = Math.floorMod(ns, 1000000000L).toString
    dayFmt.format(java.time.Instant.ofEpochSecond(Math.floorDiv(ns, 1000000000L))) +
      "." + ("0" * (9 - frac.length)) + frac + "Z"
  }

  def date(ns: Long): String = timestamp(ns).substring(0, 10)

  def hex(rnd: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder
    while (sb.length < n) sb.append(Integer.toHexString(rnd.nextInt(16)))
    sb.toString
  }
}

/** One container's record stream: emits the CRI records of one log event
  * at a time, in the shapes the reference's log-generator workload writes
  * (plain stdout JSON lines; 1 in 10 events on stderr as a multi-line
  * stack-trace JSON; now and then a long line split into P + F records).
  */
final class EventWriter(rnd: SplittableRandom, who: String) {
  private var events = 0L
  private val paths = Vector("/api/v1/items", "/api/v1/orders", "/healthz", "/api/v2/search")
  private val statuses = Vector(200, 200, 200, 201, 204, 404, 500)

  /** Append the event's records at `t` (+1 ns per extra record) to `out`
    * and their times to `times`; returns the record count.
    */
  def event(t: Long, out: StringBuilder, times: scala.collection.mutable.ArrayBuffer[Long]): Int = {
    events += 1
    def rec(i: Int, stream: String, tag: String, msg: String): Unit = {
      out.append(Cri.timestamp(t + i)).append(' ').append(stream).append(' ')
        .append(tag).append(' ').append(msg).append('\n')
      times += t + i
    }
    val req = Cri.hex(rnd, 12)
    if (rnd.nextInt(10) == 0) {
      rec(0, "stderr", "F", s"""{"level":"error","msg":"request failed","pod":"$who","req":"$req",""")
      rec(1, "stderr", "F", s""""stack":["java.lang.IllegalStateException: upstream timeout after ${rnd.nextInt(5000)}ms",""")
      rec(2, "stderr", "F", s""""  at com.example.api.Handler.handle(Handler.java:${rnd.nextInt(400)})",""")
      rec(3, "stderr", "F", s""""  at com.example.api.Server.run(Server.java:${rnd.nextInt(90)})"]}""")
      4
    } else {
      val msg = s"""{"level":"info","msg":"GET ${paths(rnd.nextInt(paths.size))}/${rnd.nextInt(100000)} """ +
        s"""${statuses(rnd.nextInt(statuses.size))} ${rnd.nextInt(900)}ms","pod":"$who","req":"$req"}"""
      if (events % 40 == 0) {
        val cut = msg.length / 2
        rec(0, "stdout", "P", msg.substring(0, cut))
        rec(1, "stdout", "F", msg.substring(cut))
        2
      } else { rec(0, "stdout", "F", msg); 1 }
    }
  }

  def marker(t: Long, key: String, seq: Long, out: StringBuilder,
      times: scala.collection.mutable.ArrayBuffer[Long]): Unit = {
    out.append(Cri.timestamp(t)).append(" stdout F MARKER ").append(key).append(' ')
      .append(seq).append('\n')
    times += t
  }
}

/** Size of the static (query-side) corpus. */
final case class CorpusSpec(namespaces: Int, podsPerNs: Int, containers: Int,
    eventsPerContainer: Int, parts: Int = 2, spanSeconds: Long = 2 * 3600L)

/** A pod of the corpus: `uid` is the CRI path's pod-uid segment. */
final case class Pod(ns: String, name: String, uid: String)

/** The seeded static corpus and its oracle. Every container starts with
  * the reference's 200-line burst, then writes steady events spread over
  * [[CorpusSpec.spanSeconds]] (which crosses a date boundary), with a
  * marker line every 25 events. Each container's records are split by time
  * into `parts` trees (`part-<k>/pods/<ns>_<pod>_<uid>/<container>/0.log`)
  * so a store can be built by a first write plus appends; every part also
  * carries a `fluent-bit` decoy pod that ingestion must exclude.
  *
  * The oracle holds the per-pod sorted record times; [[expectedLines]]
  * renders the expected count per selector, kind and `--since` window.
  */
final class StaticCorpus(val dir: Path, val spec: CorpusSpec, val pods: Vector[Pod],
    val startNs: Long, podTimes: Map[Pod, Array[Long]], val lines: Long) {
  val asOfNs: Long = startNs + spec.spanSeconds * 1000000000L + 1000000000L
  val namespaces: Vector[String] = pods.map(_.ns).distinct

  def partGlob(k: Int): String = s"$dir/part-$k/pods/*/*/*.log"
  def podCount(p: Pod): Long = podTimes(p).length.toLong
  def nsCount(ns: String): Long = pods.filter(_.ns == ns).map(podCount).sum

  /** Records of `p` with `time_ns >= asOf - window`. */
  def podSince(p: Pod, windowS: Long): Long = {
    val ts = podTimes(p)
    val cutoff = asOfNs - windowS * 1000000000L
    val i = java.util.Arrays.binarySearch(ts, cutoff)
    var lo = if (i >= 0) i else -i - 1
    while (lo > 0 && ts(lo - 1) >= cutoff) lo -= 1
    (ts.length - lo).toLong
  }

  lazy val dateCounts: Map[String, Long] =
    podTimes.values.flatMap(_.toSeq).groupBy(Cri.date).map { case (d, v) => d -> v.size.toLong }

  def expectedLines(windows: Seq[Long]): Seq[String] =
    namespaces.map(ns => s"ns\t$ns\t-\t${nsCount(ns)}") ++
      pods.map(p => s"pod\t${p.ns}/${p.name}\t-\t${podCount(p)}") ++
      pods.flatMap(p => windows.map(w => s"pod_since\t${p.ns}/${p.name}\t$w\t${podSince(p, w)}")) ++
      dateCounts.toSeq.sorted.map { case (d, c) => s"date\t$d\t-\t$c" }
}

object StaticCorpus {
  val NsNames = Vector("payments", "search", "checkout", "catalog", "ingest", "auth", "billing", "media")
  val AppNames = Vector("api", "worker", "web", "cache", "sync", "cron", "gateway", "indexer")
  val Windows: Seq[Long] = Seq(300L, 900L, 3600L, 7200L)
  /** 2026-01-14T23:00:00Z: the two-hour span crosses midnight. */
  val BaseNs: Long = 1768431600L * 1000000000L

  def generate(dir: Path, spec: CorpusSpec, seed: Long): StaticCorpus = {
    val rnd = new SplittableRandom(seed)
    val pods = for {
      n <- 0 until spec.namespaces
      p <- 0 until spec.podsPerNs
    } yield Pod(NsNames(n), s"${AppNames(p % AppNames.size)}-${Cri.hex(rnd, 5)}",
      Cri.hex(rnd, 8) + "-" + Cri.hex(rnd, 4))
    val startNs = BaseNs + rnd.nextInt(600) * 1000000000L
    val spanNs = spec.spanSeconds * 1000000000L
    val partNs = spanNs / spec.parts
    var lines = 0L
    def write(part: Int, rel: String, text: String): Unit = {
      val f = dir.resolve(s"part-$part/pods/$rel")
      Files.createDirectories(f.getParent)
      Files.write(f, text.getBytes(UTF_8))
    }
    val podTimes = pods.map { pod =>
      val times = scala.collection.mutable.ArrayBuffer[Long]()
      (0 until spec.containers).foreach { c =>
        val container = if (c == 0) "app" else s"sidecar-$c"
        val w = new EventWriter(rnd.split(), s"${pod.name}/$container")
        val outs = Array.fill(spec.parts)(new StringBuilder)
        val ctimes = scala.collection.mutable.ArrayBuffer[Long]()
        def partOf(t: Long) = math.min(spec.parts - 1, ((t - startNs) / partNs).toInt)
        // the 200-line start-up burst, 1 ms apart, then steady events
        var t = startNs + (rnd.nextInt(60) * 1000000000L)
        var written = 0
        while (written < 200) {
          written += w.event(t, outs(partOf(t)), ctimes)
          t += 1000000L
        }
        val gap = (startNs + spanNs - t) / (spec.eventsPerContainer + 1)
        (1 to spec.eventsPerContainer).foreach { e =>
          val te = t + e * gap + rnd.nextLong(gap / 2)
          if (e % 25 == 0) w.marker(te, s"${pod.ns}/${pod.name}/$container", e, outs(partOf(te)), ctimes)
          else w.event(te, outs(partOf(te)), ctimes)
        }
        outs.zipWithIndex.foreach { case (o, k) =>
          write(k, s"${pod.ns}_${pod.name}_${pod.uid}/$container/0.log", o.toString)
        }
        times ++= ctimes
      }
      lines += times.size
      pod -> times.toArray.sorted
    }.toMap
    // the log shipper's own pod: present in every part, never ingested
    val decoy = s"${pods.head.ns}_fluent-bit-${Cri.hex(rnd, 5)}_${Cri.hex(rnd, 8)}/fluent-bit/0.log"
    (0 until spec.parts).foreach { k =>
      val sb = new StringBuilder
      (0 until 20).foreach { i =>
        sb.append(Cri.timestamp(startNs + k * partNs + i * 1000000000L))
          .append(" stderr F [info] flush chunk ").append(i).append('\n')
      }
      write(k, decoy, sb.toString)
    }
    val corpus = new StaticCorpus(dir, spec, pods.toVector, startNs, podTimes, lines)
    Files.write(dir.resolve("expected.tsv"),
      corpus.expectedLines(Windows).mkString("", "\n", "\n").getBytes(UTF_8))
    corpus
  }
}

/** The live feed: new CRI chunk files dropped by atomic rename into a
  * watched `pods/` tree, one file per chunk
  * (`pods/live_<pod>_<uid>/app/<seq>.log`). The first record of every
  * chunk is a marker line `MARKER live/<pod> <seq>` whose appearance in a
  * query result gives the chunk's freshness.
  */
final class LiveFeed(val watched: Path, staging: Path, val pods: Int, seed: Long) {
  val Namespace = "live"
  private val rnd = new SplittableRandom(seed ^ 0x5eedL)
  val podNames: Vector[String] = Vector.tabulate(pods)(i => s"tail-$i-${Cri.hex(rnd, 5)}")
  private val uids = Vector.fill(pods)(Cri.hex(rnd, 8))
  private val writers = podNames.map(p => new EventWriter(rnd.split(), p))
  private val seqs = Array.fill(pods)(0L)
  private val decoyUid = Cri.hex(rnd, 8)
  Files.createDirectories(watched)
  Files.createDirectories(staging)

  /** Render one chunk of `events` events for pod `i` at `dueNs`; returns
    * (relative path, content, records, marker seq).
    */
  def chunk(i: Int, dueNs: Long, events: Int): (String, String, Int, Long) = {
    seqs(i) += 1
    val sb = new StringBuilder
    val times = scala.collection.mutable.ArrayBuffer[Long]()
    writers(i).marker(dueNs, s"$Namespace/${podNames(i)}", seqs(i), sb, times)
    var t = dueNs + 1000L
    (0 until events).foreach { _ => writers(i).event(t, sb, times); t += 1000L }
    (s"${Namespace}_${podNames(i)}_${uids(i)}/app/${seqs(i)}.log", sb.toString, times.size, seqs(i))
  }

  /** A chunk written by the log shipper's own pod: dropped, never ingested. */
  def decoy(dueNs: Long): (String, String, Int) = {
    val text = Cri.timestamp(dueNs) + " stderr F [info] flush chunk\n"
    (s"${Namespace}_fluent-bit-x_$decoyUid/fluent-bit/${dueNs}.log", text, 1)
  }

  /** Write to staging, then publish into the watched tree by atomic
    * rename (the stream source must never list a half-written file).
    * Returns the byte size.
    */
  def drop(rel: String, text: String): Long = {
    val b = text.getBytes(UTF_8)
    val tmp = staging.resolve(rel.replace('/', '~'))
    Files.write(tmp, b)
    val dest = watched.resolve(rel)
    Files.createDirectories(dest.getParent)
    Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
    b.length.toLong
  }
}
