package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Entry point of the benchmark JVM.
  *
  * {{{
  * graftbench.Main run <workload> <seed> <seconds> <trace 0|1> <workDir> <resultFile> [spansFile]
  * graftbench.Main selftest <workDir>
  * }}}
  *
  * `run` writes the raw measurements as one JSON object to `resultFile`
  * (and, traced, one span per line to `spansFile`); `perfbench/run.py`
  * turns them into metrics.
  */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: workload :: seed :: seconds :: trace :: work :: result :: rest =>
      Trace.enabled = trace == "1"
      val h = new Harness(Params.of(workload), seed.toLong, seconds.toInt, Trace.enabled, Paths.get(work))
      val json = h.run()
      Files.write(Paths.get(result), json.getBytes(UTF_8))
      rest.headOption.foreach { f =>
        val lines = Trace.all.map(s => Json(Map("id" -> s.id, "parent" -> s.parent, "req" -> s.req,
          "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end)))
        Files.write(Paths.get(f), lines.mkString("", "\n", "\n").getBytes(UTF_8))
      }
      sys.exit(0) // streaming/listener threads must not keep the JVM alive
    case "selftest" :: work :: Nil =>
      val failed = selfTest(Paths.get(work))
      failed.foreach(f => System.err.println(s"selftest FAIL: $f"))
      println(s"""{"selftest":"corpus","failed":${failed.size}}""")
      sys.exit(if (failed.isEmpty) 0 else 1)
    case _ =>
      System.err.println("usage: run <workload> <seed> <seconds> <trace> <workDir> <resultFile> [spansFile]" +
        " | selftest <workDir>")
      sys.exit(2)
  }

  private def digest(dir: Path): Map[String, String] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      dir.relativize(f).toString -> md.digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString
    }.toMap

  /** Generator determinism and oracle consistency. */
  def selfTest(work: Path): Seq[String] = {
    val spec = CorpusSpec(namespaces = 2, podsPerNs = 2, containers = 2, eventsPerContainer = 120)
    val a = StaticCorpus.generate(work.resolve("a"), spec, 7L)
    val b = StaticCorpus.generate(work.resolve("b"), spec, 7L)
    val c = StaticCorpus.generate(work.resolve("c"), spec, 8L)
    val da = digest(work.resolve("a"))
    val out = Seq.newBuilder[String]
    if (da != digest(work.resolve("b"))) out += "same seed gave different bytes"
    if (da == digest(work.resolve("c"))) out += "different seeds gave identical bytes"
    // the oracle counts exactly the CRI records outside the decoy pod
    val records = da.keys.filter(k => k.endsWith(".log") && !k.contains("fluent-bit")).toSeq.map { k =>
      Files.readAllLines(work.resolve("a").resolve(k), UTF_8).size.toLong
    }.sum
    if (records != a.lines) out += s"oracle holds ${a.lines} records, files hold $records"
    if (a.pods.map(a.podCount).sum != a.lines) out += "pod counts do not sum to the corpus"
    if (a.dateCounts.values.sum != a.lines) out += "date counts do not sum to the corpus"
    if (a.dateCounts.size < 2) out += "corpus does not cross a date boundary"
    val p = a.pods.head
    val windows = StaticCorpus.Windows.map(a.podSince(p, _))
    if (windows != windows.sorted) out += "--since counts shrink as the window widens"
    if (a.podSince(p, 365L * 86400L) != a.podCount(p)) out += "a window wider than the corpus misses rows"
    // a LiveFeed chunk carries its marker first and counts its records
    val feed = new LiveFeed(work.resolve("live/pods"), work.resolve("live/staging"), 2, 7L)
    val (rel, text, lines, seq) = feed.chunk(1, StaticCorpus.BaseNs, 10)
    if (!text.split("\n")(0).endsWith(s"MARKER live/${feed.podNames(1)} $seq")) out += "chunk does not start with its marker"
    if (text.split("\n").length != lines) out += "chunk record count is wrong"
    if (!rel.matches("live_tail-1-[0-9a-f]{5}_[0-9a-f]{8}/app/1\\.log")) out += s"chunk path '$rel' breaks the CRI grammar"
    if (Cri.timestamp(1768435200123456789L) != "2026-01-15T00:00:00.123456789Z") out += "CRI timestamp rendering"
    if (b.expectedLines(StaticCorpus.Windows) != a.expectedLines(StaticCorpus.Windows)) out += "oracle differs between runs"
    if (c.pods == a.pods) out += "pod names do not depend on the seed"
    out.result()
  }
}
