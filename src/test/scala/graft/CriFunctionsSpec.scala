package graft

import graft.logs.{CriFunctions, LogIngest}
import org.apache.spark.sql.functions._

/** CRI parse + nanosecond timestamp exactness — the reference's core
  * invariant (exact-value vectors from reference
  * images/fluentbit/test_compact_columns.c:305-320, via FIXTURES.md §B).
  */
class CriFunctionsSpec extends SparkSpec {
  import spark.implicits._

  val vectors = Seq(
    "2024-01-15T10:30:45.123456789Z" -> 1705314645123456789L,
    "2024-01-15T10:30:46.000000000Z" -> 1705314646000000000L,
    "2024-01-15T10:30:47.999999999Z" -> 1705314647999999999L
  )

  test("cri timestamp parse: exact nanosecond vectors") {
    val got = vectors.map(_._1).toDF("s")
      .select(CriFunctions.criTimeNanos($"s")).as[Long].collect()
    assert(got.toSeq == vectors.map(_._2))
  }

  test("cri timestamp parse: offsets, short fractions, garbage") {
    val got = Seq(
      "2024-01-15T10:30:45.5Z",          // short fraction = 500ms
      "2024-01-15T10:30:45+01:00",       // offset, no fraction
      "garbage", "2024-13-99T99:99:99Z",  // unparseable -> null
      "2024-02-30T00:00:00Z",              // impossible calendar date -> null
      "2023-02-29T00:00:00Z",              // non-leap Feb 29 -> null
      "2024-02-29T00:00:00Z"               // leap Feb 29 -> valid
    ).toDF("s").select(CriFunctions.criTimeNanos($"s")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got(0).contains(1705314645500000000L))
    assert(got(1).contains(1705311045000000000L)) // 10:30:45+01:00 = 09:30:45Z
    assert(got(2).isEmpty && got(3).isEmpty)
    assert(got(4).isEmpty && got(5).isEmpty)
    assert(got(6).contains(1709164800000000000L)) // 2024-02-29T00:00:00Z
  }

  test("nsIso8601 renders back the exact input string") {
    val got = vectors.map(_._2).toDF("ns")
      .select(CriFunctions.nsIso8601($"ns")).as[String].collect()
    assert(got.toSeq == vectors.map(_._1))
  }

  test("parse(render(ns)) is the identity on nanos") {
    val ns = Seq(0L, 999999999L, 1705314645123456789L, 4102444799999999999L)
    val got = ns.toDF("ns")
      .select(CriFunctions.criTimeNanos(CriFunctions.nsIso8601($"ns")))
      .as[Long].collect()
    assert(got.toSeq == ns)
  }

  test("longDiv is exact where double division would round") {
    // 1705314645123456789 / 1000: double quotient ulp ~0.25 -> floor can be
    // off by one; IntegralDivide must truncate exactly.
    val cases = Seq(1705314645123456789L, 1705314645123456999L, 999L, 1000L)
    val got = cases.toDF("ns").select(CriFunctions.longDiv($"ns", 1000L))
      .as[Long].collect()
    assert(got.toSeq == cases.map(_ / 1000L))
  }

  test("cri line parse: stream/logtag validation, message intact") {
    val got = Seq(
      "2024-01-15T10:30:45.1Z stdout F hello  double  space",
      "2024-01-15T10:30:45.1Z stderr P partial",
      "2024-01-15T10:30:45.1Z bogus F nope",    // invalid stream
      "short line"
    ).toDF("value").select(CriFunctions.parseCriLine($"value").as("c"))
      .select($"c.stream", $"c.message").collect()
    assert(got(0).getString(0) == "stdout" && got(0).getString(1) == "hello  double  space")
    assert(got(1).getString(0) == "stderr" && got(1).getString(1) == "partial")
    assert(got(2).isNullAt(0) && got(3).isNullAt(0))
  }

  test("parsed() drops invalid lines and keeps exact nanos") {
    val raw = Seq(
      "2024-01-15T10:30:45.123456789Z stdout F ok",
      "not a cri line",
      "2024-01-15T10:30:46.000000000Z stderr P multi  space  msg"
    ).toDF("value")
    val out = CriFunctions.parsed(raw, "c1")
      .select($"time_ns", $"stream", $"message").collect()
    assert(out.length == 2)
    assert(out.map(_.getLong(0)).toSeq == Seq(1705314645123456789L, 1705314646000000000L))
  }

  test("path patterns without a leading .* match exactly what the old ones did") {
    // the patterns as first written, kept as the reference: `rlike` and
    // `regexp_extract` search with `find`, so the leading `.*` only cost
    // time (quadratic on a failed search), never changed a result
    val oldPodPath = ".*/pods/([^_/]+)_([^_/]+)_([^_/]+)/([^/]+)/[^/]+\\.log$"
    val oldExclude = ".*/pods/[^/]*fluent-bit[^/]*/.*"
    val paths = Seq(
      "file:///var/log/pods/default_api-1_u-1/app/0.log",
      "/mnt/pods/x/var/log/pods/ns_pod_uid/c/0.log",            // nested /pods/ prefix
      "/var/log/pods/kube-system_fluent-bit-abc12_u9/fluent-bit/0.log", // decoy pod
      "/var/log/pods/logging_shipper_u3/fluent-bit/0.log",      // fluent-bit as container
      "/var/log/pods/ns_pod_uid/c/0.log.20260115-062000",       // rotated
      "/var/log/syslog/pods/app/c/0.log",                       // no underscores: not CRI
      "/var/log/pods/a_b_c/d/e/0.log",                          // one segment too deep
      "/var/log/pods/a_b_c_d/c/0.log",                          // extra underscore
      "")
    def eval(podPath: String, exclude: String) =
      paths.toDF("p").select(
        $"p".rlike(exclude).as("x") +:
          (1 to 4).map(g => regexp_extract($"p", podPath, g).as(s"g$g")): _*)
        .collect().map(_.toSeq).toSeq
    val before = eval(oldPodPath, oldExclude)
    val after = eval(LogIngest.podPathRegex, LogIngest.defaultExcludeRegex)
    assert(after == before)
    // and the reference answers are the intended ones
    assert(after(1) == Seq(false, "ns", "pod", "uid", "c"))
    assert(after(2).head == true && after(3).head == false)
    assert(after(3).tail == Seq("logging", "shipper", "u3", "fluent-bit"))
    assert(after(4).tail == Seq("", "", "", "") && after(5).tail == Seq("", "", "", ""))
  }
}
