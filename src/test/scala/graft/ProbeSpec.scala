package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Probe

/** The probe entry point, run in-process on the suite session. */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val sf = SparkSuite.sf

  private def run(args: String*): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(Probe.parse(args)(spark))
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("query: timed passes, then one traced pass") {
    val out = run("query", sf, "t01_top30_orders", "1")
    val time = out.filter(_.startsWith("[time] t01_top30_orders min "))
    assert(time.size == 1 && time.head.matches(".*samples [0-9.]+$"), out)
    val jobs = out.count(_.startsWith("[job] "))
    assert(jobs > 0, out)
    assert(out.exists(_.startsWith("[exec] ")), out)
    val totals = out.filter(_.startsWith("[jobtrace] t01_top30_orders "))
    assert(totals.size == 2, out)
    assert(totals.head.contains(s", $jobs jobs, "), out)
    assert(totals(1).contains(" construction ") && totals(1).contains(" | action "), out)
  }

  test("query: jobs outside any SQL execution print a count and job-sum, no span") {
    // a warm n13 trace holds one early job and one late sizing count
    // outside any execution; a span from the first to the last would
    // report the 0.54 s between them as a driver gap
    val jobs = Seq(
      Metrics.Job(0, -1L, "early", Seq(0), 0.05, 0.07),
      Metrics.Job(1, 3L, "scan", Seq(1), 0.10, 0.50),
      Metrics.Job(2, -1L, "count", Seq(2), 0.61, 0.64))
    val execs = Seq(Metrics.Exec(3L, "q", "q", 0.08, 0.55, 1L, 2000000L))
    val lines = Probe.execLines(jobs, execs)
    assert(lines.size == 2, lines)
    val outside = lines.head
    assert(outside.startsWith("[exec]   -1  ") && outside.contains("  2 jobs  job-sum   0.05s"),
      outside)
    assert(!outside.contains("span") && !outside.contains("gap"), outside)
    assert(lines(1).contains("span   0.47s    1 jobs  gap   0.07s"), lines(1))
  }

  test("explain: one normalized plan file per query, stable across dumps") {
    val dir = Files.createTempDirectory("graft_probe_explain")
    try {
      run("explain", sf, dir.toString, "t01_top30_orders", "_a")
      run("explain", sf, dir.toString, "t01_top30_orders", "_b")
      val a = Files.readString(dir.resolve("t01_top30_orders_a.txt"))
      assert(a.contains("Physical Plan") && !a.matches("(?s).*#\\d.*"), a)
      assert(Files.readString(dir.resolve("t01_top30_orders_b.txt")) == a)
    } finally Fs.deleteRecursively(dir)
  }

  test("explain: dumps of x17 from cold memos are equal") {
    // x17's label memo caches the LSH band self-join, whose build side AQE
    // once took from whichever of two identical stages finished first:
    // at sf0.01, 3 dumps in 8 planned BuildLeft and 5 BuildRight
    val dir = Files.createTempDirectory("graft_probe_x17")
    val dumps = Seq("_a", "_b", "_c", "_d")
    try {
      dumps.foreach { s =>
        Caches.clear(spark)
        run("explain", SparkSuite.sf01, dir.toString, "x17_dup_clusters", s)
      }
      val txt = dumps.map(s => Files.readString(dir.resolve(s"x17_dup_clusters$s.txt")))
      assert(txt.head.contains("BroadcastHashJoin Inner"), txt.head)
      assert(txt.distinct.size == 1, "x17's plan differs between dumps")
    } finally { Caches.clear(spark); Fs.deleteRecursively(dir) }
  }

  test("unknown modes, queries and dims fail before a session exists") {
    val bad = Seq(
      Nil, Seq("nope"), Seq("query", sf), Seq("query", sf, "t01_top30_orders,nope"),
      Seq("query", sf, "t01_top30_orders", "x"), Seq("query", sf, "t01_top30_orders", "0"),
      Seq("explain", sf, "/nonexistent", "nope"), Seq("scale", sf, "nope"),
      Seq("gram", "100", "nope"), Seq("stream", sf, sf, "0"),
      Seq("stream", sf, sf, "8", "1", "band_c,nope"))
    bad.foreach(args => intercept[IllegalArgumentException](Probe.parse(args)))
    val e = intercept[IllegalArgumentException](Probe.parse(Seq("stream", sf, sf, "8", "1", "nope")))
    assert(Probe.StreamDims.keys.forall(e.getMessage.contains), e.getMessage)
  }
}
