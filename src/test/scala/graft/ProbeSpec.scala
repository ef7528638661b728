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
