package graft.tools

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import graft.SparkSpec

/** Each `Entry` verb is a function over a session: run it on the shared
  * test session (which it must not stop) and check what it writes. */
class EntrySpec extends SparkSpec {

  private val Sf = "/root/testdata/sf0.001"

  private def output(f: => Unit): Seq[String] = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(f)
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("explain writes <name>_<tag>.txt with the formatted physical plan") {
    val out = Files.createTempDirectory("entry-explain").toString
    Entry.explain(spark, Sf, out, "chk", Seq("p1_project"))
    val txt = Files.readString(java.nio.file.Paths.get(s"$out/p1_project_chk.txt"))
    assert(txt.contains("== Physical Plan =="), txt)
  }

  test("time prints the TIME_ENTRY lines tools/append_bench.sh parses") {
    val lines = output(Entry.time(spark, Sf, Seq("_floor", "p1_project")))
      .map(_.split("\\s+").toSeq)
    for (n <- Seq("_floor", "p1_project")) {
      // awk '$1=="TIME_ENTRY"{print $3}' must yield digits and dots only
      val t = lines.collect { case Seq("TIME_ENTRY", `n`, s) => s }
      assert(t.size == 1 && t.head.matches("[0-9.]+"), lines)
      // awk '$1=="TIME_ENTRY_STORE"{print $3" "$4}'
      val st = lines.collect { case Seq("TIME_ENTRY_STORE", `n`, cb, cr) => (cb, cr) }
      assert(st.size == 1 && st.head._1.matches("cb=\\d+") && st.head._2.matches("cr=\\d+"),
        lines)
    }
    assert(!spark.sparkContext.isStopped)
  }

  test("profile prints at least one stage line per run") {
    val lines = output(Entry.profile(spark, Sf, Seq("p1_project")))
    val runs = lines.zipWithIndex.filter(_._1.startsWith("===== p1_project run"))
    assert(runs.map(_._1.split(' ')(2)) == Seq("run1", "run2"), lines)
    val bounds = runs.map(_._2) :+ lines.size
    bounds.zip(bounds.tail).foreach { case (a, b) =>
      assert(lines.slice(a + 1, b).exists(_.startsWith("STAGE ")), lines)
    }
    assert(!spark.sparkContext.isStopped)
  }
}
