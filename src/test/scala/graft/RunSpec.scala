package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Every `graft.Run` scenario end to end on toy inputs, through the same
  * `Run.run` the main calls, plus the argument parser's rejections. */
class RunSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Run one scenario and return its stdout lines. */
  private def run(args: String*): Seq[String] = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(Run.run(spark, args))
    buf.toString("UTF-8").linesIterator.toSeq
  }

  private def line(out: Seq[String], prefix: String): String =
    out.find(_.startsWith(prefix)).getOrElse(
      fail(s"no line starting with '$prefix' in:\n${out.mkString("\n")}"))

  private def f1(out: Seq[String], prefix: String): Double = {
    val m = """F1=([0-9.]+) omega=(-?[0-9.]+)""".r
      .findFirstMatchIn(line(out, prefix)).getOrElse(fail("no F1/omega"))
    val (f, o) = (m.group(1).toDouble, m.group(2).toDouble)
    assert(f >= 0.0 && f <= 1.0 && o <= 1.0, s"F1=$f omega=$o")
    f
  }

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-run-$tag").toString

  test("bigclam fits a planted cover, writes memberships and scores them") {
    val dir = tmpDir("bigclam") + "/com"
    val out = run("bigclam", "source=planted:120:3:0.35:30", "iters=2",
      "out=" + dir)
    // k defaults to the planted community count
    assert(line(out, "[bigclam] result:").startsWith("[bigclam] result: K=3 "))
    assert(line(out, "[bigclam] result:").contains("monotone=true"))
    assert(spark.read.parquet(dir).count() > 0)
    f1(out, "[bigclam] K=3 fit vs planted truth:")
  }

  test("selectk walks a synth grid and picks a grid point") {
    val out = run("selectk", "source=synth:200:600", "minK=2", "maxK=4",
      "steps=1", "iters=2")
    val chosen = line(out, "[selectk] chosen K=").stripPrefix("[selectk] chosen K=").toInt
    assert(Set(2, 4)(chosen))
    assert(out.exists(_.startsWith("[selectk] decision: decided-by=llh")))
  }

  test("graph runs the iterative operators and scores LPA on a partition") {
    val out = run("graph", "source=partition:150:3:600:20", "prIters=3",
      "lpaRounds=3")
    // PageRank is exactly mass-preserving on a symmetric graph
    assert(line(out, "[graph] result:").contains("pr_mass=1.0000"))
    f1(out, "[graph] LPA(3) partition vs planted truth:")
  }

  test("dedup processes every batch and passes the end-of-run audit") {
    val out = run("dedup", "sfDir=" + TestSpark.sf,
      "stateDir=" + tmpDir("dedup"), "batches=2")
    assert(out.count(_.startsWith("[dedup] batch ")) == 2)
    assert(line(out, "[dedup] AUDIT ok:").nonEmpty)
  }

  test("semantic keeps every exact-copy family on one label") {
    val out = run("semantic", "nVec=1000", "k=8", "subBits=2")
    assert(line(out, "[semantic] exact-copy families intact: all").nonEmpty)
    assert(line(out, "[semantic] missed").contains("in_block=0"))
  }

  test("lsh clusters every byte-identical family") {
    val out = run("lsh", "nFamilies=5", "r=20", "nBackground=50")
    assert(line(out, "[lsh] ").nonEmpty)
    assert(out.exists(_.contains("5/5 families intact, 0 broken")))
  }

  test("Run rejects an unknown scenario, an unknown key and a bad value by name") {
    def msg(args: String*): String =
      intercept[IllegalArgumentException](run(args: _*)).getMessage
    assert(msg("nosuch").contains("unknown scenario 'nosuch'"))
    assert(msg("bigclam", "bogus=1").contains("unknown key 'bogus'"))
    assert(msg("bigclam", "source=synth:100:300", "k=abc")
      .contains("bad value for k: 'abc'"))
    assert(msg("graph", "source=synth:100").contains("bad source 'synth:100'"))
    // an empty K grid is rejected before any fit
    val grid = msg("selectk", "source=synth:100:300", "minK=8", "maxK=4")
    assert(grid.contains("minK=8") && grid.contains("maxK=4"), grid)
  }
}
