package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.MapReduceCli

/** CLI parity with the reference test driver (main.c:54-149): argument
  * and file validation semantics, mr.rst output for both jobs on a
  * generated corpus (naive-fold and grep models, [[TextCorpus]]) and on
  * alice30 (golden vectors from FIXTURES.md, cancelled without the
  * reference corpora), and the result block.
  */
class MapReduceCliSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val alice30 = "/root/reference/proj_2_base/input-alice30.txt"

  private def captured(body: => Int): (Int, String) = {
    val buf = new ByteArrayOutputStream()
    val code = Console.withOut(new PrintStream(buf, true, "UTF-8"))(body)
    (code, buf.toString("UTF-8"))
  }

  private def mrRst(): Seq[String] = {
    val p = Paths.get("mr.rst")
    try Files.readAllLines(p).toArray(Array.empty[String]).toSeq
    finally Files.deleteIfExists(p)
  }

  test("usage errors exit 1 without running: too few args, bad job, finder w/o word") {
    for (argv <- Seq(Array[String](), Array("counter"), Array("counter", alice30),
                     Array("mapper", alice30, "4"), Array("finder", alice30, "4"))) {
      val (code, out) = captured(MapReduceCli.run(argv, spark))
      assert(code == 1, argv.mkString(" "))
      assert(out.contains("Usage:"), argv.mkString(" "))
    }
  }

  test("missing file and non-decimal split exit 0 with the reference diagnostics") {
    val (c1, o1) = captured(MapReduceCli.run(Array("counter", "/no/such/file", "4"), spark))
    assert(c1 == 0 && o1.contains("Regular file /no/such/file does not exist."))
    // a directory is not a regular file (is_regular_file, main.c:37-52)
    val (c2, o2) = captured(MapReduceCli.run(Array("counter", "/tmp", "4"), spark))
    assert(c2 == 0 && o2.contains("Regular file /tmp does not exist."))
    val file = TextCorpus.small.toString
    val (c3, o3) = captured(MapReduceCli.run(Array("counter", file, "4x"), spark))
    assert(c3 == 0 && o3.contains("4x is not a valide split size."))
    val (c4, o4) = captured(MapReduceCli.run(Array("counter", file, "-4"), spark))
    assert(c4 == 0 && o4.contains("is not a valide split size."))
  }

  test("counter CLI writes dense A..Z mr.rst matching the naive fold at every split count") {
    val fold = TextCorpus.letterFold(TextCorpus.small)
    for (n <- TextCorpus.SplitCounts) {
      val (code, out) = captured(MapReduceCli.run(
        Array("counter", TextCorpus.small.toString, n.toString), spark))
      assert(code == 0)
      assert(mrRst() == ('A' to 'Z').map(l => s"$l ${fold(l.toString)}"), s"n=$n")
      assert(out.contains("***** RESULT ***** "))
      assert(out.contains("Result file: mr.rst"))
      assert("Map worker pids: (\\d+ )+".r.findFirstIn(out).isDefined, out)
      assert("Reduce worker pid: \\d+".r.findFirstIn(out).isDefined, out)
      assert("Processing time \\(us\\): \\d+".r.findFirstIn(out).isDefined, out)
    }
  }

  test("finder CLI writes matching lines in input order; split-count invariant") {
    // the grep model's lines, in input order, at every split count
    // (mapreduce.c:56-93 parity)
    val expected = TextCorpus.grepLines(TextCorpus.small, TextCorpus.Word)
    assert(expected.nonEmpty)
    for (n <- TextCorpus.SplitCounts) {
      val (code, _) = captured(MapReduceCli.run(Array("finder",
        TextCorpus.small.toString, n.toString, TextCorpus.Word), spark))
      assert(code == 0)
      assert(mrRst() == expected, s"n=$n")
    }
  }

  test("counter CLI writes dense A..Z mr.rst matching the alice30 golden") {
    assume(new java.io.File(alice30).isFile)
    val (code, _) = captured(MapReduceCli.run(Array("counter", alice30, "4"), spark))
    assert(code == 0)
    val golden = new TextJobsSpec().aliceGolden
    assert(mrRst() == ('A' to 'Z').map(l => s"$l ${golden(l.toString)}"))
  }

  test("finder CLI writes the 392 alice30 'Alice' lines at 3 and 9 splits") {
    assume(new java.io.File(alice30).isFile)
    val expected = TextCorpus.grepLines(Paths.get(alice30), "Alice")
    assert(expected.length == 392)
    for (n <- Seq("3", "9")) {
      val (code, _) = captured(MapReduceCli.run(Array("finder", alice30, n, "Alice"), spark))
      assert(code == 0)
      assert(mrRst() == expected, s"n=$n")
    }
  }
}
