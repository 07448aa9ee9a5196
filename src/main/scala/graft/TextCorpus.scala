package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Deterministic generated text corpora — the text-job specs' inputs
  * and `graft.Bench`'s throughput corpus — with the models the specs'
  * expected values come from: a naive byte fold for the letter counter
  * and a line-scan grep for the word finder. Each corpus mixes LF and CRLF line endings, empty lines, non-ASCII text
  * and `_`-joined words, and plants [[Word]] across every split
  * boundary that the [[SplitCounts]] produce, so a job that mishandles
  * a line cut by a split shows up as a wrong count.
  */
object TextCorpus {

  /** The finder's target word. Its lowercase form never occurs as a
    * whole word ("malice", "alices" only), so a case-insensitive finder
    * shows up as a non-empty "alice" result.
    */
  val Word = "Alice"

  /** Split counts the specs read the corpora with. */
  val SplitCounts: Seq[Int] = Seq(3, 4, 7, 9, 16)

  private val vocab = Vector(
    "the", "rabbit", "Queen", "tea", "said", "malice", "Malice", "alices",
    "ALICE", "Alices", "Alice_said", "said_Alice", "xAlice", "Alice3",
    "3Alice", "Alice!", "(Alice)", "Alice,", "Alice", "éAlice",
    "café", "naïve", "Ålice", "Алиса",
    "über", "日本", "été", "Zürich", "q_u_x")

  /** ~150 KB: the size of the smaller reference corpus. At exactly
    * 150000 bytes the 3- and 9-split starts fall 2 bytes apart, too
    * close for one word to cross both; at 150003 they are 1 KB apart.
    */
  lazy val small: Path = write("small", 150003, seed = 7L)

  /** ~2 MB: many lines per split at every split count. */
  lazy val large: Path = write("large", 2000000, seed = 11L)

  /** Where a line reader cuts a `size`-byte file read as `n` splits:
    * Hadoop's `FileInputFormat.getSplits` goal size `size / n`, with
    * the last split absorbing up to 10% slop.
    */
  def splitStarts(size: Long, n: Int): Seq[Long] = {
    val s = size / n
    (1 to n).map(_ * s).filter(b => (size - b + s).toDouble / s > 1.1)
  }

  /** Writes exactly `size` bytes of seeded random lines to a temporary
    * file (deleted when the JVM exits); whenever the next split boundary
    * would fall inside the next line, a line that puts [[Word]] across
    * the boundary is written instead. The file is streamed, so a large
    * corpus (`graft.Bench`'s throughput input) needs no heap.
    */
  def write(name: String, size: Int, seed: Long): Path = {
    val rnd = new scala.util.Random(seed)
    var cuts = SplitCounts.flatMap(splitStarts(size.toLong, _)).distinct.sorted
    val path = Files.createTempFile(s"graft-corpus-$name-", ".txt")
    path.toFile.deleteOnExit()
    val out = new java.io.BufferedOutputStream(Files.newOutputStream(path), 1 << 16)
    var pos = 0L
    def emit(b: Array[Byte]): Unit = { out.write(b); pos += b.length }
    def eol(): String = if (rnd.nextInt(3) == 0) "\r\n" else "\n"
    try {
      while (pos < size) {
        val line =
          if (rnd.nextInt(8) == 0) ""
          else Seq.fill(1 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
        val bytes = (line + eol()).getBytes(UTF_8)
        cuts match {
          case c +: rest if pos + bytes.length + 3 >= c =>
            // Word starts 2 bytes before the cut: bytes on both sides
            emit(("z" * (c - pos - 3).toInt + " " + Word + " across\n").getBytes(UTF_8))
            cuts = rest
          case _ if pos + bytes.length < size => emit(bytes)
          case _ => emit(("y" * (size - pos - 1).toInt + "\n").getBytes(UTF_8))
        }
      }
    } finally out.close()
    path
  }

  /** Letter counts by a plain single-threaded fold over the raw bytes:
    * ASCII letters only, case-folded, all 26 letters present.
    */
  def letterFold(path: Path): Map[String, Long] = {
    val counts = new Array[Long](26)
    Files.readAllBytes(path).foreach { b =>
      val c = b.toInt & 0xff
      if (c >= 'A' && c <= 'Z') counts(c - 'A') += 1
      else if (c >= 'a' && c <= 'z') counts(c - 'a') += 1
    }
    ('A' to 'Z').map(_.toString).zip(counts).toMap
  }

  /** The lines containing `word` as a whole word (non-alphanumeric
    * boundaries, underscore included), in input order, with the line
    * terminators (LF, CRLF) stripped.
    */
  def grepLines(path: Path, word: String): Seq[String] = {
    val re = java.util.regex.Pattern.compile(
      "(?<![A-Za-z0-9])" + java.util.regex.Pattern.quote(word) + "(?![A-Za-z0-9])")
    Files.readAllLines(path, UTF_8).asScala.toSeq.filter(l => re.matcher(l).find())
  }
}
