package graft.tools

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession

import graft.operators.TextJobs

/** Reference CLI parity: the engine-side equivalent of the reference's
  * test driver `run-mapreduce "counter"|"finder" file_path split_num
  * [word_to_find]` (main.c:54-149), with the same argument and file
  * validation semantics:
  *
  *  - fewer than 3 operands, unknown job name, or `finder` without a
  *    word → usage on stdout, exit 1 (main.c:69-94);
  *  - input not a regular file → "Regular file %s does not exist.",
  *    exit 0 (main.c:97-101, `is_regular_file` main.c:37-52);
  *  - split count not all-decimal-digits → the reference's exact
  *    diagnostic (typo included), exit 0 (main.c:104-108,
  *    `str_is_decimal_num` main.c:11-35 — note the empty string passes
  *    the digit scan and `atoi("")` gives 0, reproduced here);
  *  - result is ONE ordered text file `mr.rst` in the working directory
  *    (main.c:127), counter rows "%c %d" A..Z dense with zeros
  *    (usr_functions.c:104), finder rows the matching input lines in
  *    input order (usr_functions.c:177, 224);
  *  - the result block prints map/reduce worker identities and the
  *    processing time in microseconds (main.c:138-146). The reference
  *    forks one PROCESS per split and reports its pid
  *    (mapreduce.h:26-28); the engine schedules one TASK per split in
  *    shared executors, so the printed identities are Spark task attempt
  *    ids — the scheduling unit that corresponds to a forked map worker.
  *    Spark's text reader may also split large files beyond the
  *    requested minimum (split_num is a floor, not an exact count), so
  *    the pid list length is the actual task count.
  */
object MapReduceCli {

  def main(args: Array[String]): Unit = {
    val code = validate(args) match {
      case Some(c) => c // validation failures never start a session
      case None =>
        val spark = LocalSession.builder().getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        try runJob(args, spark) finally spark.stop()
    }
    sys.exit(code)
  }

  /** Returns Some(exitCode) if argv fails the reference's validation
    * (after printing the reference's diagnostic), None if runnable.
    */
  private def validate(args: Array[String]): Option[Int] = {
    // main.c:69-73 — argc < 4 (program name + 3 operands)
    if (args.length < 3) { printUsage(); return Some(1) }
    args(0) match {
      case "counter" => ()
      case "finder" =>
        // main.c:84-88 — finder requires the word operand
        if (args.length < 4) { printUsage(); return Some(1) }
      case _ => printUsage(); return Some(1) // main.c:90-94
    }
    // main.c:97-101
    val f = new java.io.File(args(1))
    if (!f.isFile) {
      println(s"Regular file ${args(1)} does not exist.")
      return Some(0)
    }
    // main.c:104-108 — every char must be an ASCII decimal digit; the
    // reference's message text (typo and trailing space included) is
    // part of the observable contract
    if (!args(2).forall(c => c >= '0' && c <= '9')) {
      println(s"${args(2)} is not a valide split size. It should be a decimal number. ")
      return Some(0)
    }
    None
  }

  private def printUsage(): Unit =
    println("Usage: graft-mapreduce \"counter\"|\"finder\" file_path split_num [word_to_find]")

  /** Validation + job execution against a caller-owned session; returns
    * the process exit code (testable without sys.exit).
    */
  def run(args: Array[String], spark: SparkSession): Int =
    validate(args) match {
      case Some(code) => code
      case None      => runJob(args, spark)
    }

  private def runJob(args: Array[String], spark: SparkSession): Int = {
        val job = args(0)
        val path = args(1)
        // atoi semantics: empty string → 0; clamp instead of C overflow UB
        val splits = if (args(2).isEmpty) 0
                     else BigInt(args(2)).min(Int.MaxValue).toInt
        val t0 = System.nanoTime()
        val sc = spark.sparkContext
        val mapPids = sc.collectionAccumulator[Long]("mapWorkerIds")
        val reducePid = sc.collectionAccumulator[Long]("reduceWorkerId")

        val lines = sc.textFile(path, math.max(splits, 1))
        val resultLines =
          if (job == "counter") {
            // reference letter counter (usr_functions.c:19-109): one
            // dense 26-slot combiner per split; partials (26 longs per
            // split) merge driver-side exactly like the reference's
            // single reduce over mr-<i>.itm files
            val vec = lines.mapPartitions { it =>
              mapPids.add(TaskContext.get.taskAttemptId())
              val b = new Array[Long](26)
              it.foreach(TextJobs.tallyLetters(b, _))
              Iterator.single(b)
            }.reduce { (a, b) =>
              var i = 0; while (i < 26) { a(i) += b(i); i += 1 }; a
            }
            sc.parallelize(
              ('A' to 'Z').zip(vec).map { case (l, n) => s"$l $n" }, 1)
          } else {
            // reference word finder (usr_functions.c:119-238): emit each
            // line containing the whole word once, in input order;
            // coalesce(1) without shuffle concatenates partitions in
            // order — the reference's ordered single-reducer concat
            val pattern = TextJobs.wholeWordPattern(args(3))
            lines.mapPartitions { it =>
              mapPids.add(TaskContext.get.taskAttemptId())
              val p = java.util.regex.Pattern.compile(pattern)
              it.filter(l => p.matcher(l).find())
            }.coalesce(1)
          }

        // single ordered text file named mr.rst in the working directory
        // (main.c:127, mapreduce.c:153-157)
        val outDir = java.nio.file.Files.createTempDirectory("graft-mr").toFile
        val partDir = new java.io.File(outDir, "out")
        resultLines.mapPartitions { it =>
          reducePid.add(TaskContext.get.taskAttemptId())
          it
        }.saveAsTextFile(partDir.getPath)
        val part = partDir.listFiles().filter(_.getName.startsWith("part-"))
        require(part.length == 1, s"expected one part file, got ${part.length}")
        java.nio.file.Files.move(part.head.toPath,
          java.nio.file.Paths.get("mr.rst"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        part.head.getParentFile.listFiles().foreach(_.delete())
        partDir.delete(); outDir.delete()

        val micros = (System.nanoTime() - t0) / 1000
        // main.c:138-146, verbatim shape (incl. trailing spaces)
        println("***** RESULT ***** ")
        println("Result file: mr.rst")
        import scala.jdk.CollectionConverters._
        println("Map worker pids: " + mapPids.value.asScala.toSeq.sorted.mkString("", " ", " "))
        println(s"Reduce worker pid: ${reducePid.value.asScala.toSeq.sorted.headOption.getOrElse(-1L)}")
        println(s"Processing time (us): $micros")
        0
  }
}
