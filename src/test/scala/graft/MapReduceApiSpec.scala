package graft

import java.nio.file.Files
import graft.mr.MapReduce
import graft.mr.MapReduce.{HashPartition, SortedPartition32}
import org.apache.spark.TaskContext
import org.apache.spark.sql.functions.col

/** Port of the reference parser's property checks (O13/O14,
  * `wordcount_parser.py:28-38`) plus unit coverage of the typed MR
  * surface itself.
  *
  * The spec writes its own deterministic inputs (`textFile`) in the
  * shapes of the reference corpus (FIXTURES.md §1: newline-delimited
  * numeric keys, duplicate-heavy files, tiny 3- and 4-line files). The
  * checks here need an input of a given shape, not the reference's own
  * bytes; byte-level parity with the reference outputs is
  * `GoldenCorpusSpec`'s job.
  */
class MapReduceApiSpec extends SparkSpec {
  import spark.implicits._

  /** One newline-terminated text file holding `lines`, deleted at JVM exit. */
  private def textFile(lines: Seq[String]): String = {
    val f = Files.createTempFile("graft-mr", ".txt")
    f.toFile.deleteOnExit()
    Files.writeString(f, lines.mkString("", "\n", "\n"))
    f.toString
  }

  /** Counts the values of each key, draining the run. */
  private val countValues: (String, Iterator[String]) => Iterator[(String, String)] =
    (k, vs) => { var n = 0; while (vs.hasNext) { vs.next(); n += 1 }; Iterator((k, n.toString)) }

  test("exactly-once emission per key (parser dup check)") {
    // dup-heavy numeric keys, repeated non-adjacently within each file and
    // across the two: 1,000 distinct keys x 3, then 400 of them again x 2.5
    val files = Seq(
      textFile((0 until 3000).map(i => (i * 7 % 1000).toString)),
      textFile((0 until 1000).map(i => (i * 13 % 400).toString)))
    val out = graft.operators.TextPipeline.wordCount(spark, files, 4).collect()
    val keys = out.map(_.getString(0))
    assert(keys.distinct.length == keys.length, "a key was output twice")
  }

  test("effective mappers = min(numMappers, #files)  (tests/15.run: M=9, 3 files => 3)") {
    val files = (0 until 3).map(f => textFile((0 until 6).map(i => s"${f * 100 + i}")))
    // each map task emits its own partition id as the key: the reduce then
    // yields one key per map task that saw input
    val mapTasks = MapReduce.run(
      spark, files,
      _ => Iterator((TaskContext.getPartitionId().toString, "1")),
      countValues,
      numPartitions = 2,
      numMappers = 9)
      .collect().map(_._1)
    assert(mapTasks.distinct.length == 3)
  }

  test("reduce-side parallelism = numPartitions (tests/16.run: P=7)") {
    val out = MapReduce.run(
      spark, Seq(textFile((0 until 1000).map(i => (i * 7 % 300).toString))),
      line => Iterator((line, "1")),
      countValues,
      numPartitions = 7)
    assert(out.rdd.getNumPartitions == 7)
  }

  test("sortedBucket32 replicates MR_SortedPartition incl. atoi overflow (tests/11.out:7-9)") {
    // C: (uint32)atoi(key) >> (32 - log2(P)); key 3333333333 wraps negative
    // as int32, re-reads as 3333333333 unsigned => bucket 3 of 4.
    val df = Seq("3", "3456346", "523654", "3333333333", "3344556677", "-5", "notanum")
      .toDF("key")
      .select(col("key"), MapReduce.sortedBucket32(col("key"), 4).as("b"))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("3") == 0L)
    assert(got("3456346") == 0L)
    assert(got("523654") == 0L)
    assert(got("3333333333") == 3L)  // overflow wrap parity
    assert(got("3344556677") == 3L)
    assert(got("-5") == 3L)          // atoi(-5) -> (unsigned)(2^32-5) -> top bucket
    assert(got("notanum") == 0L)     // atoi garbage -> 0
  }

  test("sortedBucket32 parses an atoi-style numeric PREFIX, not the whole key") {
    // C atoi: skip whitespace, optional sign, digit run, stop at the first
    // non-digit — "42abc" parses as 42 where a whole-string cast gives 0
    val df = Seq("3333333333abc", "  42xyz", "+7tail", "-5.9", "x42", "")
      .toDF("key")
      .select(col("key"), MapReduce.sortedBucket32(col("key"), 4).as("b"))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("3333333333abc") == 3L) // prefix wraps exactly like the bare key
    assert(got("  42xyz") == 0L)       // whitespace + digits
    assert(got("+7tail") == 0L)        // explicit sign
    assert(got("-5.9") == 3L)          // parses -5, ignores the fraction
    assert(got("x42") == 0L)           // no leading digits -> atoi 0
    assert(got("") == 0L)
    // full C isspace() set: vertical tab and form feed also skip
    val ws = Seq("3333333333", "\f42")
      .toDF("key")
      .select(col("key"), MapReduce.sortedBucket32(col("key"), 4).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ws("3333333333") == 3L)
    assert(ws("\f42") == 0L)
  }

  test("sortedBucket32 with one partition is always 0 (mapreduce.c:230-232 guard)") {
    val df = Seq("7", "4000000000").toDF("key")
      .select(MapReduce.sortedBucket32(col("key"), 1).as("b"))
    assert(df.collect().forall(_.getLong(0) == 0L))
  }

  /** 4 lines, duplicates of a tiny key set, each key repeated
    * non-adjacently: a run exists only after the sort groups them. */
  private lazy val tinyDups = textFile(Seq("1", "2", "1", "2"))

  test("reducer sees values of one key as a contiguous streaming run (get_next contract)") {
    val seen = MapReduce.run(
      spark, Seq(tinyDups),
      line => Iterator((line, "v")),
      (k, vs) => {
        var n = 0
        while (vs.hasNext) { assert(vs.next() == "v"); n += 1 }
        Iterator((k, n.toString))
      },
      numPartitions = 2)
    val total = seen.collect().map(_._2.toInt).sum
    assert(total == 4, "every emitted value must reach exactly one reducer run")
  }

  test("unconsumed values are drained between runs") {
    val out = MapReduce.run(
      spark, Seq(tinyDups),
      line => Iterator((line, "v")),
      (k, _) => Iterator((k, "x")), // never consumes the iterator
      numPartitions = 1)
    // bounded: an undrained run is handed to the reducer again and again,
    // so the output repeats its key without end instead of finishing
    val keys = out.limit(100).collect().map(_._1)
    assert(keys.distinct.length == keys.length, "runs bled into each other")
  }

  test("empty input file yields empty output (no phantom groups)") {
    val f = java.nio.file.Files.createTempFile("graft-empty", ".txt")
    val out = graft.operators.TextPipeline.wordCount(spark, Seq(f.toString), 2)
    assert(out.count() == 0)
  }

  test("unicode lines survive the pipeline intact") {
    val f = java.nio.file.Files.createTempFile("graft-uni", ".txt")
    java.nio.file.Files.writeString(f, "héllo wörld\n héllo wörld\nこんにちは\nhéllo wörld\n")
    val out = graft.operators.TextPipeline.wordCount(spark, Seq(f.toString), 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("héllo wörld") == "2")       // exact line, with leading space distinct
    assert(out(" héllo wörld") == "1")
    assert(out("こんにちは") == "1")
  }

  test("result invariant under partition count (reference test-matrix axis)") {
    // three 3-line numeric files: random order, ascending, descending
    // (with the atoi-overflow key); "3" is in all three, two more lines in two
    val files = Seq(
      textFile(Seq("523654", "3", "3456346")),
      textFile(Seq("3", "523654", "3344556677")),
      textFile(Seq("3333333333", "3456346", "3")))
    val results = Seq(1, 4, 7).map { p =>
      graft.operators.TextPipeline.wordCount(spark, files, p)
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    }
    assert(results(0) == results(1) && results(1) == results(2))
  }
}
