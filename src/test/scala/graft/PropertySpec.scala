package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.TextPipeline
import graft.mr.MapReduce

/** Property-based generalization of the reference parser's invariants
  * (`wordcount_parser.py:28-38`, SURVEY.md §5.3 item 3): the engine's
  * aggregates are checked against a trivially-correct in-memory model on
  * ScalaCheck-generated corpora, not just the golden files. Seeds are
  * fixed so failures reproduce.
  */
class PropertySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(42L + i)))

  private val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "42", "7",
    "3333333333", "x", "yy", "zzz")
  private val corpus = Gen.resize(60, Gen.nonEmptyListOf(word))

  private def toFiles(lines: Seq[String], parts: Int): Seq[String] = {
    val dir = java.nio.file.Files.createTempDirectory("graft-prop")
    lines.grouped(math.max(1, lines.size / parts)).zipWithIndex.map { case (chunk, i) =>
      val f = dir.resolve(s"$i.txt")
      java.nio.file.Files.writeString(f, chunk.mkString("", "\n", "\n"))
      f.toString
    }.toSeq
  }

  test("wordCount == in-memory groupBy-count model on arbitrary corpora") {
    samples(corpus, 5).foreach { lines =>
      val got = TextPipeline.wordCount(spark, toFiles(lines, 2), numPartitions = 3)
        .collect().map(r => r.getString(0) -> r.getString(1).toLong).toMap
      val want = lines.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(got == want, s"corpus=$lines")
    }
  }

  /** Keys whose UTF-8 byte order differs from `String.compareTo`'s UTF-16
    * order: U+FF21 sorts after a surrogate pair in UTF-16 but before the
    * 4-byte UTF-8 encoding of U+1F600 / U+1D11E. */
  private val unicodeWord = Gen.oneOf("a", "ab", "Z", "\u00e9", "\u00df", "\u4e2d\u6587",
    "\uFF21", "\uFFFD", "\uD83D\uDE00", "\uD834\uDD1E", "a\uD83D\uDE00", "a\uFF21")
  private val unicodeCorpus = Gen.resize(40, Gen.nonEmptyListOf(unicodeWord))

  test("wordCount rows come back in UTF-8 byte order of key at P in {1, 3, 7}") {
    def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def byteLess(a: String, b: String) =
      java.util.Arrays.compareUnsigned(utf8(a), utf8(b)) < 0
    var utf16Differs = false
    samples(unicodeCorpus, 4).foreach { lines =>
      val files = toFiles(lines, 2)
      val want = lines.distinct.sortWith(byteLess)
      utf16Differs ||= lines.distinct.sorted != want
      Seq(1, 3, 7).foreach { p =>
        val got = TextPipeline.wordCount(spark, files, numPartitions = p)
          .collect().map(_.getString(0)).toSeq
        assert(got == want, s"p=$p corpus=$lines")
      }
    }
    assert(utf16Differs, "no corpus told UTF-8 byte order from UTF-16 order")
  }

  test("distinctSorted == sorted distinct model; idempotent under re-distinct") {
    samples(corpus, 5).foreach { lines =>
      val files = toFiles(lines, 2)
      val got = TextPipeline.distinctSorted(spark, files, numPartitions = 1).collect().toSeq
      val want = lines.distinct.sorted // P=1 => pure lexicographic (§3.2)
      assert(got == want, s"corpus=$lines")
      assert(got.distinct == got, "distinct output contained a duplicate")
    }
  }

  /** `MR_SortedPartition`'s bucket, computed the C way: `atoi` (skip
    * whitespace, optional sign, digit run; anything else is 0), then
    * `(unsigned)` — mod 2^32 — and the top floor(log2 p) bits. */
  private def cBucket(key: String, p: Int): Long = {
    val s = key.dropWhile(" \t\r\n\u000b\f".contains(_))
    val sign = s.takeWhile("+-".contains(_)).take(1)
    val digits = s.drop(sign.length).takeWhile(c => c >= '0' && c <= '9')
    val atoi = if (digits.isEmpty) 0L else (sign + digits).toLongOption.getOrElse(0L)
    val bits = 31 - Integer.numberOfLeadingZeros(p)
    if (bits == 0) 0L else java.lang.Math.floorMod(atoi, 1L << 32) >>> (32 - bits)
  }

  test("distinctSorted at P in {2,3,4,5,8} == bucket-major, key-minor distinct model") {
    // the shuffle is tiny, so this is also the guard that AQE does not
    // coalesce the partitions the output order is read from
    samples(corpus, 5).zipWithIndex.foreach { case (lines, i) =>
      val files = toFiles(lines, 2)
      Seq(2, 3, 4, 5, 8).foreach { p =>
        val got = TextPipeline.distinctSorted(spark, files, numPartitions = p)
          .collect().toSeq
        val want = lines.distinct.sortBy(k => (cBucket(k, p), k))
        assert(got == want, s"sample=$i p=$p corpus=$lines")
      }
    }
  }

  test("aggregation result is invariant under partition count (matrix axis)") {
    samples(Gen.zip(corpus, Gen.oneOf(1, 2, 7)), 4).foreach { case (lines, p) =>
      val files = toFiles(lines, 2)
      val base = TextPipeline.wordCount(spark, files, numPartitions = 3)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val other = TextPipeline.wordCount(spark, files, numPartitions = p)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(base == other, s"p=$p corpus=$lines")
    }
  }

  test("sortedBucket32 is monotone in the unsigned-32 key order") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val gen = Gen.zip(Gen.listOfN(20, Gen.chooseNum(0L, 4294967295L)), Gen.oneOf(2, 4, 8))
    samples(gen, 5).foreach { case (keys, p) =>
      val rows = keys.map(_.toString).toDF("key")
        .select(col("key"), MapReduce.sortedBucket32(col("key"), p).as("b"))
        .collect().map(r => (r.getString(0).toLong, r.getLong(1)))
      rows.sortBy(_._1).sliding(2).foreach {
        case Array((k1, b1), (k2, b2)) =>
          assert(b1 <= b2, s"bucket order violated: $k1->$b1 vs $k2->$b2 (p=$p)")
        case _ =>
      }
    }
  }
}
