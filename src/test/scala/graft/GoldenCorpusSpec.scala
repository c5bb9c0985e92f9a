package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.operators.TextPipeline

/** Port of the reference's 25-case golden-output corpus
  * (`/root/reference/map___reduce/tests/N.run` → `N.out`).
  *
  * Each `.run` is `./(sort|wordcount) <files...> M R P [| parser]`.
  * - sort goldens are raw stdout: keys in (SortedPartition32 bucket,
  *   lexicographic) order — compared byte-for-byte.
  * - wordcount goldens are the canonicalized parser output
  *   (`wordcount_parser.py:40-41`): `key count` lines sorted by key —
  *   the parser strips the thread-id/partition nondeterminism, so the
  *   canonical form is the only observable the reference itself pins.
  *
  * Property checks from the parser (O13/O14) are ported in
  * `MapReduceApiSpec`.
  *
  * The corpus lives outside this repository. Where its directory is
  * absent, the spec registers one test that reports itself canceled, so
  * the missing port shows in the report instead of vanishing from it.
  */
class GoldenCorpusSpec extends SparkSpec {
  private val testsDir = "/root/reference/map___reduce/tests"

  private case class Case(id: Int, app: String, files: Seq[String],
                          mappers: Int, reducers: Int, partitions: Int)

  private def parseRun(id: Int): Option[Case] = {
    val p = Paths.get(s"$testsDir/$id.run")
    if (!Files.exists(p)) return None
    val cmd = Files.readString(p).trim.split(";").head.trim
    // e.g. "./sort tests/5.txt 1 1 1" or "./wordcount ... 1 1 1 > tests-out/4.mid"
    val toks = cmd.split("\\s+").takeWhile(_ != ">")
    val app = toks.head.stripPrefix("./")
    val files = toks.tail.takeWhile(t => !t.forall(_.isDigit))
      .map(f => s"$testsDir/${f.stripPrefix("tests/")}")
    val nums = toks.tail.dropWhile(t => !t.forall(_.isDigit)).map(_.toInt)
    Some(Case(id, app, files.toSeq, nums(0), nums(1), nums(2)))
  }

  private def golden(id: Int): Seq[String] =
    Files.readAllLines(Paths.get(s"$testsDir/$id.out")).asScala.toSeq

  private val cases = (1 to 25).flatMap(parseRun)

  if (cases.isEmpty) test("golden corpus") {
    assume(Files.isDirectory(Paths.get(testsDir)), s"golden corpus $testsDir is absent")
    fail(s"$testsDir holds none of the cases 1.run .. 25.run")
  }

  for (c <- cases) {
    test(s"golden ${c.id}: ${c.app} ${c.files.map(_.split('/').last).mkString(",")} " +
         s"M=${c.mappers} R=${c.reducers} P=${c.partitions}") {
      val actual: Seq[String] = c.app match {
        case "sort" =>
          TextPipeline.distinctSorted(spark, c.files, c.partitions, c.mappers)
            .collect().toSeq
        case "wordcount" =>
          TextPipeline.wordCount(spark, c.files, c.partitions, c.mappers)
            .collect().toSeq.map(r => s"${r.getString(0)} ${r.getString(1)}")
      }
      val expected = golden(c.id)
      assert(actual.length == expected.length,
        s"row count: got ${actual.length}, want ${expected.length}")
      // Compare content first for a readable diff, then exact order.
      actual.zip(expected).zipWithIndex.find { case ((a, e), _) => a != e }
        .foreach { case ((a, e), i) =>
          fail(s"first mismatch at line $i: got '$a', want '$e'")
        }
    }
  }
}
