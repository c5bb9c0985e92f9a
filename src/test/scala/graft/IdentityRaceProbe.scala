package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.sources.TxLog

/** Dev probe (not part of the suite's contract): autopsy the identity
  * race by dumping, per commit, the minted ids and the recorded
  * high-water. */
class IdentityRaceProbe extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("probe: per-commit id ranges under two racing writers") {
    val t = java.nio.file.Files.createTempDirectory("txid-probe").toString + "/t"
    TxLog.createTable(spark, t, StructType(Seq(
      StructField("k", LongType), StructField("s", StringType))))
    TxLog.addIdentityColumn(spark, t, "row_id")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { ti =>
      new Thread(() => {
        try {
          (0 until 8).foreach { i =>
            TxLog.append(spark, t,
              (0 until 3).map(j => (ti * 1000L + i * 10L + j, s"t$ti"))
                .toDF("k", "s"))
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(errs.isEmpty, s"racing appends failed: ${errs.peek()}")
    val ids = TxLog.read(spark, t).select("row_id").as[Long].collect().sorted
    val dup = ids.length != ids.distinct.length
    if (dup) {
      println(s"[probe] DUPES: ${ids.mkString(",")}")
      for (v <- TxLog.versions(spark, t)) {
        val metas = TxLog.commitMetas(spark, t, asOf = Some(v))
        val hw = metas.get("identity-row_id")
        println(s"[probe] v$v hw-asof=$hw")
      }
      // per-commit file contents: which ids did each commit add?
      import org.apache.hadoop.fs.Path
      for (v <- TxLog.versions(spark, t)) {
        val df = try {
          val adds = TxLog.commitActions(spark, t, v).collect { case ("add", p) => p }
          if (adds.isEmpty) "no adds"
          else spark.read.parquet(adds.map(p => s"$t/$p"): _*)
            .select("row_id").as[Long].collect().sorted.mkString(",")
        } catch { case e: Exception => s"err ${e.getMessage}" }
        println(s"[probe] v$v ids=[$df]")
      }
    }
    assert(!dup, s"duplicates found: ${ids.groupBy(identity).filter(_._2.length > 1).keys.toSeq.sorted}")
  }
}
