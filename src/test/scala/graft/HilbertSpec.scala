package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.HilbertUtil

/** The Hilbert clustering kernel ([[graft.functions.HilbertUtil]]),
  * proven from first principles — no constant in the implementation is
  * trusted without a structural check:
  *  - BIJECTION: on small grids every (x, y) maps to a distinct d in
  *    [0, 4^order) and d2xy inverts it exactly;
  *  - UNIT-STEP ADJACENCY: consecutive curve positions are Manhattan
  *    neighbors — the defining Hilbert property Morton lacks, checked
  *    exhaustively on small grids AND sampled across the full 62-bit
  *    production range;
  *  - the production `hilbert_key` expression (codegen path) agrees
  *    with the interpreted kernel, and the SQL OPTIMIZE surface routes
  *    HILBERT BY to the curve rewrite. */
class HilbertSpec extends AnyFunSuite {

  test("exhaustive bijection + inverse on small grids") {
    for (order <- 1 to 5) {
      val n = 1L << order
      val seen = new scala.collection.mutable.HashSet[Long]
      for (x <- 0L until n; y <- 0L until n) {
        val d = HilbertUtil.xy2dN(order, x, y)
        assert(d >= 0 && d < n * n, s"order $order: d=$d out of range")
        assert(seen.add(d), s"order $order: duplicate d=$d at ($x,$y)")
        assert(HilbertUtil.d2xyN(order, d) == ((x, y)),
          s"order $order: d2xy(xy2d($x,$y)) != ($x,$y)")
      }
      assert(seen.size == (n * n).toInt)
    }
  }

  test("consecutive curve positions are unit neighbors (exhaustive small)") {
    for (order <- 1 to 5) {
      val n = 1L << order
      for (d <- 0L until n * n - 1) {
        val (x1, y1) = HilbertUtil.d2xyN(order, d)
        val (x2, y2) = HilbertUtil.d2xyN(order, d + 1)
        assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
          s"order $order: jump at d=$d: ($x1,$y1) -> ($x2,$y2)")
      }
    }
  }

  private def rng(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L)
      .map(_ >>> 2).drop(1)

  test("unit-step adjacency holds across the full 62-bit range (order 31)") {
    val r = rng(42)
    for (_ <- 0 until 3000) {
      val d = r.next() % ((1L << 62) - 1)
      val (x1, y1) = HilbertUtil.d2xyN(31, d)
      val (x2, y2) = HilbertUtil.d2xyN(31, d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1, s"jump at d=$d")
      assert(HilbertUtil.xy2dN(31, x1, y1) == d, s"inverse broke at d=$d")
    }
  }

  test("production position() masks to 31 bits and matches xy2dN") {
    val r = rng(7)
    for (_ <- 0 until 2000) {
      val a = r.next()
      val b = r.next()
      val d = HilbertUtil.position(a, b)
      assert(d >= 0 && d < (1L << 62))
      assert(d == HilbertUtil.xy2dN(31, a & 0x7FFFFFFFL, b & 0x7FFFFFFFL))
    }
  }

  test("hilbert_key SQL expression (codegen) agrees with the kernel") {
    val spark = SharedSpark.spark
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val pairs = Seq((0L, 0L), (1L, 0L), (123456L, 987654L),
      (0x7FFFFFFFL, 0x7FFFFFFFL), (-5L, 17L), (1L << 40, 3L))
    val got = pairs.toDF("a", "b")
      .selectExpr("a", "b", "hilbert_key(a, b) AS d")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for ((a, b, d) <- got)
      assert(d == HilbertUtil.position(a, b), s"codegen mismatch at ($a,$b)")
  }

  test("SQL OPTIMIZE ... HILBERT BY routes to the curve rewrite") {
    val spark = SharedSpark.spark
    import graft.sources.TxLog
    val dir = java.nio.file.Files.createTempDirectory("hilbert_sql").toString
    val table = s"$dir/t"
    try {
      import spark.implicits._
      val df = (0L until 4096L)
        .map(i => (i % 64, (i * 37) % 64, i))
        .toDF("ax", "ay", "v")
      (0 until 3).foreach(r =>
        TxLog.append(spark, table, df.filter($"v" % 3 === r)))
      spark.conf.set("spark.graft.optimize.targetBytes", "2048")
      try {
        val v = spark.sql(s"OPTIMIZE graft.`$table` HILBERT BY (ax, ay)")
          .head().getLong(0)
        assert(TxLog.commitKind(spark, table, v).contains("compact"))
      } finally spark.conf.unset("spark.graft.optimize.targetBytes")
      // the rewrite is row-invisible
      val got = TxLog.read(spark, table).orderBy("v").collect().map(_.toSeq)
      assert(got.toSeq == df.orderBy("v").collect().map(_.toSeq).toSeq)
      // a two-axis box read prunes files on BOTH axes from the log alone
      val preds = Seq(("ax", 16L, 31L), ("ay", 16L, 31L))
      val (kept, live) = Skipping.kept(spark, table, Skipping.ranges(preds))
      assert(live > 4 && kept.size < live,
        s"hilbert layout pruned nothing ($kept of $live)")
    } finally {
      TxLog.destroy(spark, table)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
