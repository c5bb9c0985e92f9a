package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.mr.MapReduce
import graft.mr.MapReduce.{HashPartition, SortedPartition32}

/** The two reference applications as library calls over the typed MR
  * surface — exact observable-output parity with the golden corpus
  * (`/root/reference/map___reduce/tests/`), minus the reference's
  * nondeterminism (thread ids, emission interleaving), which its own
  * parser strips (`wordcount_parser.py:40-41`).
  */
object TextPipeline {

  /** `wordcount` app (O11, `/root/reference/map___reduce/wordcount.c:9-40`):
    * key = whole input line, value = "1", reduce = sum of atoi(value).
    * Canonical output (what the reference's parser prints): `key count`
    * lines sorted by key. Counts are summed per map task before the
    * shuffle (sum is associative), so the reducer sums partial counts.
    * The final `orderBy("key")` costs one shuffle and no range-sampling
    * job while AQE would coalesce the reduced output to one partition (at
    * most `spark.sql.adaptive.coalescePartitions.minPartitionSize`, 1 MB
    * by default): [[graft.plans.SmallSortOnePartition]] sorts it in a
    * single partition.
    */
  def wordCount(
      spark: SparkSession,
      files: Seq[String],
      numPartitions: Int = 32,
      numMappers: Int = 0): DataFrame = {
    val kv = MapReduce.run(
      spark, files,
      mapper = line => Iterator((line, "1")),
      reducer = (key, values) => {
        var count = 0L
        while (values.hasNext) count += values.next().toLong
        Iterator((key, count.toString))
      },
      numPartitions = numPartitions,
      partitioner = HashPartition,
      numMappers = numMappers,
      combiner = Some((a, b) => (a.toLong + b.toLong).toString))
    kv.toDF("key", "cnt").orderBy("key")
  }

  /** `sort` app (O12, `/root/reference/map___reduce/sort.c:9-36`): key =
    * whole line, reduce drains duplicates and emits the key once ⇒
    * DISTINCT; output order = (SortedPartition32 bucket asc, then
    * lexicographic) — byte-identical to `tests/{1,11,23}.out` including
    * the atoi-overflow bucket placement. The order needs no global sort:
    * partition i holds exactly bucket i, and `sortWithinPartitions` orders
    * each one by key, so the partitions read in index order are the output.
    */
  def distinctSorted(
      spark: SparkSession,
      files: Seq[String],
      numPartitions: Int = 1,
      numMappers: Int = 0): Dataset[String] = {
    import spark.implicits._
    val kv = MapReduce.run(
      spark, files,
      mapper = line => Iterator((line, "dummy")),
      reducer = (key, values) => {
        while (values.hasNext) values.next() // drain the duplicate run
        Iterator((key, ""))
      },
      numPartitions = numPartitions,
      partitioner = SortedPartition32,
      numMappers = numMappers)
    kv.toDF("key", "v").select("key").as[String]
  }
}
