package graft.mr

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Typed MapReduce surface — the Spark-native generalization of the
  * reference library's public API (`/root/reference/mapreduce.h:4-20`:
  * `MR_Run` + `MR_Emit` + `get_next` + the two partitioners).
  *
  * The reference pipeline is: text scan → user map (emits k/v) → partition
  * + per-partition *sorted* insert → per-partition streaming group-by with
  * a value iterator handed to the user reduce (`/root/reference/mapreduce.c:64-154`).
  * The Spark-native expression of exactly that plan is ONE shuffle:
  *
  *   textFile → flatMap(mapper) [→ per-task combiner]
  *            → repartition(n, key) | repartitionById(n, bucket)
  *            → sortWithinPartitions(key) → mapPartitions(group-run walk)
  *
  * `SortedPartition32` shuffles with `repartitionById`: the bucket IS the
  * partition id, as in `MR_SortedPartition`, so reading the partitions in
  * index order yields bucket-major, key-minor output with no global sort.
  * The optional combiner (Dean & Ghemawat's Combiner, OSDI '04 §4.3)
  * merges each map task's values per key before the shuffle write.
  *
  * The repartition is the shuffle write (O4/O5), `sortWithinPartitions` is
  * the in-partition sort (TimSort, spillable — replaces the reference's
  * O(n²) insertion sort, `mapreduce.c:86-101`), and the group-run walk in
  * `mapPartitions` is the `reducer_run`/`get_next` loop
  * (`mapreduce.c:127-154`): each contiguous equal-key run is handed to the
  * user reducer as a streaming `Iterator[String]` — values are never
  * materialized per group, so a skewed key spills in the sort, not in the
  * reduce. This scales: at 1000 executors the same plan is n shuffle
  * partitions, each sorted and reduced independently.
  */
object MapReduce {

  /** Partitioner choice — `MR_DefaultHashPartition` vs `MR_SortedPartition`
    * (`/root/reference/mapreduce.c:229-266`). */
  sealed trait PartitionStrategy
  /** Hash partition on the key (O5). Spark's Murmur3 replaces djb2 — the
    * exact hash is not observable (the corpus canonicalizes output). */
  case object HashPartition extends PartitionStrategy
  /** Range buckets of the 32-bit key space (O6): partition = top
    * floor(log2 n) bits of `(unsigned)atoi(key)`. Gives numerically
    * ordered buckets, so bucket-major iteration yields ordered output. */
  case object SortedPartition32 extends PartitionStrategy

  /** Column expression replicating `MR_SortedPartition`
    * (`/root/reference/mapreduce.c:250-257`) including the `atoi` overflow
    * wrap: C's `(unsigned)atoi(key)` is `key mod 2^32` for any |key| < 2^63
    * (observed in the corpus: key 3333333333 → bucket 3 of 4,
    * `map___reduce/tests/11.out:7-9`).
    *
    * `atoi` parses a numeric PREFIX (optional whitespace, optional sign,
    * digits): "42abc" → 42, "abc"/"" → 0 — so the key is first reduced to
    * that prefix with `regexp_extract` and only then cast. A bare
    * `try_cast` would send "42abc" to 0, diverging from the reference.
    * Known residual divergence, documented rather than emulated: for
    * |key| ≥ 2^63 glibc `strtol` clamps to LONG_MAX so C lands in bucket
    * (2^32-1)>>shift, while the cast here nulls → bucket 0. Composed from
    * built-ins (regexp_extract, cast, pmod, shiftright) so it stays inside
    * whole-stage codegen; no custom Expression needed.
    */
  def sortedBucket32(key: Column, numPartitions: Int): Column = {
    require(numPartitions > 0, "numPartitions must be positive")
    if (numPartitions == 1) lit(0L)
    else {
      val shift = 32 - (31 - Integer.numberOfLeadingZeros(numPartitions))
      // atoi prefix: leading whitespace (the full C isspace() set, incl.
      // \v and \f), optional sign, digit run. No match → "" → try_cast
      // null → 0, exactly atoi's non-numeric case.
      val prefix = regexp_extract(key, "^[ \\t\\r\\n\\x0B\\f]*([+-]?[0-9]+)", 1)
      // try_cast, not cast: ANSI mode (Spark 4 default) would throw on a
      // non-numeric key, where C atoi returns 0.
      shiftright(pmod(coalesce(prefix.try_cast("long"), lit(0L)), lit(4294967296L)), shift)
    }
  }

  /** The `MR_Run` analogue: user mapper (≡ `Mapper` + `MR_Emit`), user
    * reducer over a streaming value iterator (≡ `Reducer` + `get_next`),
    * partitioner + partition count (≡ `Partitioner`, `num_partitions`).
    *
    * `numMappers` caps input parallelism at `min(numMappers, #files)` —
    * the reference's effective-mapper rule (`mapreduce.c:111-122`,
    * asserted by `tests/15.run`). 0 = let Spark split by size (the right
    * default at scale; the cap exists for parity tests).
    *
    * `SortedPartition32` sends each key to partition = its bucket
    * (`repartitionById`); since `bucket < 2^floor(log2 n) <= n` every id
    * is in range, and partitions at or above `2^floor(log2 n)` stay empty.
    *
    * `combiner`, when set, must be an associative, commutative merge of
    * two values of one key. Each map task then folds its output into one
    * partial value per key before the shuffle, flushing its table every
    * [[CombineBound]] distinct keys, so the reducer's run for a key holds
    * partials rather than raw values. Off by default: the reducer then
    * sees exactly the mapper's emissions, as in the reference.
    */
  def run(
      spark: SparkSession,
      files: Seq[String],
      mapper: String => IterableOnce[(String, String)],
      reducer: (String, Iterator[String]) => IterableOnce[(String, String)],
      numPartitions: Int,
      partitioner: PartitionStrategy = HashPartition,
      numMappers: Int = 0,
      combiner: Option[(String, String) => String] = None): Dataset[(String, String)] = {
    import spark.implicits._
    val lines = spark.read.textFile(files: _*)
    val capped =
      if (numMappers > 0) lines.coalesce(math.min(numMappers, files.size))
      else lines
    val emitted = combiner match {
      case None    => capped.flatMap(mapper)
      case Some(f) => capped.mapPartitions(it => combine(it.flatMap(mapper), f))
    }
    val kv = emitted.toDF("key", "value")
    val shuffled = partitioner match {
      case HashPartition => kv.repartition(numPartitions, col("key"))
      case SortedPartition32 =>
        kv.repartitionById(numPartitions,
          sortedBucket32(col("key"), numPartitions).cast("int"))
    }
    shuffled
      .sortWithinPartitions("key")
      .as[(String, String)]
      .mapPartitions(it => groupRuns(it, reducer))
  }

  /** Distinct keys one map task's combiner table holds before it emits
    * its partials and starts over: bounds the task's memory whatever the
    * key cardinality, at the price of one more partial per key per flush. */
  private[graft] val CombineBound = 1 << 14

  /** Map-side combine: fold `it` into one partial value per key with `f`,
    * emitting the table's partials (and clearing it) whenever it reaches
    * [[CombineBound]] keys and once more at the end of the input. */
  private def combine(
      it: Iterator[(String, String)],
      f: (String, String) => String): Iterator[(String, String)] = {
    val table = scala.collection.mutable.HashMap.empty[String, String]
    Iterator.continually {
      while (it.hasNext && table.size < CombineBound) {
        val (k, v) = it.next()
        table.updateWith(k)(partial => Some(partial.fold(v)(f(_, v))))
      }
      val partials = table.toArray
      table.clear()
      partials
    }.takeWhile(_.nonEmpty).flatten
  }

  /** Walk a key-sorted partition group-by-group, handing each contiguous
    * equal-key run to the reducer as a streaming iterator — the
    * `reducer_run` loop + `get_next` contract (`mapreduce.c:46-60,143-146`).
    * Any values the reducer leaves unconsumed are drained before the next
    * run starts (the reference reducer must drain too, or it livelocks).
    */
  private[graft] def groupRuns(
      it: Iterator[(String, String)],
      reducer: (String, Iterator[String]) => IterableOnce[(String, String)])
      : Iterator[(String, String)] = {
    val buf = it.buffered
    new Iterator[IterableOnce[(String, String)]] {
      def hasNext: Boolean = buf.hasNext
      def next(): IterableOnce[(String, String)] = {
        val key = buf.head._1
        val values = new Iterator[String] {
          def hasNext: Boolean = buf.hasNext && buf.head._1 == key
          def next(): String = buf.next()._2
        }
        val out = reducer(key, values)
        // Eagerly materialize reducer output, then drain the run: the
        // reducer's output may lazily pull from `values`, and the next
        // group must not start mid-run.
        val materialized = out.iterator.toVector
        while (values.hasNext) values.next()
        materialized
      }
    }.flatten
  }
}
