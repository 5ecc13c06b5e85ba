package graft.operators

import org.apache.spark.sql.{Column, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.functions._

/** The reference's programmable surface, typed and Spark-compiled.
  *
  * The reference runs a user `mapf(filename, contents) -> []KeyValue`
  * and `reducef(key, values) -> string` (worker.go:51) through
  * map → FNV-hash shuffle (worker.go:105-110) → per-partition sort →
  * run-length group → reduce (worker.go:153-169). `MRJob` keeps that
  * contract but compiles it to Dataset transformations, so the
  * scheduling/shuffle/fault-tolerance machinery (coordinator.go — task
  * queues, 10 s straggler deadline, atomic rename commit) is replaced
  * wholesale by Spark's DAGScheduler, shuffle service, speculation and
  * FileOutputCommitter.
  *
  * Semantics preserved (SURVEY.md §2.1 notes):
  *   - reduce is HOLISTIC: `reducef` sees every value of a key in one
  *     call (worker.go:161-165) → key-column
  *     `groupBy(...).as[K, (K, V)].mapGroups(...)`, never
  *     `reduceByKey`, in the general path;
  *   - grouping is exact binary string/key equality (worker.go:21) —
  *     default binary collation, no locale;
  *   - output is `nReduce` files, keys sorted within each file, NOT
  *     globally (README.MD:43-53, worker.go:153).
  *
  * Scale notes: the holistic path materializes one key's values at a
  * time (like the reference, worker.go:161-163) but streams via the
  * grouped iterator — no whole-partition buffering. When the reduce is
  * associative, use [[runAssociative]]: partial aggregation turns the
  * shuffle from |pairs| into |keys|·partitions — the difference
  * between a working and a melted 100 TB wordcount.
  */
final case class MRJob[K, V, OUT](
    mapf: (String, String) => IterableOnce[(K, V)],
    reducef: (K, Iterator[V]) => OUT,
    nReduce: Int = 8) {

  /** Full pipeline over text files: one (path, contents) pair per file,
    * exactly the reference's map-input contract (worker.go:94-104).
    *
    * Splits: the reference runs one MAP task per file
    * (coordinator.go:185-198). Here `wholeTextFiles` packs whole files
    * into splits of about total/`defaultParallelism` bytes (Hadoop's
    * `CombineFileInputFormat`), one map task each, so the map side
    * runs about as wide as the cluster. A file is never cut. A split
    * closes once it reaches that size, so it can take more than its
    * share: equal-size files in a multiple of `defaultParallelism`
    * give exactly that many splits, other globs can give fewer (six
    * equal files on four cores give three).
    */
  def run(spark: SparkSession, inputGlob: String)(implicit
      kEnc: Encoder[K],
      kvEnc: Encoder[(K, V)],
      outEnc: Encoder[(K, OUT)]): Dataset[(K, OUT)] = {
    val sc = spark.sparkContext
    val files = sc.wholeTextFiles(inputGlob, sc.defaultParallelism)
    val mapped = files.flatMap { case (name, contents) => mapf(name, contents) }
    runOnPairs(spark.createDataset(mapped))
  }

  /** Shuffle + group + holistic reduce over an already-mapped KV set.
    *
    * Groups on the key column itself (see `MRJob.keyColumns`), so a
    * flat key crosses the exchange once per row; `groupByKey(_._1)`
    * would append a second, re-serialized copy of it to every row. A
    * struct-shaped key is grouped on its fields, projected next to the
    * struct. Keys compare by their binary encoding, as with
    * `groupByKey`.
    */
  def runOnPairs(kvs: Dataset[(K, V)])(implicit
      kEnc: Encoder[K],
      outEnc: Encoder[(K, OUT)]): Dataset[(K, OUT)] =
    kvs.groupBy(MRJob.keyColumns(kvs, kEnc): _*).as[K, (K, V)](kEnc, kvs.encoder)
      .mapGroups((k, it) => (k, reducef(k, it.map(_._2))))

  /** Associative fast path — the combiner the reference lacks
    * (map side writes raw pairs, worker.go:107-118). `reduceGroups`
    * plans partial + final ObjectHashAggregate: map-side combine
    * shrinks the shuffle to |distinct keys| per partition.
    */
  def runAssociative(kvs: Dataset[(K, V)], combine: (V, V) => V)(implicit
      kEnc: Encoder[K],
      kvEnc: Encoder[(K, V)]): Dataset[(K, V)] =
    kvs.groupByKey(_._1)
      .reduceGroups((a: (K, V), b: (K, V)) => (a._1, combine(a._2, b._2)))
      .map { case (k, (_, v)) => (k, v) }

  /** Output fidelity sink: `nReduce` text files, `"key value"` lines,
    * sorted by key within each file (README.MD:43-53; format
    * worker.go:167). Placement uses Spark's Murmur3 hash, not the
    * reference's FNV-1a — compare outputs as multisets, not
    * file-by-file (use `graft.functions.Fnv1a` when placement
    * fidelity itself is under test).
    */
  def writeTextOutput(out: Dataset[(K, OUT)], dir: String): Unit =
    out.toDF("key", "value")
      .repartition(nReduce, col("key"))
      .sortWithinPartitions("key")
      .select(concat_ws(" ", col("key").cast("string"), col("value").cast("string")))
      .write.mode("overwrite").text(dir)
}

object MRJob {

  /** The grouping columns for the key, the first column of `kvs`.
    *
    * A flat key (primitive, String, Option, array) is that column. A
    * struct-shaped key (tuple, case class) is grouped on the column's
    * fields, each aliased to its own name: the key encoder resolves
    * them by name, while the struct column alone fails to bind
    * (`UNSUPPORTED_DESERIALIZER.FIELD_NUMBER_MISMATCH`). A whole-null
    * struct key would then merge with a key whose fields are all
    * null, so it fails the job instead, as it does under `groupByKey`
    * (`NOT_NULL_ASSERT_VIOLATION`, top-level Product).
    */
  private def keyColumns[K](kvs: Dataset[_], kEnc: Encoder[K]): Seq[Column] = {
    val key = kvs.col("`" + kvs.columns.head.replace("`", "``") + "`")
    val enc = encoderFor(kEnc)
    if (!enc.isSerializedAsStructForTopLevel) Seq(key)
    else {
      val nonNull = when(key.isNull,
        raise_error(lit("MRJob: a struct-shaped key must not be null"))).otherwise(key)
      enc.schema.fieldNames.toSeq.map(f => nonNull.getField(f).as(f))
    }
  }
}
