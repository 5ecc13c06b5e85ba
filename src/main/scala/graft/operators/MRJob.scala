package graft.operators

import java.io.FileNotFoundException
import scala.reflect.ClassTag
import org.apache.hadoop.fs.Path
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, encoderFor}
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders._
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.functions._

/** The reference's programmable surface, typed and Spark-compiled.
  *
  * The reference runs a user `mapf(filename, contents) -> []KeyValue`
  * and `reducef(key, values) -> string` (worker.go:51) through
  * map → FNV-hash shuffle (worker.go:105-110) → per-partition sort →
  * run-length group → reduce (worker.go:153-169). `MRJob` keeps that
  * contract but compiles it to Spark transformations, so the
  * scheduling/shuffle/fault-tolerance machinery (coordinator.go — task
  * queues, 10 s straggler deadline, atomic rename commit) is replaced
  * wholesale by Spark's DAGScheduler, shuffle service, speculation and
  * FileOutputCommitter.
  *
  * Semantics preserved (SURVEY.md §2.1 notes):
  *   - reduce is HOLISTIC: `reducef` sees every value of a key in one
  *     call (worker.go:161-165) → a hash `groupByKey`, never
  *     `reduceByKey`, in the general path;
  *   - grouping is exact key equality (worker.go:21): keys group by
  *     `equals`, which agrees with Spark's binary key equality for the
  *     key shapes `MRJob` accepts (see `run`);
  *   - `nReduce` is the reduce-task count (coordinator.go:126-141):
  *     the holistic reduce shuffles once, into `nReduce` partitions,
  *     and each reduce task groups, reduces and sorts its partition
  *     and, through `writeTextOutput`, writes its own file in that same
  *     task (worker.go:153-170, coordinator.go:118-124). The session's
  *     `spark.sql.shuffle.partitions` does not set that width: a caller
  *     who wants a wider reduce raises `nReduce`;
  *   - output is `nReduce` files, keys sorted within each file, NOT
  *     globally (README.MD:43-53, worker.go:153).
  *
  * Scale notes: a reduce task holds its partition's groups in Spark's
  * `ExternalAppendOnlyMap`, which spills to disk under memory
  * pressure, and then sorts only the distinct keys, not every pair as
  * the reference does (worker.go:153). An associative reduce is not a
  * second API here but a different plan: express it as a Catalyst
  * aggregate (`CanonicalJobs`), whose partial aggregation turns the
  * shuffle from |pairs| into |keys|·partitions.
  */
final case class MRJob[K, V, OUT](
    mapf: (String, String) => IterableOnce[(K, V)],
    reducef: (K, Iterator[V]) => OUT,
    nReduce: Int = 8) {

  /** Full pipeline over text files: one (path, contents) pair per file,
    * exactly the reference's map-input contract (worker.go:94-104),
    * then one shuffle into `nReduce` partitions by `key.hashCode`. Each
    * reduce task groups its pairs in a spillable hash map, calls
    * `reducef` once per key and sorts its distinct keys in Spark's
    * binary key order. The mapped pairs go to the reduce as an RDD,
    * with no Dataset round trip before the shuffle. The result is
    * marked as placed at `nReduce`, so `writeTextOutput` of this job
    * writes it without a second shuffle.
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
    *
    * Keys group by Java `equals`/`hashCode`. Those agree with Spark's
    * binary key equality for strings, the integral types, `Boolean`,
    * `Seq`, `Option`, and tuples or case classes of these. A key whose
    * encoder holds a JVM array (`Array[Byte]` included), a `Float` or
    * `Double` (NaN, −0.0), a `java.math.BigDecimal` (scale) or a `Map`
    * (entry order) is refused with an `IllegalArgumentException` before
    * any job runs. A null struct-shaped key fails the job, as it does
    * under `Dataset.groupByKey`.
    *
    * The class tags come from the encoders, so Spark's serializer
    * manager picks Kryo for the shuffle of String and primitive pairs
    * (the Java serializer otherwise).
    */
  def run(spark: SparkSession, inputGlob: String)(implicit
      kEnc: Encoder[K],
      kvEnc: Encoder[(K, V)],
      outEnc: Encoder[(K, OUT)]): Dataset[(K, OUT)] = {
    val sc = spark.sparkContext
    val files = sc.wholeTextFiles(inputGlob, sc.defaultParallelism)
    val pairs = files.flatMap { case (name, contents) => mapf(name, contents) }
    val keyEnc = encoderFor(kEnc)
    MRJob.refuseUnhashable(keyEnc.encoder)
    implicit val kTag: ClassTag[K] = keyEnc.clsTag
    implicit val vTag: ClassTag[V] = MRJob.valueTag(kvEnc)
    val structKey = keyEnc.isSerializedAsStructForTopLevel
    // The stock HashPartitioner, on purpose. String.hashCode mod 8 mixes
    // poorly (31 ≡ −1 mod 8), and mr_holistic's exchange skew rose from
    // 1.20 to 2.46 with it. A byteswap32-mixed partitioner brought the
    // skew to 1.62 but did not move wall time (1.307 vs 1.351 s over 5
    // pairs on 4 cores), so no custom partitioner.
    val reduced = pairs.groupByKey(new HashPartitioner(nReduce)).map { case (k, vs) =>
      if (structKey && k == null)
        throw new IllegalArgumentException("MRJob: a struct-shaped key must not be null")
      (k, reducef(k, vs.iterator))
    }
    val ds = spark.createDataset(reduced)
    val out = ds.sortWithinPartitions(ds.col("`" + ds.columns.head.replace("`", "``") + "`"))
    out.queryExecution.analyzed.setTagValue(MRJob.ReduceTasks, nReduce)
    out
  }

  /** Output fidelity sink: `nReduce` text files, `"key value"` lines,
    * sorted by key within each file (README.MD:43-53; format
    * worker.go:167).
    *
    * Writes in place when `out` is a `run` result of a
    * job with this `nReduce`, unchanged since (its analyzed plan root
    * still carries the mark): each reduce task writes its own
    * key-sorted file, with no further shuffle, placed by `key.hashCode`
    * mod `nReduce`. Any other input — a result transformed in any way
    * (a new plan root carries no mark), one reduced at another
    * `nReduce`, or a Dataset from elsewhere — is re-placed by a shuffle
    * into `nReduce` partitions by Spark's Murmur3 hash of the key and
    * sorted within each. Either way the files are disjoint in keys and
    * key-sorted. Neither placement is the reference's FNV-1a — compare
    * outputs as multisets, not file-by-file (use `graft.functions.Fnv1a`
    * when placement fidelity itself is under test).
    *
    * `dir` must be a directory or absent. An existing regular file is
    * refused before any job runs, where the overwrite would silently
    * replace it with a directory of part files.
    */
  def writeTextOutput(out: Dataset[(K, OUT)], dir: String): Unit = {
    val path = new Path(dir)
    val fs = path.getFileSystem(out.sparkSession.sparkContext.hadoopConfiguration)
    val isFile = try !fs.getFileStatus(path).isDirectory
      catch { case _: FileNotFoundException => false }
    require(!isFile, s"writeTextOutput: $dir exists and is not a directory")
    val kv = out.toDF("key", "value")
    val placed =
      if (out.queryExecution.analyzed.getTagValue(MRJob.ReduceTasks).contains(nReduce)) kv
      else kv.repartition(nReduce, col("key")).sortWithinPartitions("key")
    placed.select(concat_ws(" ", col("key").cast("string"), col("value").cast("string")))
      .write.mode("overwrite").text(dir)
  }
}

object MRJob {

  /** Marks the analyzed plan root of a `run` result with the
    * `nReduce` it is placed at: hash-partitioned on the key into that
    * many partitions, each sorted by key. A transformation builds a new
    * root, which carries no mark.
    */
  private val ReduceTasks = TreeNodeTag[Int]("graft.mrjob.reduceTasks")

  /** The value's class tag: field 1 of the pair encoder. A pair encoder
    * that is not a product (a Kryo-encoded pair, say) gives `AnyRef`,
    * which keeps the Java serializer.
    */
  private def valueTag[K, V](kvEnc: Encoder[(K, V)]): ClassTag[V] =
    (encoderFor(kvEnc).encoder match {
      case p: ProductEncoder[_] => p.fields(1).enc.clsTag
      case _ => ClassTag.AnyRef
    }).asInstanceOf[ClassTag[V]]

  /** Refuses a key whose encoder tree holds a type whose Java
    * `equals`/`hashCode` disagree with Spark's encoded-key equality: a
    * JVM array (compared by identity), a `Float` or `Double` (NaN ≠ NaN
    * under tuple and case-class `==`, and −0.0 ≠ 0.0 under `equals`),
    * a `java.math.BigDecimal` (whose `equals` depends on scale) or a
    * `Map` (equal in any entry order, while Spark's encoding keeps the
    * order, and one Spark cannot sort). The message names the key type
    * and the offending type.
    */
  private def refuseUnhashable(key: AgnosticEncoder[_]): Unit = {
    def bad(enc: AgnosticEncoder[_]): Option[AgnosticEncoder[_]] = enc match {
      case BinaryEncoder | _: ArrayEncoder[_] | PrimitiveFloatEncoder | BoxedFloatEncoder |
          PrimitiveDoubleEncoder | BoxedDoubleEncoder | _: JavaDecimalEncoder |
          _: MapEncoder[_, _, _] => Some(enc)
      case s: StructEncoder[_] => s.fields.iterator.flatMap(f => bad(f.enc)).nextOption()
      case o: OptionEncoder[_] => bad(o.elementEncoder)
      case i: IterableEncoder[_, _] => bad(i.element)
      case t: TransformingEncoder[_, _] => bad(t.transformed)
      case _ => None
    }
    bad(key).foreach { enc =>
      throw new IllegalArgumentException(
        s"MRJob: key type ${key.clsTag.runtimeClass.getTypeName} holds " +
          s"${enc.clsTag.runtimeClass.getTypeName}, whose equals/hashCode disagree with " +
          "Spark's key equality; use a String, integral, Seq or Option key instead")
    }
  }
}
