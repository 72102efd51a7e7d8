package org.apache.spark.sql.execution.datasources.parquet

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.OneToOneDependency
import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD, UnionRDD}
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.types.StructType

/** Spark's own footer-to-schema conversion and file-scan relation, run
  * on the driver over a listing the caller already made.
  *
  * [[of]]: schema inference (`mergeSchemasInParallel`) applies the same
  * conversion inside a one-task Spark job; the reader and converter it
  * uses are `private[parquet]`, so this bridge lives in their package
  * (the same pattern as `org.apache.spark.sql.graftext.ColumnBridge`).
  * The binary-as-string, INT96, TIMESTAMP_NTZ-inference and
  * `nanosAsLong` session confs and the Spark row-metadata key are
  * honoured exactly as inference honours them.
  *
  * [[scan]]: the relation `spark.read.schema(s).options(o).parquet(...)`
  * builds, with the caller's listing as the file index's cache, so the
  * index lists nothing (and starts no parallel-listing job) when built.
  *
  * [[concat]]: scans whose partitions stay apart in one job (the
  * session's `internalCreateDataFrame` is `private[sql]`).
  */
object FooterSchema {
  def of(spark: SparkSession, file: FileStatus): Option[StructType] =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(
        spark.sessionState.newHadoopConf(), Seq(file), ignoreCorruptFiles = false),
      spark)

  /** `listing` pairs each qualified root path with the leaf files under
    * it, as Spark's listing would return them. Partition discovery,
    * `basePath`, `recursiveFileLookup` and the typing of partition
    * columns by a `schema` field run in Spark's `InMemoryFileIndex` as
    * in a `spark.read`; the relation's schemas are split the way
    * `DataSource.resolveRelation` splits a user schema. */
  def scan(spark: SparkSession, listing: Seq[(Path, Seq[FileStatus])],
           options: Map[String, String], schema: StructType): DataFrame = {
    val index = new InMemoryFileIndex(spark, listing.map(_._1), options, Some(schema),
      new Listed(listing))
    val partitionSchema = index.partitionSchema
    val resolver = spark.sessionState.conf.resolver
    val dataSchema = StructType(
      schema.filterNot(f => partitionSchema.exists(p => resolver(p.name, f.name))))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      dataSchema.asNullable, None, new ParquetFileFormat, CaseInsensitiveMap(options))(spark))
  }

  /** `parts` (one schema) as one DataFrame of `parts.size` partitions,
    * partition k reading exactly part k: a write of it runs one task
    * per part in ONE job, with no shuffle. The parts are planned as one
    * union (one query to plan, not one per part), whose partitions are
    * then grouped back per part. `Dataset.union` alone does not keep
    * the parts apart: its partitions are each part's own, and with
    * `spark.sql.unionOutputPartitioning` on, single-partition parts
    * zip into one partition. */
  def concat(spark: SparkSession, parts: Seq[DataFrame]): DataFrame = {
    val rdd = parts.reduce(_ union _).queryExecution.executedPlan.execute()
    // the union's RDD, under any one-to-one (per-partition) wrappers
    def union(r: RDD[_]): Option[UnionRDD[_]] = r match {
      case u: UnionRDD[_] => Some(u)
      case _ => r.dependencies match {
        case Seq(d: OneToOneDependency[_]) => union(d.rdd)
        case _ => None
      }
    }
    val sizes = union(rdd).map(_.rdds.map(_.partitions.length)).getOrElse {
      require(parts.size == 1, s"concat: no union under the plan of ${parts.size} parts")
      Seq(rdd.partitions.length)
    }
    require(sizes.size == parts.size,
      s"concat: ${parts.size} parts, ${sizes.size} non-empty union inputs")
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(
      rdd.coalesce(parts.size, shuffle = false, Some(new PerPart(sizes))), parts.head.schema)
  }

  /** Groups a union's partitions back into one group per input, given
    * each input's partition count in union order. */
  private final class PerPart(sizes: Seq[Int]) extends PartitionCoalescer with Serializable {
    override def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] =
      sizes.scanLeft(0)(_ + _).zip(sizes).map { case (from, n) =>
        val g = new PartitionGroup()
        g.partitions ++= parent.partitions.slice(from, from + n)
        g
      }.toArray
  }

  /** A listing replayed as the index's cache. `invalidateAll` (what the
    * index's `refresh()` calls) drops it, so a refresh lists storage. */
  private final class Listed(listing: Seq[(Path, Seq[FileStatus])]) extends FileStatusCache {
    private val leaves = new ConcurrentHashMap[Path, Array[FileStatus]]()
    listing.foreach { case (root, files) => leaves.put(root, files.toArray) }
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] = Option(leaves.get(path))
    override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = leaves.put(path, files)
    override def invalidateAll(): Unit = leaves.clear()
  }
}
