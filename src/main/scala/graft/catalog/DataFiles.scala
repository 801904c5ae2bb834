package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

import graft.catalog.RestCatalogClient.DataFile

/** Written parquet files → the [[DataFile]] entries a commit registers:
  * length, record count and per-column min/max bounds, all read from
  * the files' FOOTERS (row data is never read). One distributed job
  * opens each footer once, whatever the number of stats columns. */
object DataFiles {

  /** One footer's facts: file length, row count, and the
    * [[columnBounds]] of each requested column that has them. */
  private[graft] final case class Footer(path: String, size: Long, rows: Long,
                                         bounds: Map[String, (Long, Long)])

  /** The file-level min/max of `column` over a footer's row groups.
    * Every row group must carry comparable INT64/INT32 statistics for
    * it: one row group without them (stats missing or not comparable,
    * or the column absent) leaves the file unbounded, because bounds
    * over the other row groups would be narrower than its rows and a
    * planner pruning on them would skip matches. */
  private[graft] def columnBounds(blocks: Seq[BlockMetaData],
                                  column: String): Option[(Long, Long)] = {
    val ranges = blocks.map { b =>
      b.getColumns.asScala.find(_.getPath.toDotString == column)
        .map(_.getStatistics)
        .filter(s => s != null && s.hasNonNullValue)
        .flatMap(s => (s.genericGetMin, s.genericGetMax) match {
          case (mn: java.lang.Long, mx: java.lang.Long) =>
            Some((mn.longValue, mx.longValue))
          case (mn: java.lang.Integer, mx: java.lang.Integer) =>
            Some((mn.longValue, mx.longValue))
          case _ => None
        })
    }
    if (ranges.isEmpty || ranges.exists(_.isEmpty)) None
    else Some((ranges.flatten.map(_._1).min, ranges.flatten.map(_._2).max))
  }

  /** Footers of `paths`, in order, harvested as one Spark job (a wide
    * commit has ~10^5 footers; a driver sweep would dominate it). */
  private[graft] def footers(spark: SparkSession, paths: Seq[String],
                             columns: Seq[String]): Seq[Footer] = {
    if (paths.isEmpty) return Nil
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    val slices = math.max(1, math.min(paths.length,
      spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(paths.toIndexedSeq, slices)
      .mapPartitions { it =>
        val conf = confB.value.value
        it.map { p =>
          val file = HadoopInputFile.fromPath(new Path(p), conf)
          val reader = ParquetFileReader.open(file)
          try {
            val blocks = reader.getFooter.getBlocks.asScala.toSeq
            val bounds = columns.flatMap(c => columnBounds(blocks, c).map(c -> _)).toMap
            Footer(p, file.getLength, blocks.map(_.getRowCount).sum, bounds)
          } finally reader.close()
        }
      }.collect().toSeq
  }

  /** `paths` as commit entries. `stats` lists the (field id, column)
    * pairs whose footer min/max become the entry's `lower_bounds` /
    * `upper_bounds`, so planners prune from manifests alone;
    * `partition` gives a file's explicit partition tuple. */
  def describe(spark: SparkSession, paths: Seq[String],
               stats: Seq[(Int, String)] = Nil,
               partition: String => Seq[Option[Long]] = _ => Nil): Seq[DataFile] =
    footers(spark, paths, stats.map(_._2).distinct).map { f =>
      val bounds = stats.flatMap { case (id, c) =>
        f.bounds.get(c).map { case (mn, mx) =>
          (id, IcebergSingleValue.longBytes(mn), IcebergSingleValue.longBytes(mx))
        }
      }
      DataFile(f.path, f.size, f.rows, bounds, partition(f.path))
    }
}
