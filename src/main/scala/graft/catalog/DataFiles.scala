package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

import graft.catalog.RestCatalogClient.DataFile

/** Written parquet files → the [[DataFile]] entries a commit registers:
  * length, record count and per-column min/max bounds, all read from
  * the files' FOOTERS (row data is never read). One distributed job
  * opens each footer once, whatever the number of stats columns. */
object DataFiles {

  /** One footer's facts: file length, row count, and the min/max of
    * each requested column whose footer carries comparable INT64/INT32
    * statistics (other columns are absent from `bounds`). */
  private[graft] final case class Footer(path: String, size: Long, rows: Long,
                                         bounds: Map[String, (Long, Long)])

  /** Footers of `paths`, in order, harvested as one Spark job (a wide
    * commit has ~10^5 footers; a driver sweep would dominate it). */
  private[graft] def footers(spark: SparkSession, paths: Seq[String],
                             columns: Seq[String]): Seq[Footer] = {
    if (paths.isEmpty) return Nil
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
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
            val bounds = columns.flatMap { c =>
              val longs = blocks.flatMap(_.getColumns.asScala)
                .filter(_.getPath.toDotString == c)
                .map(_.getStatistics)
                .filter(s => s != null && s.hasNonNullValue)
                .flatMap { s =>
                  (s.genericGetMin, s.genericGetMax) match {
                    case (mn: java.lang.Long, mx: java.lang.Long) =>
                      Some((mn.longValue, mx.longValue))
                    case (mn: java.lang.Integer, mx: java.lang.Integer) =>
                      Some((mn.longValue, mx.longValue))
                    case _ => None
                  }
                }
              if (longs.isEmpty) None
              else Some(c -> (longs.map(_._1).min, longs.map(_._2).max))
            }.toMap
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
