package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

package object sources {

  /** The files `glob` matches, listed in the calling process through the Hadoop
    * FS (no Spark job) and sorted, so a reader gets concrete paths —
    * handed the glob itself, Spark probes it for a streaming-sink
    * metadata directory and logs a WARN with a FileNotFoundException on
    * every load. Fails when nothing matches. */
  private[sources] def globFiles(spark: SparkSession, glob: String): Seq[String] = {
    val pattern = new Path(glob)
    val files = Option(pattern.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .globStatus(pattern)).toSeq.flatten
      .map(_.getPath.toString).sorted
    require(files.nonEmpty, s"no files match $glob")
    files
  }

  /** Whether `path` exists, asked of the Hadoop FS (no Spark job): an
    * optional input is skipped without a reader's FileStreamSink WARN,
    * and a read error is never mistaken for absence. */
  private[sources] def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
