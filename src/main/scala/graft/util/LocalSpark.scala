package graft.util

import org.apache.spark.sql.SparkSession

/** The one local-mode session configuration: every main and test suite
  * starts from this builder and adds only the configs it really needs
  * on top (e.g. a bench's `spark.sql.files.maxPartitionBytes`).
  */
object LocalSpark {

  def builder(cpus: Int, appName: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // large binary blobs x 4096-row default column batches = GB-scale
      // batch buffers; size the reader batch for the payload
      .config("spark.sql.parquet.columnarReaderBatchSize", "64")
      .config("spark.ui.enabled", "false")
}
