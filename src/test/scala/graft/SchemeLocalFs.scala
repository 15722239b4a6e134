package graft

import org.apache.spark.sql.SparkSession

/** The local file system under its own scheme, "graftfs": a path that a
  * library resolves through Hadoop `FileSystem` lands on local disk, while
  * `java.nio` cannot open it. A stand-in for HDFS or S3 that needs no
  * network. */
class SchemeLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${SchemeLocalFs.Scheme}:///")
  override def getScheme: String = SchemeLocalFs.Scheme
}

object SchemeLocalFs {
  val Scheme = "graftfs"

  /** Make `spark`'s Hadoop configuration resolve the scheme. */
  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[SchemeLocalFs].getName)

  /** `localPath` (absolute) under the scheme. */
  def uri(localPath: String): String = s"$Scheme://$localPath"
}
