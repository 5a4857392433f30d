package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One-column string frame (null-safe) for scalar-expression tests. */
  def strings(col: String, values: Seq[String]): DataFrame = {
    val rows = values.map(v => Row(v))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField(col, StringType))))
  }
}
