package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType

/** The layer I/O of the batch DAGs.
  *
  * [[write]] is the one write-and-count helper. [[readOr]] is ONE
  * read-layer-or-empty helper for the release operators: the
  * exists-check and the empty-frame fallback live here, and the
  * declared DDL is always APPLIED to the read. A layer can legally
  * hold a partition with zero parquet files (an adds-free batch under
  * a hive-partitioned write), where inference throws, and discovery
  * guesses a partition column's width from its values. So the DDL
  * lists the partition columns too (it pins `batch` to BIGINT) and
  * must equal the schema the layer's writer produces. A missing layer
  * reads as an empty frame of the DDL's schema.
  */
private[graft] object LayerIO {
  /** Write the layer and return its rows, counted ON the writing job
    * (a failed write throws before the count is read), then prime
    * [[graft.Tables.read]] with its schema: its readers infer nothing. */
  def write(df: DataFrame, path: String): Long = {
    val obs = Observation()
    // observe sits ABOVE the whole plan (any Sort included) so a
    // range-partitioner sampling pass can't double-fire it
    df.observe(obs, count(lit(1)).as("rows")).write.mode("overwrite").parquet(path)
    graft.Tables.remember(df.sparkSession, path, df.schema)
    obs.get("rows").asInstanceOf[Long]
  }

  def readOr(s: SparkSession, path: String, ddl: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.exists(p)) s.read.schema(StructType.fromDDL(ddl)).parquet(path)
    else s.createDataFrame(s.sparkContext.emptyRDD[Row], StructType.fromDDL(ddl))
  }
}
