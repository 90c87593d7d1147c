package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** ONE read-layer-or-empty helper for the release operators: the
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
  def readOr(s: SparkSession, path: String, ddl: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.exists(p)) s.read.schema(StructType.fromDDL(ddl)).parquet(path)
    else s.createDataFrame(s.sparkContext.emptyRDD[Row], StructType.fromDDL(ddl))
  }
}
