package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/** The benchmark's row-level change-feed read. No public reader exposes
  * `_change_type` yet (the `changesFrom` scan option returns added files
  * only), so this benchmark-side object reaches the engine's own
  * [[ManifestTable.changes]] from inside its package. */
object ChangeFeedReader {
  /** Change rows per `_change_type` in snapshots (from, to]. */
  def counts(spark: SparkSession, dir: String, from: Int, to: Int): Map[String, Long] =
    ManifestTable.changes(spark, Paths.get(dir), from, to)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
}
