package graft.jobs

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

object TableIO {
  /** Drop a (possibly db-qualified) managed table AND its warehouse
    * directory — a fresh session's in-memory catalog forgets tables but
    * their dirs persist, so DROP alone leaves LOCATION_ALREADY_EXISTS
    * landmines. Shared by every table-writing site. */
  def dropWithLocation(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // db-qualified names live under <warehouse>/<db>.db/<table>
    val rel = table.toLowerCase.split('.') match {
      case Array(db, t) => s"$db.db/$t"
      case _ => table.toLowerCase
    }
    val loc = new Path(spark.conf.get("spark.sql.warehouse.dir"), rel)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(loc, true)
  }

  /** Overwrite a managed table rerun-safely across fresh sessions: the
    * in-memory catalog forgets tables between JVMs but their warehouse
    * directories persist, so a bare CTAS/saveAsTable would fail with
    * LOCATION_ALREADY_EXISTS. Drop, clear the stale location, then save.
    */
  def overwrite(spark: SparkSession, df: DataFrame, table: String): Unit = {
    dropWithLocation(spark, table)
    df.write.mode("overwrite").saveAsTable(table)
  }
}
