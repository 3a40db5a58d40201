package graft

import org.apache.spark.sql.SparkSession

package object tools {

  /** A tool's session: `SPARK_GRAFT_CPUS` task threads when that is set,
    * else [[graft.core.Graft.session]]'s own `local[*]` default. */
  def toolSession(appName: String): SparkSession =
    sys.env.get("SPARK_GRAFT_CPUS")
      .fold(graft.core.Graft.session(appName))(cpus =>
        graft.core.Graft.session(appName, s"local[$cpus]"))
}
