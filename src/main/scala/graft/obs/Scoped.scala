package graft.obs

import org.apache.spark.sql.SparkSession

/** Runs a body with some session conf keys set and, if given, a job
  * description, then puts back exactly what the caller had: a set key
  * gets its value back, an unset key is unset again (`getAll` holds
  * only explicit settings; `conf.get` would report the default and
  * leave it explicitly set), and the caller's job description returns,
  * `null` included, even when the body changed it.
  */
private[graft] object Scoped {
  def apply[T](spark: SparkSession, description: Option[String],
               conf: (String, String)*)(body: => T): T = {
    val sc = spark.sparkContext
    val callerDesc = sc.getLocalProperty("spark.job.description")
    val callerConf = conf.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    description.foreach(sc.setJobDescription)
    try body
    finally {
      callerConf.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      sc.setJobDescription(callerDesc)
    }
  }
}
