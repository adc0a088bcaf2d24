package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The one home of derived session state in `graft.ops` (inferred
  * schemas, plan-shape counts, shared persisted intermediates). Each
  * value is a deterministic function of its lineage plus the identity
  * of its inputs, so one entry per (application, name) keeps the value
  * with the identity it was built under:
  *
  *  - an unchanged identity returns the SAME instance;
  *  - a changed identity (a table rewritten at the same path) rebuilds,
  *    unpersisting the superseded value if it is a `Dataset` — a
  *    concurrent reader of it while the files are rewritten is out of
  *    contract (rewrites go to a new path / TableIO snapshot);
  *  - entries of any other application (a stopped SparkContext) are
  *    dropped on the way in.
  *
  * Builds nest (a shared pair set's build reads its table through the
  * schema memo), so a build never runs inside a concurrent map's
  * `compute`, where a nested update is illegal: the get-or-build is one
  * reentrant lock. Ops are called from one driver thread.
  */
private[graft] object SessionMemo {

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (String, Any)]()

  def apply[T](spark: SparkSession, name: String, identity: String)(build: => T): T =
    synchronized {
      val app = spark.sparkContext.applicationId
      entries.keySet.removeIf(_._1 != app)
      val key = (app, name)
      entries.get(key) match {
        case (`identity`, value) => value.asInstanceOf[T]
        case prev =>
          prev match {
            case (_, ds: Dataset[_]) => ds.unpersist(blocking = false)
            case _ =>
          }
          val value = build
          entries.put(key, (identity, value))
          value
      }
    }

  /** `build`, persisted MEMORY_AND_DISK once per identity of the table
    * `dir/table.parquet` it derives from.
    */
  def persisted(spark: SparkSession, name: String, dir: String, table: String)(
      build: => DataFrame): DataFrame =
    apply(spark, s"$name:$dir", RelationalOps.layoutTag(spark, dir, table))(
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
}
