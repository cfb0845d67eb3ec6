package org.apache.spark.sql

/** How many plans the session's CacheManager holds, so a spec can
  * assert that an operation leaves no persisted frame behind. The
  * entry list is private to CacheManager, hence the reflective read. */
object CachedPlanCount {
  def apply(spark: SparkSession): Int = {
    val cm = spark.asInstanceOf[classic.SparkSession]
      .sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
  }
}
