package graft

import graft.catalog.Catalog

/** Every persist has one owner: the `CacheScope` its caller opens. Each
  * catalog query, run through Bench's timed rep, leaves no cached plan
  * and no persistent RDD behind. */
class CacheLifetimeSpec extends SparkSpec {

  override def beforeAll(): Unit = { super.beforeAll(); dropCached() }

  private def leftovers: String =
    s"plans cached: ${!spark.sharedState.cacheManager.isEmpty}, " +
      s"persistent RDDs: ${spark.sparkContext.getPersistentRDDs.keys.toSeq.sorted.mkString(",")}"

  Catalog.all.foreach { q =>
    test(s"${q.name} leaves nothing cached after Bench's timed rep") {
      try {
        assert(Bench.timedRep(spark, sf(), q) >= 0, s"${q.name} failed")
        assert(nothingCached, leftovers)
      } finally dropCached() // one leak must not fail the queries after it
    }
  }
}
