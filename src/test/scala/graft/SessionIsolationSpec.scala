package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.functions._

/** Streaming rows run on sessions of their own: the caller's session conf
  * never changes while they run, so a batch query sharing that session
  * gets the same result as it does alone.
  */
class SessionIsolationSpec extends SparkSpec {

  private val watched = Seq("spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.providerClass")

  // rows per pinned partition: the grouping follows the session's shuffle
  // partition count, so a flip of that count under the query shows up in
  // the result
  private def batch(): Seq[(Int, Long)] =
    Tables.pinnedRepartition(Tables.orders(spark, sfDir), col("o_orderkey"))
      .groupBy(spark_partition_id().as("p")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq

  test("streaming rows leave the caller's session conf alone under a concurrent batch query") {
    val serial = batch()
    assert(serial.size > 1, serial)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val done = new AtomicBoolean(false)
    try {
      val seen = watched.map(k =>
        k -> ConcurrentHashMap.newKeySet[Option[String]]()).toMap
      val watcher = Future {
        while (!done.get) {
          watched.foreach(k => seen(k).add(spark.conf.getOption(k)))
          Thread.sleep(1)
        }
      }
      val streams = Future {
        try Seq("w34_stream_ttl_dedup_e2e", "w13_stream_dedup_e2e")
          .map(n => n -> SparkEntry.queries(n)(spark, sfDir).count())
        finally done.set(true)
      }
      val batches = Future {
        val runs = Seq.newBuilder[Seq[(Int, Long)]]
        do runs += batch() while (!done.get)
        runs.result()
      }
      val counts = Await.result(streams, 120.seconds)
      val runs = Await.result(batches, 120.seconds)
      Await.result(watcher, 120.seconds)
      counts.foreach { case (n, c) => assert(c > 0, n) }
      runs.foreach(r => assert(r == serial))
      watched.foreach(k =>
        assert(seen(k).size == 1, s"$k changed while streams ran: ${seen(k)}"))
    } finally {
      done.set(true) // a timed-out wait must not leave the loops running
      pool.shutdownNow()
    }
  }

  test("a streaming row's own session keeps the caller's zone, extensions and tuning") {
    val before = watched.map(spark.conf.getOption)
    val own = queries.StreamingE2e.ownSession(spark,
      "spark.sql.streaming.stateStore.providerClass" -> "custom")
    assert(own ne spark)
    assert(watched.map(own.conf.getOption) == Seq(Some("1"), Some("custom")))
    assert(watched.map(spark.conf.getOption) == before)
    assert(own.conf.get("spark.sql.session.timeZone") == "UTC")
    Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.files.openCostInBytes",
      "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.join.preferSortMergeJoin",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
      .foreach(k => assert(own.conf.get(k) == spark.conf.get(k), k))
    assert(own.catalog.functionExists("vec_dot"))
  }
}
