package graft

/** The single materialization policy: every shared-intermediate
  * materialization routes through Tables.mat, which is `localCheckpoint`.
  */
class MatPolicySpec extends SparkSpec {

  test("Tables.mat cuts lineage to a local checkpoint") {
    import org.apache.spark.sql.functions._
    val df = Tables.mat(spark.range(10).toDF("v")
      .withColumn("w", col("v") * 2))
    // a locally-checkpointed frame scans executor-local blocks, so its RDD
    // lineage bottoms out in a LocalCheckpointRDD, not the range scan
    val lineage = df.queryExecution.toRdd.toDebugString
    assert(lineage.contains("LocalCheckpointRDD"), lineage)
    assert(!lineage.contains("RangeExec") && !lineage.contains("Range"),
      lineage)
    assert(df.collect().map(_.getLong(1)).sorted.toSeq ==
      (0L until 10L).map(_ * 2))
  }
}
