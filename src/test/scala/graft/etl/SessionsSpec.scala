package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.SparkSession

/** The session contract: the native `graft_*` functions come with the
  * session conf [[Sessions.builder]] sets, on every session of the
  * context, with no registration call — and the test session runs the
  * conf that ships. */
class SessionsSpec extends SparkSpec {

  test("graft_* resolves unregistered on the shared, new and rebuilt sessions; SparkSpec runs the factory conf") {
    val shared = spark
    def dot(s: SparkSession): Double = s.sql(
      "SELECT graft_dot_f32(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), " +
        "array(CAST(3 AS FLOAT), CAST(4 AS FLOAT)))").head().getDouble(0)

    assert(shared.conf.get("spark.sql.extensions") == "graft.functions.GraftExtensions")
    assert(shared.conf.get("spark.sql.files.maxPartitionBytes") == Sessions.maxPartitionBytes)
    assert(shared.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold") == "128")

    assert(dot(shared) == 11.0)
    // the path Loader's isolated writes and StateBackend.isolatedStreamSession take
    assert(dot(shared.newSession()) == 11.0)
    try {
      // a cleared active/default forces getOrCreate to construct a NEW
      // session over the existing context (as DurableCatalogSpec does)
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val rebuilt = SparkSession.builder().getOrCreate()
      assert(rebuilt ne shared)
      assert(dot(rebuilt) == 11.0)
    } finally {
      // hand the shared session back to the other suites
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
