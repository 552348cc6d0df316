package graft

import org.apache.spark.sql.SparkSession

class GraftSessionSpec extends SparkTestBase {

  /** A builder that shows what `configure` set on it. */
  private final class Recording extends SparkSession.Builder {
    def conf: Map[String, String] = options.toMap
  }

  test("configure keeps the launcher's spark.ui.enabled and turns the UI off only by default") {
    val key = "spark.ui.enabled"
    val prior = sys.props.get(key)
    try {
      // spark-submit hands `--conf spark.ui.enabled=true` on as this property
      sys.props(key) = "true"
      val launched = new Recording
      GraftSession.configure(launched)
      assert(launched.conf.get(key) === None)
      assert(launched.conf.get("spark.sql.extensions") === Some("graft.functions.GraftExtensions"))
      sys.props -= key
      val bare = new Recording
      GraftSession.configure(bare)
      assert(bare.conf.get(key) === Some("false"))
    } finally prior match {
      case Some(v) => sys.props(key) = v
      case None => sys.props -= key
    }
  }

  test("a memo computes once per (session, key) and again on a new session") {
    val memo = new GraftSession.Memo[String, Integer]
    var computed = 0
    def get(s: SparkSession, k: String): Integer = memo(s, k) { computed += 1; computed }
    assert(get(spark, "a") === 1)
    assert(get(spark, "a") === 1)
    assert(get(spark, "b") === 2)
    val other = spark.newSession()
    assert(get(other, "a") === 3)
    assert(get(other, "a") === 3)
    assert(get(spark, "a") === 1)
  }
}
