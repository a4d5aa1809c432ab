package graft

import org.apache.spark.sql.SparkSession

/** The cluster-hygiene defaults ([[Service.clusterHygiene]]) must (1) land
  * on the builder, (2) yield to an explicit operator `--conf` (system
  * property), and (3) actually hold on a session created through them —
  * both keys only apply at context creation (cleaner = context conf,
  * plan-string bound = static SQL conf), so a post-hoc `conf.set` cannot
  * retrofit them; the builder is the one place they work.
  */
class ServiceHygieneSpec extends SparkSpec {

  /** Builder options via the public-bytecode `options()` accessor — the
    * builder has no read API at Scala level.
    */
  private def optionsOf(b: SparkSession.Builder): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.mutable.HashMap[String, String]]
      .toMap
  }

  test("withClusterHygiene sets the defaults on the builder") {
    val opts = optionsOf(Service.withClusterHygiene(SparkSession.builder()))
    assert(opts("spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
    assert(opts("spark.sql.maxPlanStringLength") == (8 * 1024 * 1024).toString)
    assert(opts("spark.sql.codegen.cache.maxEntries") == "5000")
  }

  test("an explicit system-property conf wins over the default, per key") {
    val key = "spark.sql.maxPlanStringLength"
    sys.props(key) = "123456"
    try {
      val opts = optionsOf(Service.withClusterHygiene(SparkSession.builder()))
      // the overridden key is NOT set by the helper (the property flows to
      // the SparkConf on its own); the other default still applies
      assert(!opts.contains(key))
      assert(opts("spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
    } finally sys.props -= key
  }

  test("a session built through the hygiene carries both confs") {
    // the shared test context is created through withClusterHygiene
    // (SparkSpec / GraftExtensionsSpec), so the context-level and static
    // confs are assertable on the live session
    assert(spark.sparkContext.getConf
      .get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
    assert(spark.conf.get("spark.sql.maxPlanStringLength") ==
      (8 * 1024 * 1024).toString)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
  }
}
