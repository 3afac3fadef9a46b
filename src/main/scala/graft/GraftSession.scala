package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session builder: every main and the test base build
  * their session from it, then add only what is their own (master, app
  * name, shuffle fanout, UI).
  */
object GraftSession {

  /** Spark's LRU of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). One pass over
    * the 76 declared queries compiles 683 distinct classes (739 with the
    * stage id in class names), so the default evicts and recompiles on
    * every pass; 2000 is ≈2.7× the larger working set (SCALE.md §7).
    */
  val codegenCacheEntries = 2000

  /** UTC, AQE and the codegen cache. The cache size is a static conf,
    * and `CodeGenerator` reads it once, when the JVM first compiles
    * generated code: it counts only for the JVM's first session, built
    * before any query runs. Whole-stage classes are named without their
    * codegen stage id, which AQE numbers in the order stages finish, so
    * one pipeline is one cache entry wherever it lands in a plan.
    */
  def builder(): SparkSession.Builder = SparkSession.builder()
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
    .config("spark.sql.codegen.useIdInClassName", "false")
}
