package org.apache.spark.sql

/** Test access to `SparkSessionExtensions`' package-private function
  * registration, the step a session configured with
  * `spark.sql.extensions` runs when it builds its function registry.
  */
object ExtensionsBridge {

  /** A new session of `spark`'s context whose function registry holds
    * the builtins plus the functions `extensions` injects, and nothing
    * registered any other way.
    */
  def sessionWith(spark: SparkSession, extensions: SparkSessionExtensions => Unit): SparkSession = {
    val ext = new SparkSessionExtensions
    extensions(ext)
    val s = spark.newSession()
    ext.registerFunctions(s.sessionState.functionRegistry)
    s
  }
}
