package graft

import graft.util.LocalSpark
import org.apache.spark.sql.SparkSession

/** The test suites' local[4] session, built by the main factory. Suites
  * run one after another in one forked JVM and share its SparkContext.
  */
trait SparkSpec {

  lazy val spark: SparkSession = session()

  /** The running session, or a fresh one once a main under test has
    * stopped it (Cli.main stops its session on exit).
    */
  protected def session(): SparkSession =
    LocalSpark.builder(4, getClass.getSimpleName).getOrCreate()
}
