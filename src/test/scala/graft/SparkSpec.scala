package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites (one per suite, lazy),
  * built by SessionEnv like every entry point's — so the suites run the
  * bench's session settings (codegen cache bound included) on their
  * own master and 4 shuffle partitions.
  *
  * SPARK_GRAFT_TEST_MASTER overrides the default local[4] — set it to
  * local-cluster[n,cores,mem] (with SPARK_HOME and SPARK_SCALA_VERSION
  * exported) to run a suite under a REAL multi-JVM master: separate
  * executor processes, real exchange/broadcast serialization. Both the
  * main and test class directories ride to executors via
  * extraClassPath (test closures live in test-classes). Suites that
  * observe executor state through in-JVM statics (SourcesSpec's
  * transport counters) only make sense on the default local master —
  * the dial is for plan-shape suites (BucketingSpec, SaltingSpec,
  * PlanSpec) whose claims are exactly the ones a single JVM can't
  * falsify.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    SessionEnv.builder("4", sys.env.getOrElse("SPARK_GRAFT_TEST_MASTER", "local[4]"),
      Seq("target/scala-2.13/classes", "target/scala-2.13/test-classes")
        .map(new java.io.File(_).getAbsolutePath))
      .appName(getClass.getSimpleName)
      .getOrCreate()

  lazy val sf0001 = "/root/testdata/sf0.001"

  def fixedClock: org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.lit(java.sql.Timestamp.valueOf("2024-06-01 12:00:00"))
}
