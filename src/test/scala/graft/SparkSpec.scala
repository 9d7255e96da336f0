package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. One session per JVM (sbt forks one
  * test JVM), built by the same factory as Verify/Bench. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/$name"
  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  // 16 cores, not the host's count: the Spark-bound suites scale with
  // cores (a full test run hit its wall-clock budget at 8), and
  // nothing in the suite keys on the thread count (partition-count
  // asserts are all explicit repartition values). Always
  // local: the suite ignores a SPARK_GRAFT_MASTER set for deployment.
  lazy val session: SparkSession = GraftSession(cpus = 16, master = None)
}
