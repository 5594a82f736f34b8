package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites: the mains' own session
  * ([[GraftSession]]) on 4 cores. */
trait SparkSpec extends AnyFunSuite {
  // force the companion's catalog-path isolation at suite CONSTRUCTION: a
  // test whose first statement touches ops.Ddl (lookup/execute guards)
  // before `spark` would otherwise latch the repo-root catalog file
  SparkSpec.init
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"
}

object SparkSpec {
  // Isolate the persistent DDL catalog per test JVM: without this, suites
  // that create keyed tables (li_keyed, ddl_rt, ...) persist them into the
  // repo's default spark-warehouse/graft_catalog.json, leaking fixture
  // paths into later shell/bench sessions. Individual tests that exercise
  // persistence explicitly set (and restore) their own path on top. The
  // directory, with the stores beside the catalog, goes when the JVM exits.
  sys.props.getOrElseUpdate("graft.catalog.path",
    ops.scratchDir("graft_test_cat").resolve("graft_catalog.json").toString)

  /** Cheap handle whose access runs this object's initializer (the
    * catalog-path prop above) — referenced from the trait constructor. */
  val init: Unit = ()

  lazy val session: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
