package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite run (Spark sessions
  * are expensive; ScalaTest suites run sequentially in the forked
  * JVM), under the engine's profile at a fixed 4 cores. */
object TestSession {
  lazy val spark: SparkSession = Session.profile(cores = 4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run `body` against a fresh, isolated artifact root (the
    * graft.index.dir system property every IndexStore-derived layout
    * keys on). One shared helper — suites each re-defining it is
    * global-mutable-state drift waiting to happen. */
  def withIndexRoot[A](prefix: String)(body: => A): A = {
    sys.props("graft.index.dir") = tmpDir(prefix)
    try body
    finally { sys.props.remove("graft.index.dir"); () }
  }
}
