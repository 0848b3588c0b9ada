package graft.olhovivo

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session + scratch dirs for suites. One session per suite
  * (lazy) — the same `GraftSession.local` the benchmark harness runs —
  * scratch under target/ (gitignored, inside the repo). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = graft.GraftSession.local("4")

  def scratchDir(prefix: String): Path = {
    val base = Paths.get("target", "test-scratch")
    Files.createDirectories(base)
    Files.createTempDirectory(base, prefix)
  }

  /** Occurrences of a token in a printed plan (shared by the plan-audit
    * assertions across suites). */
  def countOf(s: String, token: String): Int =
    s.sliding(token.length).count(_ == token)
}

object SparkTestBase {
  /** Suites share ONE SparkSession (getOrCreate) and run in parallel, so
    * any test that mutates session-global conf (e.g. the durable
    * checkpoint dir) must hold this lock for the set→use→unset span.
    * Alias of the LIBRARY's lock so library code that temporarily
    * resizes conf (StreamingOps.withStatePartitions) serializes against
    * test-side conf mutation on the same monitor. */
  val sessionConfLock: Object = graft.GraftSession.sessionConfLock
}
